"""SQL front door: the RECOMMEND clause and recommender DDL as SQL.

The reference extends the PostgreSQL grammar
(``gram.y:2444-2488`` for CREATE/DROP RECOMMENDER,
``gram.y:8874-8948`` for the RECOMMEND clause between FROM and WHERE).
Spark's parser cannot be extended from PySpark, so this module is a
pre-parser (the analog of ``transformRecommendClause``,
``parse_rec.c:56-112``): it lifts the RECOMMEND clause out of the
statement, computes the scored DataFrame through the engine, registers
it as a temp view under the events table's alias, and hands the
remaining, now-plain SQL to ``spark.sql``.

The reference splits the WHERE into user-only vs residual conjuncts at
parse time (TRUE-substitution, ``parse_rec.c:1109-1211``) so user
predicates prune *before* scoring. Here the scored view is lazy, so
Catalyst performs exactly that split automatically: predicates on the
user column push down through the score join into the model build.
``_split_where`` is retained for explicit DataFrame-API callers.

Supported statements (the whole reference regression suite,
``PostgreSQL/recdb_regression_test.sql``)::

    CREATE RECOMMENDER <name> ON <table>
        USERS FROM <ucol> ITEMS FROM <icol> EVENTS FROM <ecol>
        USING <method>
    DROP RECOMMENDER <name>
    SELECT <cols> FROM <item> [alias][, <item2> [alias2]...]
                              [JOIN <item2> [alias2] ON <cond> ...]
        RECOMMEND [a.]<icol> TO [a.]<ucol> ON [a.]<ecol> USING <method>
        [WHERE ...] [ORDER BY ...] [LIMIT k]

where each FROM <item> is a table name or a parenthesized subquery
``(SELECT ...) alias``. A subquery may also BE the events source the
RECOMMEND columns qualify to: it is trained over on-the-fly (the
reference disables all recommend-time subquery optimizations —
``allpaths.c:1533-1535``, ``subselect.c:1460`` — so there is no
materialized substitution to resolve; OP_GENERATE over the derived
table is the analog).

Like the reference (validateClauses, ``parse_rec.c:119-157``),
DISTINCT / INTO / GROUP BY / HAVING / WINDOW / FOR / WITH are rejected
in a RECOMMEND statement with the reference's error message.
"""

from __future__ import annotations

import logging
import re
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from recdb_postgresql_spark.engine import RecEngine

logger = logging.getLogger("recdb_postgresql_spark.recsql")

_CREATE_RE = re.compile(
    r"^\s*CREATE\s+RECOMMENDER\s+(?P<name>\w+)\s+ON\s+(?P<table>\w+)\s+"
    r"USERS\s+FROM\s+(?P<ucol>\w+)\s+ITEMS\s+FROM\s+(?P<icol>\w+)\s+"
    r"EVENTS\s+FROM\s+(?P<ecol>\w+)\s+USING\s+(?P<method>\w+)\s*;?\s*$",
    re.IGNORECASE)
_DROP_RE = re.compile(r"^\s*DROP\s+RECOMMENDER\s+(?P<name>\w+)\s*;?\s*$",
                      re.IGNORECASE)
_REC_RE = re.compile(
    r"^\s*SELECT\s+(?P<select>.+?)\s+FROM\s+(?P<from>.+?)\s+"
    r"RECOMMEND\s+(?P<icol>[\w.]+)\s+TO\s+(?P<ucol>[\w.]+)\s+"
    r"ON\s+(?P<ecol>[\w.]+)\s+USING\s+(?P<method>\w+)"
    r"(?P<rest>\s+.*?)?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)


def _top_level_conjuncts(where: str) -> Optional[list[str]]:
    """Split on AND at parenthesis depth 0 only, skipping quoted spans.
    Returns None when a top-level OR is present: ``a = 1 OR b = 2 AND
    c = 3`` parses as ``a OR (b AND c)``, so splitting its ANDs would
    change semantics — the caller must then treat the whole clause as
    residual.

    Single-quoted literals (with ``''`` escapes) and double-quoted
    identifiers are opaque: ``name = 'rock AND roll'`` is ONE conjunct,
    and an ``'OR'`` inside a literal does not force the residual path."""
    up = where.upper()
    depth = 0
    cuts, has_or = [], False
    i = 0
    while i < len(up):
        c = up[i]
        if c in ("'", '"'):
            q = c
            i += 1
            while i < len(up):
                if up[i] == q:
                    if q == "'" and i + 1 < len(up) and up[i + 1] == "'":
                        i += 2  # '' escape inside a string literal
                        continue
                    i += 1
                    break
                i += 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and c.isspace():
            m = re.match(r"\s+(AND|OR)\s+", up[i:])
            if m:
                if m.group(1) == "OR":
                    has_or = True
                else:
                    cuts.append((i, i + m.end()))
                i += m.end()
                continue
        i += 1
    if has_or:
        return None
    parts, start = [], 0
    for a, b in cuts:
        parts.append(where[start:a].strip())
        start = b
    parts.append(where[start:].strip())
    return [p for p in parts if p]


def _split_where(where: Optional[str], ucol: str) -> tuple[Optional[str], Optional[str]]:
    """Split top-level AND conjuncts into user-only vs residual — the
    TRUE-substitution rewrite of ``parse_rec.c:1109-1211``. Used by
    DataFrame-API callers; the SQL path gets this from Catalyst.
    A clause with a top-level OR is not conjunct-splittable and comes
    back whole as the residual."""
    if not where:
        return None, None
    conjuncts = _top_level_conjuncts(where)
    if conjuncts is None:
        return None, where
    keywords = {"and", "or", "not", "in", "like", "ilike", "between",
                "is", "null", "true", "false"}
    user_parts, rest_parts = [], []
    for c in conjuncts:
        # words inside string literals are values, not identifiers:
        # ``u = 'the thing'`` must still classify as a user predicate
        unquoted = re.sub(r"'(?:[^']|'')*'", "''", c)
        idents = {x for x in re.findall(r"[A-Za-z_]\w*", unquoted)
                  if x.lower() not in keywords and not x.isdigit()}
        (user_parts if idents <= {ucol} else rest_parts).append(c)
    return (" AND ".join(user_parts) or None, " AND ".join(rest_parts) or None)


_JOIN_KW_RE = re.compile(
    r"\b(?:NATURAL\s+)?(?:INNER\s+|LEFT\s+(?:OUTER\s+)?|RIGHT\s+(?:OUTER\s+)?"
    r"|FULL\s+(?:OUTER\s+)?|CROSS\s+)?JOIN\b",
    re.IGNORECASE)


class _FromItem:
    """One FROM item: a table or a parenthesized subquery, with its
    alias and the [start, end) span of the item core (table/subquery +
    alias, EXCLUDING any trailing ON condition) in the FROM text."""

    __slots__ = ("table", "alias", "subquery", "start", "end")

    def __init__(self, table, alias, subquery, start, end):
        self.table = table          # None for subqueries
        self.alias = alias
        self.subquery = subquery    # inner SELECT text, None for tables
        self.start = start
        self.end = end


def _scan_state(s: str):
    """depth[i] = paren depth BEFORE s[i]; quoted[i] = inside a quoted
    span (single-quoted literal with '' escapes, or double-quoted
    identifier)."""
    depth = [0] * (len(s) + 1)
    quoted = [False] * (len(s) + 1)
    d = 0
    inq = None
    i = 0
    while i < len(s):
        depth[i] = d
        c = s[i]
        if inq:
            quoted[i] = True
            if c == inq:
                if inq == "'" and i + 1 < len(s) and s[i + 1] == "'":
                    quoted[i + 1] = True
                    i += 2
                    depth[i - 1] = d
                    continue
                inq = None
        elif c in ("'", '"'):
            quoted[i] = True
            inq = c
        elif c == "(":
            d += 1
        elif c == ")":
            d -= 1
        i += 1
    depth[len(s)] = d
    return depth, quoted


def _parse_from(from_sql: str) -> list[_FromItem]:
    """``t1 a, (SELECT ...) b JOIN t3 AS c ON ...`` -> [_FromItem, ...]
    (alias defaults to the table name; ON conditions are not part of
    the item span). Splits on top-level commas/JOIN keywords only —
    commas and JOINs inside subqueries stay put."""
    depth, quoted = _scan_state(from_sql)

    def top_level(m_start: int) -> bool:
        return depth[m_start] == 0 and not quoted[m_start]

    seps = [(m.start(), m.end()) for m in _JOIN_KW_RE.finditer(from_sql)
            if top_level(m.start())]
    seps += [(i, i + 1) for i, c in enumerate(from_sql)
             if c == "," and top_level(i)]
    seps.sort()
    bounds, last = [], 0
    for a, b in seps:
        bounds.append((last, a))
        last = b
    bounds.append((last, len(from_sql)))

    out = []
    for seg_start, seg_end in bounds:
        seg = from_sql[seg_start:seg_end]
        # strip the ON condition: first top-level ON keyword in the seg
        on_at = None
        for m in re.finditer(r"\bON\b", seg, re.IGNORECASE):
            p = seg_start + m.start()
            if depth[p] == 0 and not quoted[p]:
                on_at = m.start()
                break
        core = seg[:on_at] if on_at is not None else seg
        stripped = core.strip()
        if not stripped:
            continue
        lead = seg_start + len(core) - len(core.lstrip())
        span_end = lead + len(stripped)
        if stripped.startswith("("):
            # subquery item: find the matching close paren
            d = 0
            close = None
            sub_abs = lead
            for j in range(sub_abs, span_end):
                if quoted[j]:
                    continue
                if from_sql[j] == "(":
                    d += 1
                elif from_sql[j] == ")":
                    d -= 1
                    if d == 0:
                        close = j
                        break
            if close is None:
                raise ValueError(f"unbalanced parentheses in FROM item {stripped!r}")
            inner = from_sql[sub_abs + 1:close]
            tail = from_sql[close + 1:span_end].split()
            alias = None
            if tail:
                alias = tail[-1] if tail[-1].upper() != "AS" else None
            if not alias:
                raise ValueError(
                    f"subquery FROM item needs an alias: {stripped!r}")
            out.append(_FromItem(None, alias, inner.strip(), lead, span_end))
        else:
            toks = stripped.split()
            table = toks[0]
            alias = (toks[-1] if len(toks) > 1 and toks[-1].upper() != "AS"
                     else table)
            out.append(_FromItem(table, alias, None, lead, span_end))
    return out


class RecSQL:
    """``RecSQL(engine).sql(query)`` — RecDB-flavored SQL over Spark.

    Tables resolve from the Spark catalog (temp views); statements
    without RecDB constructs fall through to ``spark.sql`` untouched.
    """

    _view_seq = 0

    def __init__(self, engine: RecEngine):
        self.engine = engine
        self.spark: SparkSession = engine.spark
        # R19 strategy label of the last RECOMMEND statement this
        # front door executed (GenerateRecommend / FilterRecommend /
        # IndexRecommend) — observable for tests and verbose logging
        self.last_strategy: Optional[str] = None

    def _try_view_route(self, m: re.Match, hit, ev, ucol: str, icol: str,
                        ecol: str) -> Optional[DataFrame]:
        """Return the stored RecView as the scored frame when the
        statement is PROVABLY exact over the per-user-capped view,
        else None (caller falls back to live/materialized scoring).

        Exactness: the view holds the top ``view_cap`` predictions per
        user. A statement whose residual WHERE references only the
        user column (so no item/score predicate can dig past the cap)
        and that ends ``ORDER BY <score> DESC LIMIT n`` with
        ``n <= view_cap`` is exact, because each row of a global
        top-n is within its own user's top-n. ``view_cap == 0``
        (full grid) is exact for any statement."""
        if "recview" not in getattr(hit, "model_tables", []):
            return None
        cap = getattr(hit, "view_cap", -1)
        if cap < 0:
            return None  # pre-cap manifest: cap unknown, never route
        # the RECOMMEND columns must be the ones the view stores
        if (hit.userkey, hit.itemkey, hit.eventval) != (ucol, icol, ecol):
            return None
        if cap > 0:
            rest = m["rest"] or ""
            tail = re.match(
                r"^\s*(?:WHERE\s+(?P<where>.*?))?\s*"
                r"ORDER\s+BY\s+(?P<obcol>[\w.]+)\s+DESC\s+"
                r"LIMIT\s+(?P<lim>\d+)\s*$",
                rest, re.IGNORECASE | re.DOTALL)
            if tail is None:
                return None
            if tail["obcol"].split(".")[-1].lower() != ecol.lower():
                return None
            if int(tail["lim"]) > cap:
                return None
            # residual WHERE must be user-only; identifiers may carry
            # the events alias as a qualifier (stripped for the check)
            where = tail["where"]
            if where:
                aliases = {a for a in (ev.alias, ev.table) if a}
                bare = re.sub(
                    r"\b(" + "|".join(re.escape(a) for a in aliases)
                    + r")\.", "", where, flags=re.IGNORECASE)
                _, residual = _split_where(bare, ucol)
                if residual is not None:
                    return None
        return self.engine.recommend_from_view(hit.name, allow_capped=True)

    @staticmethod
    def _validate_recommend(query: str, m: re.Match) -> None:
        """validateClauses (``parse_rec.c:119-157``): the reference is
        'very picky' — RECOMMEND composes with none of these clauses."""
        def err(clause: str):
            raise ValueError(
                f"RECOMMEND clause is not allowed with {clause} clause")
        if re.match(r"\s*WITH\b", query, re.IGNORECASE):
            err("WITH")
        if m is None:
            return
        if re.match(r"\s*DISTINCT\b", m["select"], re.IGNORECASE):
            err("DISTINCT")
        rest = m["rest"] or ""
        for pat, clause in ((r"\bGROUP\s+BY\b", "GROUP BY"),
                            (r"\bHAVING\b", "HAVING"),
                            (r"\bWINDOW\b", "WINDOW"),
                            (r"\bINTO\b", "INTO"),
                            (r"\bFOR\s+(UPDATE|SHARE)\b", "FOR")):
            if re.search(pat, rest, re.IGNORECASE):
                err(clause)

    def sql(self, query: str) -> Optional[DataFrame]:
        m = _CREATE_RE.match(query)
        if m:
            events = self.spark.table(m["table"])
            self.engine.create_recommender(
                m["name"].lower(), events, m["ucol"], m["icol"], m["ecol"],
                m["method"].lower(), events_name=m["table"].lower())
            return None
        m = _DROP_RE.match(query)
        if m:
            self.engine.drop_recommender(m["name"].lower())
            return None
        m = _REC_RE.match(query)
        if m:
            self._validate_recommend(query, m)
            return self._recommend(m)
        if re.match(r"\s*WITH\b.*\bRECOMMEND\b.*\bTO\b", query,
                    re.IGNORECASE | re.DOTALL):
            # a WITH-wrapped RECOMMEND misses _REC_RE by design
            self._validate_recommend(query, None)
        return self.spark.sql(query)

    def _recommend(self, m: re.Match) -> DataFrame:
        # one RECOMMEND per statement: the reference isolates set-op
        # leaves (analyze.c:1616) so each leaf carries at most one
        # clause; a second RECOMMEND in the remainder would be pasted
        # through un-rewritten and silently misread
        if re.search(r"\bRECOMMEND\b.*\bTO\b", m["rest"] or "",
                     re.IGNORECASE | re.DOTALL):
            raise ValueError(
                "only one RECOMMEND clause per statement is supported; "
                "run each set-op leaf separately and union the results")
        items = _parse_from(m["from"])
        # the events source is the one the RECOMMEND columns qualify
        # (events-table resolution, parse_rec.c:187-297)
        def split_qual(col: str) -> tuple[Optional[str], str]:
            return tuple(col.split(".", 1)) if "." in col else (None, col)  # type: ignore

        qual, ucol = split_qual(m["ucol"])
        _, icol = split_qual(m["icol"])
        _, ecol = split_qual(m["ecol"])
        if qual is None:
            ev = items[0]
        else:
            hits = [it for it in items if it.alias == qual or it.table == qual]
            if not hits:
                raise ValueError(
                    f"RECOMMEND qualifier {qual!r} not in FROM "
                    f"{[(it.table or '(subquery)', it.alias) for it in items]}")
            ev = hits[0]

        if ev.subquery is not None:
            # parenthesized FROM item as the events source: train over
            # the derived table, always on-the-fly. The reference keeps
            # subqueries OUT of its recommend optimizations (pushdown/
            # pull-up disabled, allpaths.c:1533-1535, subselect.c:1460),
            # so there is no materialized substitution to look up —
            # OP_GENERATE over the subquery output is the exact analog.
            events_df = self.spark.sql(ev.subquery)
            hit = None
        else:
            events_df = self.spark.table(ev.table)
            # materialized-model substitution (parse_rec.c:554-678): a
            # catalog hit on (eventtable, method) flips OP_GENERATE ->
            # OP_FILTER
            hit = self.engine.catalog.find(m["method"].lower(),
                                           ev.table.lower())
        scored = None
        if hit is not None:
            # IndexRecommend auto-route (R19 / execRecommend.c:151-294,
            # the read path the reference gates off at 935-940): when a
            # RecView is materialized AND the statement is provably
            # answerable from the capped view, substitute the stored
            # predictions instead of re-scoring. Exactness argument in
            # _try_view_route.
            scored = self._try_view_route(m, hit, ev, ucol, icol, ecol)
        if scored is not None:
            self.last_strategy = "IndexRecommend"
        else:
            self.last_strategy = ("FilterRecommend" if hit
                                  else "GenerateRecommend")
            scored = self.engine.recommend(
                events_df, ucol, icol, ecol,
                m["method"].lower(), name=hit.name if hit else None)
        if self.engine.verbose_queries:
            logger.info("RECOMMEND (SQL) %s strategy=%s method=%s plan=%s",
                        hit.name if hit else "<on-the-fly>",
                        self.last_strategy, m["method"].lower(),
                        self.engine.last_plan)

        RecSQL._view_seq += 1
        view = f"__rec_scored_{RecSQL._view_seq}"
        scored.createOrReplaceTempView(view)

        # swap the events item for the scored view IN PLACE (exact
        # span, so comma lists, JOIN ... ON syntax and sibling
        # subqueries survive verbatim); aliasing the view as the
        # original alias (or table name) keeps every qualified column
        # reference valid
        new_from = (m["from"][:ev.start] + f"{view} {ev.alias}"
                    + m["from"][ev.end:])
        rest = re.sub(r"\bILIKE\b", "ilike", m["rest"] or "", flags=re.IGNORECASE)
        plain = f"SELECT {m['select']} FROM {new_from}{rest}"
        try:
            return self.spark.sql(plain)
        finally:
            # spark.sql analyzes eagerly, so the returned frame no
            # longer needs the view; keeping it leaks one per statement
            self.spark.catalog.dropTempView(view)
