"""SQL front door: the RECOMMEND clause and recommender DDL as SQL.

The reference extends the PostgreSQL grammar
(``gram.y:2444-2488`` for CREATE/DROP RECOMMENDER,
``gram.y:8874-8948`` for the RECOMMEND clause between FROM and WHERE).
Spark's parser cannot be extended from PySpark, so this module lifts
the RECOMMEND clause out of the statement (the analog of
``transformRecommendClause``, ``parse_rec.c:56-112``) and lets the
session's parser read the plain statement that is left; everything the
rewrite needs is read from that parsed plan. The FROM is whatever
Spark's parser accepts (comma lists, every JOIN kind with ON, USING or
NATURAL, parenthesized subqueries). The events item is the FROM item
the RECOMMEND columns qualify, or the leftmost one. Its text span is
swapped for a temp view of the scored DataFrame under the same alias,
and the statement runs through ``spark.sql``.

The reference splits the WHERE into user-only vs residual conjuncts on
its parse tree (TRUE-substitution, ``parse_rec.c:1109-1211``) so user
predicates prune *before* scoring. Catalyst does not do that split for
us: a WHERE over the scored view does not reach the on-the-fly model
build. So on the on-the-fly route the user-only conjuncts go to
``RecEngine.recommend`` as ``user_where``, and the full WHERE still
runs over the scored view. On the parsed plan:

- the conjuncts are the ``And`` operands of the WHERE ``Filter``;
- a conjunct is user-only when every column it names is ``<ucol>`` or
  ``<alias>.<ucol>``, it calls no function but ``between`` and it
  holds no subquery; its source text, the alias cut from its columns,
  is what is pushed;
- nothing is pushed when the events source is a subquery, or when the
  events item is null-supplied: right of a LEFT, left of a RIGHT or
  either side of a FULL join, USING and NATURAL ones included (a
  null-accepting conjunct such as ``userid IS NULL`` would then turn
  matched rows into null-extended ones).

The parser is ``sessionState().sqlParser()`` over py4j, so the front
door needs classic PySpark, as ``RecEngine.explain`` does; its errors
surface as ``pyspark.errors.ParseException``, as from ``spark.sql``.

Supported statements (the whole reference regression suite,
``PostgreSQL/recdb_regression_test.sql``)::

    CREATE RECOMMENDER <name> ON <table>
        USERS FROM <ucol> ITEMS FROM <icol> EVENTS FROM <ecol>
        USING <method>
    DROP RECOMMENDER <name>
    SELECT <cols> FROM <from items>
        RECOMMEND [a.]<icol> TO [a.]<ucol> ON [a.]<ecol> USING <method>
        [WHERE ...] [ORDER BY ...] [LIMIT k]

A subquery ``(SELECT ...) alias`` may BE the events source: it is
trained over on-the-fly (the reference disables all recommend-time
subquery optimizations — ``allpaths.c:1533-1535``,
``subselect.c:1460`` — so there is no materialized substitution to
resolve; OP_GENERATE over the derived table is the analog).

Like the reference (validateClauses, ``parse_rec.c:119-157``),
DISTINCT / INTO / GROUP BY / HAVING / WINDOW / FOR / WITH are rejected
in a RECOMMEND statement with the reference's error message.
"""

from __future__ import annotations

import logging
import re
from typing import Optional

from pyspark.errors import ParseException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
    r"^\s*SELECT\s+(?P<select>.+?)\s+FROM\s+.+?"
    r"(?P<rec>\s+RECOMMEND\s+(?P<icol>[\w.]+)\s+TO\s+(?P<ucol>[\w.]+)\s+"
    r"ON\s+(?P<ecol>[\w.]+)\s+USING\s+(?P<method>\w+))"
    r"(?P<rest>\s+.*?)?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)

# the expression nodes that hold a subquery, and window functions
_SUBQUERIES = ("ScalarSubquery", "Exists", "ListQuery", "InSubquery")
_WINDOWS = ("WindowExpression", "UnresolvedWindowExpression")


def _seq(seq) -> list:
    """A Scala Seq (a node's ``children()``, ``nameParts()``) as a list."""
    return [seq.apply(k) for k in range(seq.size())]


def _own_span(node) -> tuple[int, int]:
    """[start, stop] (stop inclusive) of the text ``node`` was parsed
    from."""
    o = node.origin()
    return o.startIndex().get(), o.stopIndex().get()


def _span(node) -> tuple[int, int]:
    """The span of a query and its whole subtree (its ORDER BY ...
    LIMIT is a parent of its SELECT)."""
    lo, hi = _own_span(node)
    for c in _seq(node.children()):
        a, b = _span(c)
        lo, hi = min(lo, a), max(hi, b)
    return lo, hi


def _holds(node, kinds: tuple) -> bool:
    """Whether an expression tree has a node of one of ``kinds``."""
    return node.nodeName() in kinds or any(
        _holds(c, kinds) for c in _seq(node.children()))


def _from_items(node, nulled: bool = False):
    """(item, alias, null-supplied) for each FROM leaf under ``node``,
    left to right. A side of a join is null-supplied when the join
    null-extends it, or when the join itself sits on a null-supplied
    side."""
    kind = node.nodeName()
    if kind == "SubqueryAlias":
        yield node, node.alias(), nulled
        return
    if kind == "UnresolvedRelation":
        yield node, node.multipartIdentifier().last(), nulled
        return
    sides = (False, False)
    if kind == "Join":
        # "LEFT OUTER", "USING FULL OUTER", "NATURAL RIGHT OUTER", ...
        words = set(node.joinType().sql().split())
        full = "FULL" in words
        sides = (full or "RIGHT" in words, full or {"LEFT", "OUTER"} <= words)
    for k, child in enumerate(_seq(node.children())):
        yield from _from_items(child, nulled or k < 2 and sides[k])


def _conjuncts(cond) -> list:
    if cond.nodeName() == "And":
        return [c for k in _seq(cond.children()) for c in _conjuncts(k)]
    return [cond]


class _Statement:
    """A RECOMMEND statement as Spark's parser reads it once the
    RECOMMEND clause is lifted out (``plain``): the events item, the
    WHERE conjuncts and what of them the model build can take."""

    def __init__(self, parser, m: re.Match):
        self.parser = parser
        self.method = m["method"].lower()
        qual, self.ucol = m["ucol"].rpartition(".")[::2]
        qual = qual.lower()
        self.icol = m["icol"].rpartition(".")[2]
        self.ecol = m["ecol"].rpartition(".")[2]
        at = m.start("rec")
        self.plain = m.string[:at] + (m["rest"] or "")
        self.plan = parser.parsePlan(self.plain)
        # the query block whose FROM the RECOMMEND clause ended: the
        # innermost SELECT whose span holds that place (a set-op leg or
        # a FROM subquery when the clause sits in one)
        self.block, todo = None, [self.plan]
        while todo:
            node = todo.pop()
            if node.nodeName() == "Project":
                lo, hi = _own_span(node)
                if not lo < at <= hi + 1:
                    continue
                self.block = node
            todo += _seq(node.children())
        if self.block is None:
            raise ValueError("RECOMMEND must follow the FROM of a SELECT")
        below = self.block.child()
        self.where = below.condition() if below.nodeName() == "Filter" else None
        self.from_ = below.child() if self.where is not None else below

        found = next((it for it in _from_items(self.from_)
                      if not qual or it[1].lower() == qual), None)
        if found is None:
            names = [a for _, a, _ in _from_items(self.from_)]
            raise ValueError(f"RECOMMEND qualifier {qual!r} not in FROM "
                             f"{names}")
        self.item, self.alias, self.null_supplied = found
        self.span = _own_span(self.item)
        rel = (self.item.child() if self.item.nodeName() == "SubqueryAlias"
               else self.item)
        self.table, self.subquery = None, None
        if rel.nodeName() == "UnresolvedRelation":
            self.table = rel.tableName()
        elif self.alias.startswith("__auto_generated_subquery_name"):
            raise ValueError("subquery FROM item needs an alias: "
                             + self.plain[self.span[0]:self.span[1] + 1])
        else:
            lo, hi = _span(rel)
            self.subquery = self.plain[lo:hi + 1]
        self.conjuncts = _conjuncts(self.where) if self.where is not None else []

    def _names(self, parts: list[str], col: str) -> bool:
        """Whether name parts name ``col`` of the events item."""
        low = [p.lower() for p in parts]
        return low in ([col.lower()], [self.alias.lower(), col.lower()])

    def _user_only(self, node, cuts: list) -> bool:
        """Whether ``node`` names no column but the user column, calls
        no function but ``between`` and holds no subquery; appends
        (span, name) for each column to cut the events alias from."""
        kind = node.nodeName()
        if kind == "Literal":
            return True
        if kind == "UnresolvedAttribute":
            parts = _seq(node.nameParts())
            if not self._names(parts, self.ucol):
                return False
            if len(parts) == 2:
                cuts.append((_own_span(node), parts[1]))
            return True
        if kind in _SUBQUERIES or kind == "UnresolvedFunction" and \
                _seq(node.nameParts()) != ["between"]:
            return False
        return all(self._user_only(c, cuts) for c in _seq(node.children()))

    def _pushed(self, conj) -> Optional[str]:
        """The text of a user-only conjunct, events alias cut, or None."""
        cuts: list = []
        if not self._user_only(conj, cuts):
            return None
        # the text ends where the conjunct does and starts at the least
        # start down its first operands: a predicate's own span starts
        # at its keyword (``IN (1, 2)``)
        (lo, hi), kids = _own_span(conj), conj.children()
        while kids.size():
            node = kids.apply(0)
            lo, kids = min(lo, _own_span(node)[0]), node.children()
        # the "(" of a parenthesized predicate operand is in no node's
        # span (``(userid) IN (1)`` spans ``userid) IN (1)``): push only
        # text that reads back as the conjunct
        try:
            if not self.parser.parseExpression(
                    self.plain[lo:hi + 1]).equals(conj):
                return None
        except ParseException:
            return None
        text, at = "", lo
        for (a, b), col in sorted(cuts):
            text, at = text + self.plain[at:a] + col, b + 1
        text += self.plain[at:hi + 1]
        # an OR operand of AND was parenthesized in the WHERE
        return f"({text})" if conj.nodeName() == "Or" else text

    def pushdown(self) -> tuple[Optional[str], str]:
        """(user-only conjuncts to push into an on-the-fly build, or
        None; what was pushed or why nothing was). Pushing a conjunct
        that the full WHERE applies again only drops scored rows the
        WHERE would drop — unless the events item is null-supplied by
        an outer join, where pruning it changes which rows get
        null-extended."""
        if self.subquery is not None:
            return None, "none (subquery events source)"
        if self.where is None:
            return None, "none (no WHERE)"
        if self.null_supplied:
            return None, "none (outer join)"
        pushed = [t for t in map(self._pushed, self.conjuncts) if t]
        if pushed:
            return " AND ".join(pushed), " AND ".join(pushed)
        if self.where.nodeName() == "Or":
            return None, "none (OR)"
        return None, "none (no user-only conjunct)"

    def top_n_by_score(self, cap: int) -> bool:
        """Whether the statement is ``SELECT ... FROM <events item>
        [WHERE <user-only conjuncts>] ORDER BY <score> DESC LIMIT n``
        with ``n <= cap`` and no window function in the select list (a
        window over the capped view sees only the stored rows)."""
        lim = self.plan
        if lim.nodeName() != "GlobalLimit" or \
                lim.limitExpr().nodeName() != "Literal" or \
                not 0 <= lim.limitExpr().value() <= cap:
            return False
        sort = lim.child().child()
        if sort.nodeName() != "Sort" or not getattr(sort, "global")() \
                or not sort.child().equals(self.block):
            return False
        order = _seq(sort.order())
        key = order[0].child()
        return (len(order) == 1 and order[0].direction().sql() == "DESC"
                and key.nodeName() == "UnresolvedAttribute"
                and self._names(_seq(key.nameParts()), self.ecol)
                and self.from_.equals(self.item)
                and all(self._user_only(c, []) for c in self.conjuncts)
                and not any(_holds(e, _WINDOWS)
                            for e in _seq(self.block.projectList())))


class RecSQL:
    """``RecSQL(engine).sql(query)`` — RecDB-flavored SQL over Spark.

    Tables resolve from the Spark catalog (temp views); statements
    without RecDB constructs fall through to ``spark.sql`` untouched.
    """

    _view_seq = 0

    def __init__(self, engine: RecEngine):
        self.engine = engine
        self.spark: SparkSession = engine.spark
        self._parser = self.spark._jsparkSession.sessionState().sqlParser()
        # R19 strategy label of the last RECOMMEND statement this
        # front door executed (GenerateRecommend / FilterRecommend /
        # IndexRecommend) — observable for tests and verbose logging
        self.last_strategy: Optional[str] = None
        # the user-only conjuncts that statement pushed into the model
        # build, or "none (<why>)": materialized route, subquery events
        # source, no WHERE, outer join, OR, no user-only conjunct
        self.last_pushdown: Optional[str] = None

    def _try_view_route(self, st: _Statement, hit) -> Optional[DataFrame]:
        """Return the stored RecView as the scored frame when the
        statement is PROVABLY exact over the per-user-capped view,
        else None (caller falls back to live/materialized scoring).

        Exactness: the view holds the top ``view_cap`` predictions per
        user. A statement over the events item alone, whose WHERE is
        user-only (so no item/score predicate or join can dig past the
        cap) and that ends ``ORDER BY <score> DESC LIMIT n`` with
        ``n <= view_cap``, is exact, because each row of a global
        top-n is within its own user's top-n. ``view_cap == 0``
        (full grid) is exact for any statement."""
        if "recview" not in getattr(hit, "model_tables", []):
            return None
        cap = getattr(hit, "view_cap", -1)
        if cap < 0:
            return None  # pre-cap manifest: cap unknown, never route
        # the RECOMMEND columns must be the ones the view stores
        if (hit.userkey, hit.itemkey, hit.eventval) != (st.ucol, st.icol,
                                                         st.ecol):
            return None
        if cap > 0 and not st.top_n_by_score(cap):
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
        # the events source is the one the RECOMMEND columns qualify
        # (events-table resolution, parse_rec.c:187-297)
        st = _Statement(self._parser, m)
        if st.subquery is not None:
            # parenthesized FROM item as the events source: train over
            # the derived table, always on-the-fly. The reference keeps
            # subqueries OUT of its recommend optimizations (pushdown/
            # pull-up disabled, allpaths.c:1533-1535, subselect.c:1460),
            # so there is no materialized substitution to look up —
            # OP_GENERATE over the subquery output is the exact analog.
            events_df = self.spark.sql(st.subquery)
            hit = None
        else:
            events_df = self.spark.table(st.table)
            # materialized-model substitution (parse_rec.c:554-678): a
            # catalog hit on (eventtable, method) flips OP_GENERATE ->
            # OP_FILTER
            hit = self.engine.catalog.find(st.method, st.table.lower())
        scored, user_sql = None, None
        if hit is None:
            user_sql, self.last_pushdown = st.pushdown()
        else:
            self.last_pushdown = "none (materialized route)"
            # IndexRecommend auto-route (R19 / execRecommend.c:151-294,
            # the read path the reference gates off at 935-940): when a
            # RecView is materialized AND the statement is provably
            # answerable from the capped view, substitute the stored
            # predictions instead of re-scoring. Exactness argument in
            # _try_view_route.
            scored = self._try_view_route(st, hit)
        if scored is not None:
            self.last_strategy = "IndexRecommend"
        else:
            self.last_strategy = ("FilterRecommend" if hit
                                  else "GenerateRecommend")
            scored = self.engine.recommend(
                events_df, st.ucol, st.icol, st.ecol, st.method,
                name=hit.name if hit else None,
                user_where=F.expr(user_sql) if user_sql else None)
        if self.engine.verbose_queries:
            logger.info("RECOMMEND (SQL) %s strategy=%s method=%s plan=%s "
                        "user_where=%s",
                        hit.name if hit else "<on-the-fly>",
                        self.last_strategy, st.method,
                        self.engine.last_plan, self.last_pushdown)

        RecSQL._view_seq += 1
        view = f"__rec_scored_{RecSQL._view_seq}"
        scored.createOrReplaceTempView(view)

        # swap the events item for the scored view IN PLACE (exact
        # span, so every other FROM item, join and condition survives
        # verbatim); aliasing the view as the item's alias keeps every
        # qualified column reference valid
        lo, hi = st.span
        alias = "`" + st.alias.replace("`", "``") + "`"
        plain = st.plain[:lo] + f"{view} {alias}" + st.plain[hi + 1:]
        try:
            return self.spark.sql(plain)
        finally:
            # spark.sql analyzes eagerly, so the returned frame no
            # longer needs the view; keeping it leaks one per statement
            self.spark.catalog.dropTempView(view)
