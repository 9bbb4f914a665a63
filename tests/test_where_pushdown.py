"""The user-only WHERE of an on-the-fly RECOMMEND is pushed into the
model build.

``RecSQL`` splits the statement's WHERE (TRUE-substitution,
``parse_rec.c:1109-1211``) and hands the user-only conjuncts to
``RecEngine.recommend`` as ``user_where``; the full WHERE still runs
over the scored view. Every answer here is compared with the same SQL
run over an unfiltered ``RecEngine.recommend(...)`` view, which is the
route that pushes nothing, so a conjunct pushed where it changes the
answer shows up as a wrong row. The plan tests pin what the pushdown
and the one-read item model save.
"""

import pytest
from pyspark.errors import ParseException
from pyspark.sql import functions as F

from recdb_postgresql_spark.engine import RecEngine
from recdb_postgresql_spark.plans import RecSQL
from recdb_postgresql_spark.plans.inspect import plan_stats
from recdb_postgresql_spark.plans.sql_rewriter import _REC_RE, _Statement

COLS = "userid long, itemid long, ratingval double"
N_USERS = 14
ORDER = "ORDER BY round(ratingval, 6) DESC, userid, itemid"
SUBQUERY = "(SELECT * FROM pdrat WHERE itemid <> 2)"

# (select list, FROM with {ev} for the events item, RECOMMEND columns,
#  tail, what RecSQL.last_pushdown must say)
STATEMENTS = [
    ("*", "{ev}", "itemid TO userid ON ratingval",
     f"WHERE userid = 3 {ORDER} LIMIT 4", "userid = 3"),
    ("*", "{ev}", "itemid TO userid ON ratingval",
     f"WHERE userid IN (2, 5, 9) AND itemid < 6 {ORDER} LIMIT 8",
     "userid IN (2, 5, 9)"),
    ("r.userid, r.itemid, r.ratingval, d.pname",
     "{ev} r JOIN pddim d ON r.itemid = d.pid",
     "r.itemid TO r.userid ON r.ratingval",
     "WHERE r.userid = 4 AND d.pname LIKE '%red%' "
     "ORDER BY round(r.ratingval, 6) DESC, r.itemid LIMIT 5", "userid = 4"),
    ("*", "{ev}", "itemid TO userid ON ratingval",
     f"WHERE userid = 2 OR itemid = 3 {ORDER} LIMIT 6", "none (OR)"),
    ("s.userid, s.itemid, s.ratingval", "{ev} s",
     "s.itemid TO s.userid ON s.ratingval",
     "WHERE s.userid = 3 ORDER BY round(s.ratingval, 6) DESC, s.itemid "
     "LIMIT 4", "none (subquery events source)"),
    # events preserved by the LEFT JOIN: pushing is exact
    ("r.userid, r.itemid, r.ratingval, d.pname",
     "{ev} r LEFT JOIN pddim d ON r.itemid = d.pid",
     "r.itemid TO r.userid ON r.ratingval",
     "WHERE r.userid = 6 AND d.pname IS NULL "
     "ORDER BY r.itemid", "userid = 6"),
    # events null-supplied: `userid IS NULL` keeps the unmatched rows
    # of d; pruning the scored view would null-extend every row
    ("d.pid, d.pname, r.userid", "pddim d LEFT JOIN {ev} r ON d.pid = r.itemid",
     "r.itemid TO r.userid ON r.ratingval",
     "WHERE r.userid IS NULL ORDER BY d.pid", "none (outer join)"),
    ("d.pid, r.userid, r.ratingval",
     "{ev} r RIGHT JOIN pddim d ON r.itemid = d.pid",
     "r.itemid TO r.userid ON r.ratingval",
     "WHERE coalesce(r.userid, 0) = 0 ORDER BY d.pid", "none (outer join)"),
    ("d.pid, r.userid, r.itemid",
     "pddim d RIGHT JOIN {ev} r ON d.pid = r.itemid",
     "r.itemid TO r.userid ON r.ratingval",
     "WHERE r.userid = 7 AND d.pid IS NULL ORDER BY r.itemid", "userid = 7"),
    ("d.pid, r.userid, r.itemid",
     "{ev} r FULL JOIN pddim d ON r.itemid = d.pid",
     "r.itemid TO r.userid ON r.ratingval",
     "WHERE r.userid IS NULL ORDER BY d.pid", "none (outer join)"),
    # a predicate on the score column stays residual
    ("*", "{ev}", "itemid TO userid ON ratingval",
     f"WHERE userid = 5 AND ratingval > 4.5 {ORDER}", "userid = 5"),
    # an OR glued to a parenthesis is still a top-level OR
    ("*", "{ev}", "itemid TO userid ON ratingval",
     f"WHERE userid = 3 AND itemid = 3 OR(itemid = 4) {ORDER}", "none (OR)"),
    ("*", "{ev}", "itemid TO userid ON ratingval",
     f"WHERE userid = 3 AND (itemid = 3)OR itemid = 4 {ORDER}", "none (OR)"),
    # the ANDs inside a CASE are not conjuncts of the WHERE
    ("*", "{ev}", "itemid TO userid ON ratingval",
     "WHERE CASE WHEN itemid = 3 AND userid = 3 AND itemid < 9 THEN 0 "
     f"ELSE 1 END = 1 {ORDER}", "none (no user-only conjunct)"),
    # the quote in the comment would hide the OR from a text scanner
    ("*", "{ev}", "itemid TO userid ON ratingval",
     f"WHERE userid = 3 -- it's\n OR itemid = 4 -- '\n{ORDER}",
     "none (OR)"),
    # self-join: the bare table name qualifies the other FROM item
    ("r.userid, r.itemid, r.ratingval, pdrat.ratingval AS seen",
     "{ev} r JOIN pdrat ON r.itemid = pdrat.itemid",
     "r.itemid TO r.userid ON r.ratingval",
     "WHERE pdrat.userid = 3 AND r.userid < 6 "
     "ORDER BY round(r.ratingval, 6) DESC, r.userid, r.itemid, seen",
     "userid < 6"),
    # Spark reads `a, b RIGHT JOIN c` as `(a, b) RIGHT JOIN c`: the
    # events item is null-supplied
    ("t.itemid, t.tag, r.userid",
     "{ev} r, pddim d RIGHT JOIN pdtag t ON d.pid = t.itemid",
     "r.itemid TO r.userid ON r.ratingval",
     "WHERE r.userid IS NULL ORDER BY t.itemid", "none (outer join)"),
    ("r.userid, r.itemid, r.ratingval",
     "{ev} r LEFT SEMI JOIN pddim d ON r.itemid = d.pid "
     "AND d.pname LIKE '%red%'",
     "r.itemid TO r.userid ON r.ratingval",
     "WHERE r.userid = 5 ORDER BY round(r.ratingval, 6) DESC, r.itemid",
     "userid = 5"),
    ("r.userid, r.itemid, r.ratingval",
     "{ev} r LEFT ANTI JOIN pddim d ON r.itemid = d.pid "
     "AND d.pname LIKE '%red%'",
     "r.itemid TO r.userid ON r.ratingval",
     "WHERE r.userid = 8 ORDER BY round(r.ratingval, 6) DESC, r.itemid",
     "userid = 8"),
    ("itemid, r.userid, r.ratingval, t.tag", "pdtag t JOIN {ev} r USING (itemid)",
     "r.itemid TO r.userid ON r.ratingval",
     "WHERE r.userid = 2 ORDER BY itemid", "userid = 2"),
    # a scalar subquery in the select list
    ("(SELECT max(pid) FROM pddim) AS m, userid, itemid", "{ev}",
     "itemid TO userid ON ratingval",
     f"WHERE userid = 4 {ORDER} LIMIT 6", "userid = 4"),
    # the word ILIKE inside a literal is data
    ("r.userid, r.itemid, t.tag", "{ev} r JOIN pdtag t ON r.itemid = t.itemid",
     "r.itemid TO r.userid ON r.ratingval",
     "WHERE r.userid = 6 AND (t.tag = 'ILIKE x' OR t.tag ILIKE 'LAMP') "
     "ORDER BY r.itemid", "userid = 6"),
    # a parenthesized operand: no node's span holds its "("
    ("r.userid, r.itemid, r.ratingval", "{ev} r",
     "r.itemid TO r.userid ON r.ratingval",
     "WHERE (r.userid) IN (2, 5) AND r.itemid < 7 "
     "ORDER BY round(r.ratingval, 6) DESC, r.userid, r.itemid",
     "(userid) IN (2, 5)"),
]


def _rows():
    return [(u, i, float((u * 7 + i * 3) % 10 + 1))
            for u in range(1, N_USERS + 1) for i in range(1, 10)
            if (u + i) % 3]


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    # parquet-backed views: a list-backed frame re-runs Python workers
    # on every one of a statement's many scans
    d = tmp_path_factory.mktemp("pushdown")
    spark.createDataFrame(_rows(), COLS).write.parquet(str(d / "rat"))
    # item 9 has no name, item 99 no ratings: both sides of an outer
    # join get unmatched rows
    spark.createDataFrame(
        [(1, "red lamp"), (2, "blue lamp"), (3, "red chair"), (4, "green"),
         (5, "red desk"), (6, "grey"), (7, "red cup"), (8, "tan"),
         (99, "red ghost")], "pid long, pname string") \
        .write.parquet(str(d / "dim"))
    # item 42 is in no other table
    spark.createDataFrame(
        [(1, "ILIKE x"), (4, "lamp"), (42, "orphan")],
        "itemid long, tag string").write.parquet(str(d / "tag"))
    for name in ("rat", "dim", "tag"):
        spark.read.parquet(str(d / name)).createOrReplaceTempView("pd" + name)


def _rounded(rows):
    return [tuple(round(v, 6) if isinstance(v, float) else v for v in r)
            for r in rows]


@pytest.mark.parametrize("method", ["ItemCosCF", "ItemPearCF", "UserCosCF",
                                    "UserPearCF"])
def test_pushed_where_matches_unfiltered_route(spark, tables, method):
    eng = RecEngine(spark, verbose_queries=False)
    rs = RecSQL(eng)
    refs = {}
    for n, (sel, frm, rec, tail, pushed) in enumerate(STATEMENTS):
        src = SUBQUERY if "{ev} s" in frm else "pdrat"
        got = rs.sql(f"SELECT {sel} FROM {frm.format(ev=src)} "
                     f"RECOMMEND {rec} USING {method} {tail}").collect()
        if src not in refs:
            events = (spark.table(src) if src == "pdrat"
                      else spark.sql(src[1:-1]))
            refs[src] = eng.recommend(events, "userid", "itemid", "ratingval",
                                      method.lower()).cache()
        refs[src].createOrReplaceTempView("pdref")
        want = spark.sql(
            f"SELECT {sel} FROM {frm.format(ev='pdref')} {tail}").collect()
        assert _rounded(got) == _rounded(want), (n, got, want)
        assert rs.last_pushdown == pushed, (n, rs.last_pushdown)
        # the null-supplied statements have rows to lose
        if pushed == "none (outer join)":
            assert want
    for ref in refs.values():
        ref.unpersist()
    spark.catalog.dropTempView("pdref")


def _read(spark, frm, tail, qual="r"):
    """The parsed statement ``SELECT * FROM <frm> RECOMMEND ... <tail>``
    with the RECOMMEND columns qualified by ``qual``."""
    q = (f"SELECT * FROM {frm} RECOMMEND {qual}.itemid TO {qual}.userid "
         f"ON {qual}.ratingval USING ItemCosCF{tail}")
    parser = spark._jsparkSession.sessionState().sqlParser()
    return _Statement(parser, _REC_RE.match(q))


def test_pushdown_split_rules(spark):
    def push(frm, tail, qual="r"):
        return _read(spark, frm, tail, qual).pushdown()[0]

    # quoted spans neither end the WHERE nor lose their qualifier text
    assert push("ev r", " WHERE r.userid = 'r.x LIMIT 2' AND itemid < 3 "
                "ORDER BY ratingval LIMIT 5") == "userid = 'r.x LIMIT 2'"
    # the AND of a BETWEEN is not a cut
    assert push("ev r", " WHERE r.userid BETWEEN 2 AND 4 "
                "AND itemid BETWEEN 1 AND userid") == "userid BETWEEN 2 AND 4"
    # another qualifier makes a conjunct residual; a subquery or a
    # later RIGHT/FULL JOIN pushes nothing
    assert push("ev r, ev2 q", " WHERE q.userid = 1 AND r.userid = 2") == \
        "userid = 2"
    assert push("ev r", " WHERE userid IN (SELECT u FROM t)") is None
    assert push("ev r LEFT JOIN a ON r.itemid = a.i RIGHT JOIN b ON b.i = a.i",
                " WHERE r.userid = 1") is None
    assert push("b, ev r LEFT JOIN a ON r.itemid = a.i",
                " WHERE r.userid = 1") == "userid = 1"
    # AND/OR are words, whatever surrounds them
    assert push("ev r", " WHERE userid = 1 AND(itemid = 2)OR(itemid = 3)") \
        is None
    with pytest.raises(ParseException):
        push("ev r", " WHERE userid=1AND itemid = 2")
    assert push("ev r", " WHERE userid = 1 AND(itemid = 2)") == "userid = 1"
    # a CASE is one conjunct; `end` after a qualifier or alone is a column
    assert push("ev r", " WHERE CASE WHEN itemid = 2 AND userid = 1 THEN 1 "
                "END = 1 AND userid < 4") == "userid < 4"
    assert push("ev r, t q", " WHERE userid = 1 AND q.end = 2 "
                "AND userid < 3") == "userid = 1 AND userid < 3"
    assert push("ev r", " WHERE userid = 1 AND end = 2") == "userid = 1"
    # backslash-escaped quotes stay inside their literal
    assert push("ev r", r" WHERE userid = 1 AND c = 'x\' AND userid = 3 "
                r"AND '") == "userid = 1"
    assert push("ev r", r" WHERE userid = 'a\'' || itemid || ''") is None
    # a comment hides nothing from the parser: the OR behind it is read
    hidden = "userid = 1 --'\n OR itemid = 4 -- '"
    assert _read(spark, "ev r", " WHERE " + hidden).pushdown() == \
        (None, "none (OR)")
    with pytest.raises(ParseException):
        push("ev r", " WHERE userid = 'x")
    # an aliased table's own name qualifies another FROM item
    assert push("ml r JOIN ml ON r.itemid = ml.itemid",
                " WHERE ml.userid = 3") is None
    assert push("ml JOIN ml2 r ON r.itemid = ml.itemid",
                " WHERE ml.userid = 3", qual="ml") == "userid = 3"
    # an OR of user predicates is one user-only conjunct
    assert push("ev r", " WHERE (userid = 1 OR r.userid = 2) AND itemid < 7") \
        == "(userid = 1 OR userid = 2)"
    # the "(" of a predicate operand is in no span: the text widens
    # over it until it reads back as the conjunct
    assert push("ev r", " WHERE (userid) IN (1, 2) AND userid < 9") == \
        "(userid) IN (1, 2) AND userid < 9"
    assert push("ev r", " WHERE ( (r.userid)) IN (1) AND (itemid) < 2") == \
        "( (userid)) IN (1)"
    # Spark's join precedence: `a, b RIGHT JOIN c` is `(a, b) RIGHT JOIN c`
    assert push("ev r, d RIGHT JOIN t ON d.i = t.i",
                " WHERE r.userid IS NULL") is None
    assert push("ev r NATURAL FULL JOIN t", " WHERE r.userid = 1") is None
    assert push("ev r LEFT SEMI JOIN t ON r.itemid = t.i",
                " WHERE r.userid = 1") == "userid = 1"
    # a RECOMMEND in a FROM subquery belongs to that subquery's SELECT
    inner = _Statement(
        spark._jsparkSession.sessionState().sqlParser(), _REC_RE.match(
            "SELECT * FROM t JOIN (SELECT * FROM ev r RECOMMEND r.itemid TO "
            "r.userid ON r.ratingval USING ItemCosCF WHERE r.userid IN (1, 2)"
            ") q ON t.i = q.itemid WHERE q.userid = 3"))
    assert (inner.alias, inner.table, inner.pushdown()[0]) == \
        ("r", "ev", "userid IN (1, 2)")


def _pair_aggregate_rows(df) -> int:
    """Rows emitted by the final (e1, e2) pair aggregates of the
    executed plan, from its SQL metrics."""
    def nodes(p):
        name = p.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            yield from nodes(p.executedPlan())
            return
        if "QueryStage" in name:
            yield from nodes(p.plan())
            return
        if name == "ReusedExchange":
            yield from nodes(p.child())
            return
        yield p
        children = p.children()
        for k in range(children.size()):
            yield from nodes(children.apply(k))

    total, seen = 0, 0
    for n in nodes(df._jdf.queryExecution().executedPlan()):
        s = n.simpleString(100)
        if (n.nodeName() == "HashAggregate" and "keys=[e1#" in s
                and ", e2#" in s and "partial_" not in s):
            total += n.metrics().apply("numOutputRows").value()
            seen += 1
    assert seen, "no pair aggregate in the executed plan"
    return total


def test_user_cf_single_user_builds_only_its_pairs(spark, tables):
    rs = RecSQL(RecEngine(spark, verbose_queries=False))
    df = rs.sql("SELECT * FROM pdrat RECOMMEND itemid TO userid ON ratingval "
                "USING UserCosCF WHERE userid = 5 "
                "ORDER BY ratingval DESC LIMIT 3")
    assert len(df.collect()) == 3
    # the target's pairs with every other user, not the users^2/2 model
    assert _pair_aggregate_rows(df) <= N_USERS - 1


def test_stored_item_cf_reads_model_once(spark, tmp_path):
    # in-memory events: every file scan of the plan reads the model
    spark.createDataFrame(_rows(), COLS).createOrReplaceTempView("pdmem")
    rs = RecSQL(RecEngine(spark, workdir=str(tmp_path), verbose_queries=False))
    rs.sql("CREATE RECOMMENDER pdic ON pdmem USERS FROM userid ITEMS FROM "
           "itemid EVENTS FROM ratingval USING ItemCosCF")
    df = rs.sql("SELECT * FROM pdmem RECOMMEND itemid TO userid ON ratingval "
                "USING ItemCosCF WHERE userid = 3 "
                "ORDER BY ratingval DESC LIMIT 4")
    assert rs.last_strategy == "FilterRecommend"
    assert rs.last_pushdown == "none (materialized route)"
    assert plan_stats(df)["scans"] == 1
    assert len(df.collect()) == 4


def test_inner_join_is_not_routed_to_the_capped_view(spark, tables, tmp_path):
    # a join that drops user 3's top item needs the user's next one,
    # which a RecView capped at one row per user never stored
    rs = RecSQL(RecEngine(spark, workdir=str(tmp_path), verbose_queries=False))
    rs.sql("CREATE RECOMMENDER pdv ON pdrat USERS FROM userid ITEMS FROM "
           "itemid EVENTS FROM ratingval USING ItemCosCF")
    alone = ("SELECT * FROM pdrat RECOMMEND itemid TO userid ON ratingval "
             "USING ItemCosCF WHERE userid = 3 ORDER BY ratingval DESC LIMIT 1")
    top = rs.sql(alone).collect()[0].itemid
    spark.sql(f"SELECT DISTINCT itemid AS pid FROM pdrat WHERE itemid <> {top}") \
        .createOrReplaceTempView("pdvd")
    q = ("SELECT r.userid, r.itemid, r.ratingval FROM pdrat r "
         "JOIN pdvd d ON r.itemid = d.pid RECOMMEND r.itemid TO r.userid "
         "ON r.ratingval USING ItemCosCF WHERE r.userid = 3 "
         "ORDER BY r.ratingval DESC LIMIT 1")
    want = rs.sql(q).collect()
    assert rs.last_strategy == "FilterRecommend" and want
    rs.engine.materialize_predictions("pdv", spark.table("pdrat"), k=1)
    assert _rounded(rs.sql(q).collect()) == _rounded(want)
    assert rs.last_strategy == "FilterRecommend"
    assert rs.sql(alone).collect()[0].itemid == top
    assert rs.last_strategy == "IndexRecommend"
    # a window over the capped view would count one row per user
    scored = len(rs.sql(alone.replace("LIMIT 1", "LIMIT 99")).collect())
    counted = alone.replace("SELECT *", "SELECT itemid, count(*) OVER () AS n")
    assert rs.sql(counted).collect()[0].n == scored > 1
    assert rs.last_strategy == "FilterRecommend"


def test_explain_states_the_user_filter(spark, tables):
    eng = RecEngine(spark, verbose_queries=False)
    args = (spark.table("pdrat"), "userid", "itemid", "ratingval", "usercoscf")
    assert "User filter: userid = 2 (pushed into the build)" in \
        eng.explain(*args, user_where=F.expr("userid = 2"))
    assert "User filter: none\n" in eng.explain(*args)


def test_get_spark_disables_origin_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == \
        "false"
