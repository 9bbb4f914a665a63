"""RecSQL front door: DDL, RECOMMEND grammar, WHERE splitting,
materialized auto-resolution (OP_GENERATE -> OP_FILTER)."""

import pytest
from pyspark.sql import functions as F

from recdb_postgresql_spark.engine import RecEngine
from recdb_postgresql_spark.plans import RecSQL
from recdb_postgresql_spark.plans.sql_rewriter import _split_where


@pytest.fixture()
def rs(spark):
    rows = [(u, i, float((u * 3 + i) % 7 + 1))
            for u in range(1, 8) for i in range(1, 6)]
    spark.createDataFrame(rows, "userid long, itemid long, ratingval double") \
        .createOrReplaceTempView("sqlrat")
    return RecSQL(RecEngine(spark))


def test_where_split_true_substitution():
    u, rest = _split_where("userid IN (1,2) AND itemid < 7 AND ratingval >= 4", "userid")
    assert u == "userid IN (1,2)"
    assert rest == "itemid < 7 AND ratingval >= 4"
    assert _split_where(None, "userid") == (None, None)
    assert _split_where("itemid = 3", "userid") == (None, "itemid = 3")
    # the AND of a BETWEEN belongs to it
    assert _split_where("itemid BETWEEN 1 AND userid", "userid") == \
        (None, "itemid BETWEEN 1 AND userid")


def test_recommend_grammar_end_to_end(rs):
    out = rs.sql("SELECT * FROM sqlrat RECOMMEND itemid TO userid ON ratingval "
                 "USING ItemCosCF WHERE userid = 2 ORDER BY ratingval DESC LIMIT 3")
    rows = out.collect()
    assert len(rows) == 3
    assert all(r.userid == 2 for r in rows)
    scores = [r.ratingval for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_auto_resolution_uses_materialized(rs):
    rs.sql("CREATE RECOMMENDER sqlrec ON sqlrat USERS FROM userid "
           "ITEMS FROM itemid EVENTS FROM ratingval USING UserCosCF")
    rs.sql("SELECT * FROM sqlrat RECOMMEND itemid TO userid ON ratingval "
           "USING UserCosCF WHERE userid = 1 LIMIT 2").collect()
    info = rs.engine.catalog.get("sqlrec")
    assert info.query_counter == 1          # FilterRecommend path taken
    assert info.eventtable == "sqlrat"
    rs.sql("DROP RECOMMENDER sqlrec")
    assert rs.engine.catalog.get("sqlrec") is None


def test_passthrough_plain_sql(rs):
    assert rs.sql("SELECT COUNT(*) AS n FROM sqlrat").collect()[0].n == 35


def test_split_where_top_level_or_not_split():
    # 'a = 1 OR b = 2 AND c = 3' parses as a OR (b AND c): must NOT be
    # split into conjuncts applied at different stages
    u, rest = _split_where("userid = 1 OR itemid = 2 AND ratingval = 3",
                           "userid")
    assert u is None
    assert rest == "userid = 1 OR itemid = 2 AND ratingval = 3"
    # parenthesized OR inside one conjunct still splits fine
    u, rest = _split_where("(userid = 1 OR userid = 2) AND itemid < 7",
                           "userid")
    assert u == "(userid = 1 OR userid = 2)"
    assert rest == "itemid < 7"


def test_split_where_quoted_literals():
    """ADVICE r2: AND/OR inside string literals are data, not
    operators — the scanner must skip quoted spans."""
    # AND inside a literal: ONE conjunct, classified by its column
    u, rest = _split_where("name = 'rock AND roll' AND userid = 1", "userid")
    assert u == "userid = 1"
    assert rest == "name = 'rock AND roll'"
    # OR inside a literal must NOT force the whole clause residual
    u, rest = _split_where("genre = 'rock OR bust' AND userid < 5", "userid")
    assert u == "userid < 5"
    assert rest == "genre = 'rock OR bust'"
    # '' escape keeps the literal open across the doubled quote
    u, rest = _split_where("note = 'it''s AND more' AND userid = 2", "userid")
    assert u == "userid = 2"
    assert rest == "note = 'it''s AND more'"
    # literal value on the user column still pushes down as user-only
    u, rest = _split_where("userid = 'u AND v' AND itemid = 1", "userid")
    assert u == "userid = 'u AND v'"
    assert rest == "itemid = 1"


def test_recommend_join_on_syntax(rs, spark):
    spark.createDataFrame([(1, "red thing"), (2, "blue thing"),
                           (3, "red other")],
                          "pid long, pname string") \
        .createOrReplaceTempView("sqldim")
    out = rs.sql(
        "SELECT r.userid, r.itemid, r.ratingval, d.pname "
        "FROM sqlrat r JOIN sqldim d ON r.itemid = d.pid "
        "RECOMMEND r.itemid TO r.userid ON r.ratingval USING ItemCosCF "
        "WHERE r.userid = 2 AND d.pname LIKE '%red%' "
        "ORDER BY r.ratingval DESC LIMIT 5")
    rows = out.collect()
    assert rows, "join produced no rows"
    assert all(r.userid == 2 and "red" in r.pname for r in rows)
    # same result through the comma-join form
    comma = rs.sql(
        "SELECT r.userid, r.itemid, r.ratingval, d.pname "
        "FROM sqlrat r, sqldim d "
        "RECOMMEND r.itemid TO r.userid ON r.ratingval USING ItemCosCF "
        "WHERE r.userid = 2 AND r.itemid = d.pid AND d.pname LIKE '%red%' "
        "ORDER BY r.ratingval DESC LIMIT 5").collect()
    assert [(r.userid, r.itemid, r.pname) for r in rows] == \
        [(r.userid, r.itemid, r.pname) for r in comma]


def test_recommend_over_subquery_from_item(rs):
    """RECOMMEND with a parenthesized FROM item as the events source:
    trained on-the-fly over the derived table (the reference disables
    recommend subquery optimizations, allpaths.c:1533-1535 — the
    derived table itself is legal)."""
    out = rs.sql(
        "SELECT t.userid, t.itemid, t.ratingval "
        "FROM (SELECT userid, itemid, ratingval FROM sqlrat "
        "      WHERE itemid < 5) t "
        "RECOMMEND t.itemid TO t.userid ON t.ratingval USING ItemCosCF "
        "WHERE t.userid = 2 ORDER BY t.ratingval DESC LIMIT 3")
    rows = out.collect()
    assert len(rows) == 3
    assert all(r.userid == 2 and r.itemid < 5 for r in rows)
    scores = [r.ratingval for r in rows]
    assert scores == sorted(scores, reverse=True)
    # parity: same result as pre-registering the filtered view
    direct = rs.sql(
        "SELECT userid, itemid, ratingval FROM sqlrat "
        "RECOMMEND itemid TO userid ON ratingval USING ItemCosCF "
        "WHERE userid = 2 AND itemid < 5 "
        "ORDER BY ratingval DESC LIMIT 3").collect()
    assert [(r.userid, r.itemid) for r in rows] == \
        [(r.userid, r.itemid) for r in direct]


def test_recommend_subquery_sibling_join(rs, spark):
    """A subquery as a NON-events FROM item passes through verbatim
    next to the scored view."""
    spark.createDataFrame([(i, f"name{i}") for i in range(1, 6)],
                          "pid long, pname string") \
        .createOrReplaceTempView("sqldim2")
    rows = rs.sql(
        "SELECT r.userid, r.itemid, d.pname "
        "FROM sqlrat r JOIN (SELECT pid, pname FROM sqldim2 "
        "                    WHERE pid <= 3) d ON r.itemid = d.pid "
        "RECOMMEND r.itemid TO r.userid ON r.ratingval USING ItemCosCF "
        "WHERE r.userid = 1 ORDER BY r.ratingval DESC LIMIT 3").collect()
    assert rows and all(r.itemid <= 3 for r in rows)


def test_recommend_in_setop_leaf(rs):
    """The reference isolates set-op leaves (analyze.c:1616): one leg
    carries the RECOMMEND, the other passes through verbatim."""
    out = rs.sql(
        "SELECT userid, itemid, ratingval FROM sqlrat "
        "RECOMMEND itemid TO userid ON ratingval USING ItemCosCF "
        "WHERE userid = 2 "
        "UNION ALL SELECT userid, itemid, ratingval FROM sqlrat "
        "WHERE userid = 3 AND itemid = 1")
    rows = out.collect()
    assert {r.userid for r in rows} == {2, 3}
    assert len([r for r in rows if r.userid == 2]) == 5   # all items scored
    assert len([r for r in rows if r.userid == 3]) == 1   # raw leg verbatim
    # two RECOMMEND clauses: clean rejection, not silent misreading
    with pytest.raises(ValueError, match="one RECOMMEND clause"):
        rs.sql("SELECT userid FROM sqlrat RECOMMEND itemid TO userid ON "
               "ratingval USING ItemCosCF UNION ALL SELECT userid FROM "
               "sqlrat RECOMMEND itemid TO userid ON ratingval USING "
               "UserCosCF")


def test_subquery_from_item_requires_alias(rs):
    with pytest.raises(ValueError, match="needs an alias"):
        rs.sql("SELECT * FROM (SELECT userid, itemid, ratingval FROM sqlrat) "
               "RECOMMEND itemid TO userid ON ratingval USING ItemCosCF")


@pytest.mark.parametrize("stmt,clause", [
    ("SELECT DISTINCT userid FROM sqlrat RECOMMEND itemid TO userid "
     "ON ratingval USING ItemCosCF", "DISTINCT"),
    ("SELECT userid FROM sqlrat RECOMMEND itemid TO userid ON ratingval "
     "USING ItemCosCF GROUP BY userid", "GROUP BY"),
    ("SELECT userid FROM sqlrat RECOMMEND itemid TO userid ON ratingval "
     "USING ItemCosCF WHERE userid = 1 HAVING COUNT(*) > 1", "HAVING"),
    ("SELECT userid FROM sqlrat RECOMMEND itemid TO userid ON ratingval "
     "USING ItemCosCF WINDOW w AS (PARTITION BY userid)", "WINDOW"),
    ("WITH t AS (SELECT 1) SELECT userid FROM sqlrat RECOMMEND itemid "
     "TO userid ON ratingval USING ItemCosCF", "WITH"),
])
def test_recommend_rejects_clauses_like_reference(rs, stmt, clause):
    """validateClauses parity (parse_rec.c:119-157): same error text."""
    with pytest.raises(ValueError,
                       match=f"RECOMMEND clause is not allowed with {clause}"):
        rs.sql(stmt)


def test_udtf_surface_maps_to_spark(spark):
    """SURVEY §2.2's UDF-surface row: PG's set-returning CREATE
    FUNCTION maps to Spark's Python UDTF (4.x) — demonstrated with a
    sentence splitter registered and called FROM SQL, and the same
    result expressed with the preferred built-in explode path (the
    UDTF is the escape hatch; the built-in stays the hot path)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="idx int, sentence string")
    class SplitSentences:
        def eval(self, text: str):
            for i, s in enumerate(x.strip() for x in text.split(".")):
                if s:
                    yield i, s

    spark.udtf.register("split_sentences", SplitSentences)
    out = spark.sql(
        "SELECT * FROM split_sentences('The cat sat. It ran. ')"
    ).collect()
    assert [(r["idx"], r["sentence"]) for r in out] \
        == [(0, "The cat sat"), (1, "It ran")]

    # built-in twin: explode(split()) gives the same rows JVM-side
    from pyspark.sql import functions as F
    df = spark.createDataFrame([("The cat sat. It ran. ",)], ["text"])
    builtin = (df.select(F.posexplode(F.split("text", r"\.")))
               .select(F.col("pos").alias("idx"),
                       F.trim("col").alias("sentence"))
               .where(F.col("sentence") != ""))
    assert [(r["idx"], r["sentence"]) for r in builtin.collect()] \
        == [(0, "The cat sat"), (1, "It ran")]
