"""RecSQL front door: DDL, RECOMMEND grammar, WHERE splitting,
materialized auto-resolution (OP_GENERATE -> OP_FILTER)."""

import pytest
from pyspark.sql import functions as F

from recdb_postgresql_spark.engine import RecEngine
from recdb_postgresql_spark.plans import RecSQL
from recdb_postgresql_spark.plans.sql_rewriter import _REC_RE, _Statement


def _view(spark, tmp_path, name, rows, schema):
    """A parquet-backed temp view: a list-backed one re-runs Python
    workers on every scan of a RECOMMEND statement's plan."""
    spark.createDataFrame(rows, schema).write.parquet(str(tmp_path / name))
    spark.read.parquet(str(tmp_path / name)).createOrReplaceTempView(name)


@pytest.fixture()
def rs(spark, tmp_path):
    rows = [(u, i, float((u * 3 + i) % 7 + 1))
            for u in range(1, 8) for i in range(1, 6)]
    _view(spark, tmp_path, "sqlrat", rows,
          "userid long, itemid long, ratingval double")
    return RecSQL(RecEngine(spark))


def _split(spark, where):
    """(what the statement pushes, or why not; its WHERE conjuncts) for
    ``where`` over ``sqlrat``."""
    q = ("SELECT * FROM sqlrat RECOMMEND itemid TO userid ON ratingval "
         "USING ItemCosCF" + (f" WHERE {where}" if where else ""))
    st = _Statement(spark._jsparkSession.sessionState().sqlParser(),
                    _REC_RE.match(q))
    user, why = st.pushdown()
    return user or why, len(st.conjuncts)


def test_where_split_true_substitution(spark):
    assert _split(spark, "userid IN (1,2) AND itemid < 7 AND ratingval >= 4") \
        == ("userid IN (1,2)", 3)
    assert _split(spark, None) == ("none (no WHERE)", 0)
    assert _split(spark, "itemid = 3") == ("none (no user-only conjunct)", 1)
    # the AND of a BETWEEN belongs to it
    assert _split(spark, "itemid BETWEEN 1 AND userid") == \
        ("none (no user-only conjunct)", 1)


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


def test_split_where_top_level_or_not_split(spark):
    # 'a = 1 OR b = 2 AND c = 3' parses as a OR (b AND c): must NOT be
    # split into conjuncts applied at different stages
    assert _split(spark, "userid = 1 OR itemid = 2 AND ratingval = 3") == \
        ("none (OR)", 1)
    # parenthesized OR inside one conjunct still splits fine
    assert _split(spark, "(userid = 1 OR userid = 2) AND itemid < 7") == \
        ("(userid = 1 OR userid = 2)", 2)
    # a top-level OR of user predicates is itself user-only
    assert _split(spark, "userid = 1 OR userid = 2") == \
        ("(userid = 1 OR userid = 2)", 1)


def test_split_where_quoted_literals(spark):
    """ADVICE r2: AND/OR inside string literals are data, not
    operators — the parser reads them as one literal."""
    # AND inside a literal: ONE conjunct, classified by its column
    assert _split(spark, "name = 'rock AND roll' AND userid = 1") == \
        ("userid = 1", 2)
    # OR inside a literal must NOT force the whole clause residual
    assert _split(spark, "genre = 'rock OR bust' AND userid < 5") == \
        ("userid < 5", 2)
    # '' inside a literal stays in it
    assert _split(spark, "note = 'it''s AND more' AND userid = 2") == \
        ("userid = 2", 2)
    # literal value on the user column still pushes down as user-only
    assert _split(spark, "userid = 'u AND v' AND itemid = 1") == \
        ("userid = 'u AND v'", 2)


def test_recommend_join_on_syntax(rs, spark, tmp_path):
    _view(spark, tmp_path, "sqldim",
          [(1, "red thing"), (2, "blue thing"), (3, "red other")],
          "pid long, pname string")
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


def test_recommend_subquery_sibling_join(rs, spark, tmp_path):
    """A subquery as a NON-events FROM item passes through verbatim
    next to the scored view."""
    _view(spark, tmp_path, "sqldim2", [(i, f"name{i}") for i in range(1, 6)],
          "pid long, pname string")
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
