"""Materialized serving reuses per-generation work.

A stored recommender's model frames are read once per catalog
generation, and ``RecEngine.recommend(name=...)`` returns the same
unfiltered scored frame while the generation, the output columns and
the events snapshot stay the same. Answers are compared with those of
a fresh engine (one that loads the stored models cold from the
catalog, or trains its own), so a stale reuse shows up as a wrong
answer, not only as a wrong ``last_plan`` label.
"""

import logging

import pytest
from pyspark.sql import functions as F

from recdb_postgresql_spark.engine import RecEngine
from recdb_postgresql_spark.plans import RecSQL
from recdb_postgresql_spark.sources.event_store import EventStore

COLS = "userid long, itemid long, ratingval double"
Q_IN = ("SELECT * FROM ev RECOMMEND itemid TO userid ON ratingval "
        "USING {m} WHERE userid IN (1, 2, 3)")


def _rows(n_users=12, n_items=9, salt=0):
    return [(u, i, float((u * 7 + i * 3 + salt) % 10 + 1))
            for u in range(1, n_users + 1) for i in range(n_items)
            if (u + i + salt) % 3]


def _answer(rs, q):
    return {(r[0], r[1]): r[2] for r in rs.sql(q).collect()}


def _same(a, b):
    return a.keys() == b.keys() and all(abs(a[k] - b[k]) < 1e-9 for k in a)


def _engine(spark, workdir, **kw):
    eng = RecEngine(spark, workdir=str(workdir), verbose_queries=False, **kw)
    return eng, RecSQL(eng)


def _create(rs, name, method="ItemCosCF", table="ev"):
    rs.sql(f"CREATE RECOMMENDER {name} ON {table} USERS FROM userid "
           f"ITEMS FROM itemid EVENTS FROM ratingval USING {method}")


def _fresh_answer(spark, workdir, q, method="ItemCosCF"):
    """The statement's answer from a new engine that trains its own
    recommender on the current ``ev``."""
    _, rs = _engine(spark, workdir)
    _create(rs, "fresh", method)
    return _answer(rs, q)


def _cold_answer(spark, workdir, q):
    """The statement's answer from a new engine that loads the stored
    recommenders of ``workdir`` from its manifest."""
    _, rs = _engine(spark, workdir)
    return _answer(rs, q)


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.fixture()
def ev(spark):
    spark.createDataFrame(_rows(), COLS).createOrReplaceTempView("ev")
    return spark.table("ev")


def test_recommend_statements_leave_no_temp_views(spark, ev, tmp_path):
    eng, rs = _engine(spark, tmp_path / "cat")
    _create(rs, "leak")
    before = _temp_views(spark)
    answers = [rs.sql(q).collect() for q in (
        Q_IN.format(m="ItemCosCF"),
        Q_IN.format(m="ItemCosCF"),
        "SELECT * FROM ev RECOMMEND itemid TO userid ON ratingval "
        "USING ItemCosCF WHERE userid = 4",
        "SELECT * FROM ev RECOMMEND itemid TO userid ON ratingval "
        "USING ItemCosCF WHERE userid = 4 ORDER BY ratingval DESC LIMIT 3",
        "SELECT e.itemid, e.ratingval FROM ev e RECOMMEND e.itemid TO "
        "e.userid ON e.ratingval USING ItemCosCF WHERE e.userid = 5")]
    assert _temp_views(spark) == before
    assert all(answers) and len(answers[3]) == 3


def test_reused_plan_answers_like_a_fresh_engine(spark, ev, tmp_path, caplog):
    eng, rs = _engine(spark, tmp_path / "cat")
    eng.verbose_queries = True
    _create(rs, "r")
    q = Q_IN.format(m="ItemCosCF")
    with caplog.at_level(logging.INFO, logger="recdb_postgresql_spark"):
        first = _answer(rs, q)
        assert eng.last_plan == "rebuilt (new generation)"
        second = _answer(rs, q)
        assert eng.last_plan == "reused"
    assert any("plan=rebuilt (new generation)" in m for m in caplog.messages)
    assert any("plan=reused" in m for m in caplog.messages)
    assert _same(first, second)
    assert _same(second, _cold_answer(spark, tmp_path / "cat", q))
    # the same scored frame comes back, and every read still counts
    args = (spark.table("ev"), "userid", "itemid", "ratingval")
    assert eng.recommend(*args, name="r") is eng.recommend(*args, name="r")
    info = eng.catalog.get("r")
    assert info.query_counter == 4 and info.query_counter2 == 4
    assert "Scored plan: reused" in eng.explain(*args, name="r")
    assert eng.catalog.get("r").query_counter == 5
    # other in-memory events under the same view name (no input files):
    # sameSemantics tells them apart
    spark.createDataFrame(_rows(salt=2), COLS).createOrReplaceTempView("ev")
    changed = _answer(rs, q)
    assert eng.last_plan == "rebuilt (events changed)"
    assert _same(changed, _cold_answer(spark, tmp_path / "cat", q))
    assert not _same(changed, second)


def test_restricting_arguments_do_not_reuse(spark, ev, tmp_path):
    eng, rs = _engine(spark, tmp_path / "cat")
    _create(rs, "r")
    args = (spark.table("ev"), "userid", "itemid", "ratingval")
    stored = eng.recommend(*args, name="r")
    grid = {(r[0], r[1]): r[2] for r in stored.collect()}
    top4 = sorted(grid.items(), key=lambda kv: (-kv[1], kv[0]))[:4]
    for kw, want in (
            ({"user_where": F.col("userid") == 2},
             {k: v for k, v in grid.items() if k[0] == 2}),
            ({"where": F.col("ratingval") > 5},
             {k: v for k, v in grid.items() if v > 5}),
            ({"k": 4}, dict(top4))):
        got = eng.recommend(*args, name="r", **kw)
        assert eng.last_plan.startswith("rebuilt (non-reusable arguments")
        assert got is not stored
        assert _same({(r[0], r[1]): r[2] for r in got.collect()}, want)
    # restricted calls leave the stored plan in place
    assert eng.recommend(*args, name="r") is stored
    assert eng.last_plan == "reused"
    # on-the-fly scoring never reuses
    a = eng.recommend(*args, method="itemcoscf")
    assert eng.last_plan == "on-the-fly"
    assert eng.recommend(*args, method="itemcoscf") is not a


def test_threshold_retrain_is_seen_by_the_next_read(spark, tmp_path):
    store = EventStore(spark, str(tmp_path / "store"))
    store.append(spark.createDataFrame(_rows(), COLS))
    store.read().createOrReplaceTempView("ev")
    eng, rs = _engine(spark, tmp_path / "cat", update_threshold=0.01)
    _create(rs, "r")
    store.bind_recommender(eng, "r")
    q = Q_IN.format(m="ItemCosCF")
    before = _answer(rs, q)
    _answer(rs, q)
    assert eng.last_plan == "reused"
    # new ratings that reshape the item similarities; the retrain
    # replaces the model while "ev" still names the old snapshot
    store.append(spark.createDataFrame(
        [(u, i, float((u * i) % 7 + 1)) for u in range(20, 40)
         for i in range(9)], COLS))
    assert eng.catalog.get("r").update_counter == 0   # it retrained
    retrained = _answer(rs, q)
    assert eng.last_plan == "rebuilt (new generation)"
    assert not _same(retrained, before)
    assert _same(retrained, _cold_answer(spark, tmp_path / "cat", q))
    # the grown snapshot: rebuilt again, equal to a fresh CREATE on it
    store.read().createOrReplaceTempView("ev")
    grown = _answer(rs, q)
    assert eng.last_plan == "rebuilt (events changed)"
    assert _same(grown, _fresh_answer(spark, tmp_path / "fresh", q))


def test_drop_and_recreate_under_the_same_name(spark, ev, tmp_path):
    eng, rs = _engine(spark, tmp_path / "cat")
    _create(rs, "r", "ItemCosCF")
    q_cos, q_pear = Q_IN.format(m="ItemCosCF"), Q_IN.format(m="ItemPearCF")
    _answer(rs, q_cos)
    _answer(rs, q_cos)
    assert eng.last_plan == "reused"
    rs.sql("DROP RECOMMENDER r")
    _create(rs, "r", "ItemPearCF")
    got = _answer(rs, q_pear)
    assert rs.last_strategy == "FilterRecommend"
    assert eng.last_plan == "rebuilt (new generation)"
    assert _same(got, _cold_answer(spark, tmp_path / "cat", q_pear))
    # the catalog bumps the generation on its own drop, too
    gen = eng.catalog.generation("r")
    eng.catalog.drop("r")
    assert eng.catalog.generation("r") > gen


def test_rematerialized_recview_is_seen_by_index_reads(spark, ev, tmp_path):
    eng, rs = _engine(spark, tmp_path / "cat", tail_length=2)
    _create(rs, "r")
    q = ("SELECT * FROM ev RECOMMEND itemid TO userid ON ratingval "
         "USING ItemCosCF WHERE userid = 3 ORDER BY ratingval DESC LIMIT 5")
    eng.materialize_predictions("r", spark.table("ev"))
    assert eng.catalog.get("r").view_cap == 2
    rs.sql(q).collect()
    assert rs.last_strategy == "FilterRecommend"    # LIMIT 5 > cap 2
    n_users = ev.select("userid").distinct().count()
    n_items = ev.select("itemid").distinct().count()
    assert eng.recommend_from_view("r", allow_capped=True).count() == 2 * n_users
    eng.materialize_predictions("r", spark.table("ev"), full_grid=True)
    assert eng.recommend_from_view("r").count() == n_users * n_items
    got = rs.sql(q).collect()
    assert rs.last_strategy == "IndexRecommend"
    assert eng.last_plan == "stored RecView"
    live = eng.recommend(spark.table("ev"), "userid", "itemid", "ratingval",
                         name="r", user_where=F.col("userid") == 3, k=5)
    assert ([round(r.ratingval, 9) for r in got]
            == [round(r.ratingval, 9) for r in live.collect()])


def test_regrown_directory_read_does_not_reuse(spark, tmp_path):
    path = str(tmp_path / "ratings")
    spark.createDataFrame(_rows(), COLS).write.parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("ev")
    eng, rs = _engine(spark, tmp_path / "cat")
    _create(rs, "r")
    q = Q_IN.format(m="ItemCosCF")
    _answer(rs, q)
    # a fresh read of the unchanged directory is the same snapshot
    spark.read.parquet(path).createOrReplaceTempView("ev")
    _answer(rs, q)
    assert eng.last_plan == "reused"
    spark.createDataFrame(_rows(n_users=15, salt=1), COLS) \
        .write.mode("append").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("ev")
    got = _answer(rs, q)
    assert eng.last_plan == "rebuilt (events changed)"
    # same stored model, grown events: a cold engine on the same catalog
    assert _same(got, _cold_answer(spark, tmp_path / "cat", q))
    assert {u for u, _ in got} == {1, 2, 3}


def test_repeated_reads_fire_no_build_jobs(spark, ev, tmp_path):
    eng, rs = _engine(spark, tmp_path / "cat", tail_length=5)
    _create(rs, "r")
    eng.materialize_predictions("r", spark.table("ev"))
    sc = spark.sparkContext
    q_index = ("SELECT * FROM ev RECOMMEND itemid TO userid ON ratingval "
               "USING ItemCosCF WHERE userid = 2 ORDER BY ratingval DESC LIMIT 3")
    q_filter = Q_IN.format(m="ItemCosCF")
    for q, strategy in ((q_index, "IndexRecommend"),
                        (q_filter, "FilterRecommend")):
        rs.sql(q).collect()
        group = f"serve-build-{strategy}"
        sc.setJobGroup(group, "build phase of a repeated read")
        try:
            df = rs.sql(q)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert rs.last_strategy == strategy
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert df.collect()
