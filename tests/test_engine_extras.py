"""RecView materialization (R6), CSV source, numpy near-dup parity."""

import pytest
from pyspark.sql import functions as F

from recdb_postgresql_spark.engine import RecEngine
from recdb_postgresql_spark.operators import dedup
from recdb_postgresql_spark.sources.readers import load_csv, load_table


@pytest.fixture()
def events(spark):
    rows = [(u, i, float((u * 7 + i * 3) % 10 + 1))
            for u in range(1, 6) for i in range(1, 8) if (u + i) % 3]
    return spark.createDataFrame(rows, "userid long, itemid long, ratingval double")


def test_recview_matches_live_scoring(spark, events, tmp_path):
    eng = RecEngine(spark, workdir=str(tmp_path))
    eng.create_recommender("v1", events, "userid", "itemid", "ratingval", "itemcoscf")
    eng.materialize_predictions("v1", events)
    live = eng.recommend(events, "userid", "itemid", "ratingval", name="v1",
                         user_where=F.col("userid") == 2, k=5, round_to=6)
    view = eng.recommend_from_view("v1", user_where=F.col("userid") == 2, k=5)
    lv = [(r.userid, r.itemid, round(r.ratingval, 6)) for r in live.collect()]
    vv = [(r.userid, r.itemid, round(r.ratingval, 6)) for r in view.collect()]
    assert lv == vv


def test_recview_tail_length_cap(spark, events, tmp_path):
    """tail_length (RecDBProperties, utility.c:903-907 — declared but
    never read in the reference) is live here: the stored RecView holds
    only the top tail_length predictions per user (users*k rows, not
    users*items), and reads with k <= tail_length are exact vs live."""
    eng = RecEngine(spark, workdir=str(tmp_path), tail_length=3)
    eng.create_recommender("vc", events, "userid", "itemid", "ratingval",
                           "itemcoscf")
    eng.materialize_predictions("vc", events)
    view = eng.catalog.load_models(eng.catalog.get("vc"), spark)["recview"]
    n_users = events.select("userid").distinct().count()
    n_items = events.select("itemid").distinct().count()
    assert view.count() <= n_users * 3 < n_users * n_items
    per_user = view.groupBy("user").count().agg(F.max("count")).first()[0]
    assert per_user <= 3
    # exact parity for k <= tail_length
    live = eng.recommend(events, "userid", "itemid", "ratingval", name="vc",
                         user_where=F.col("userid") == 2, k=2, round_to=6)
    capped = eng.recommend_from_view("vc", user_where=F.col("userid") == 2, k=2)
    lv = [(r.userid, r.itemid, round(r.ratingval, 6)) for r in live.collect()]
    cv = [(r.userid, r.itemid, round(r.ratingval, 6)) for r in capped.collect()]
    assert lv == cv
    # full-grid opt-in restores the reference's dense RecView
    eng.materialize_predictions("vc", events, full_grid=True)
    full = eng.catalog.load_models(eng.catalog.get("vc"), spark)["recview"]
    assert full.count() == n_users * n_items
    eng.drop_recommender("vc")


def test_recview_requires_materialization(spark, events):
    eng = RecEngine(spark)
    eng.create_recommender("v2", events, "userid", "itemid", "ratingval", "itemcoscf")
    with pytest.raises(ValueError, match="RecView"):
        eng.recommend_from_view("v2")
    eng.drop_recommender("v2")


def test_load_csv_semicolon(spark, tmp_path):
    p = tmp_path / "items.dat"
    p.write_text("1;Toy Story;Animation|Comedy\n2;Jumanji;Adventure\n")
    df = load_csv(spark, str(p), "itemid int, name string, genre string")
    rows = {r.itemid: (r.name, r.genre) for r in df.collect()}
    assert rows[1] == ("Toy Story", "Animation|Comedy")
    assert rows[2][1] == "Adventure"


def test_neardup_numpy_matches_sql(spark):
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {(r.id1, r.id2) for r in
             dedup.embedding_near_duplicates(emb, threshold=0.30).collect()}
    fast = {(r.id1, r.id2) for r in
            dedup.embedding_near_duplicates(emb, threshold=0.30,
                                            impl="numpy").collect()}
    assert exact == fast and len(exact) > 0


def test_explain_strategy_labels(spark, events, tmp_path):
    """R19 parity (explain.c:767-793): all four live strategy labels,
    chosen by (materialized?, joined?, view?) exactly like the
    reference's opType machine."""
    eng = RecEngine(spark, workdir=str(tmp_path))
    args = (events, "userid", "itemid", "ratingval", "itemcoscf")
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "itemid long, nm string")

    assert eng.explain(*args).startswith(
        "Recommend strategy: GenerateRecommend")
    assert "Recommend strategy: GenerateJoinRecommend" in eng.explain(
        *args, join_with=dim, join_on="itemid")

    eng.create_recommender("exprec", events, "userid", "itemid",
                           "ratingval", "itemcoscf")
    assert eng.explain(*args, name="exprec").startswith(
        "Recommend strategy: FilterRecommend")
    assert "Recommend strategy: JoinRecommend" in eng.explain(
        *args, name="exprec", join_with=dim, join_on="itemid")

    eng.materialize_predictions("exprec", events)
    out = eng.explain(*args, name="exprec", use_view=True)
    assert out.startswith("Recommend strategy: IndexRecommend")
    assert "User filter: none\n" in out
    assert "User filter: userid = 1 (view filter)\n" in eng.explain(
        *args, name="exprec", use_view=True, user_where=F.expr("userid = 1"))
    with pytest.raises(ValueError, match="IndexRecommend"):
        eng.explain(*args, use_view=True)
    # the formatted Spark physical plan rides along
    assert "== Physical Plan ==" in out
    eng.drop_recommender("exprec")


def test_refresh_rates_and_celltype(spark):
    """recathon_rateupdate.c:133-153 analog: rates from the interval
    counters, counters reset WITHOUT touching the retrain counter,
    cell classified Alpha/Beta/Gamma/Delta."""
    from recdb_postgresql_spark.engine import RecEngine

    rows = [(u, i, float(u + i)) for u in range(1, 5) for i in range(1, 5)]
    ev = spark.createDataFrame(rows, "userid long, itemid long, ratingval double")
    eng = RecEngine(spark, update_threshold=100.0)  # never retrain here
    eng.create_recommender("raterec", ev, "userid", "itemid",
                           "ratingval", "itemcoscf")
    assert eng.catalog.get("raterec").celltype == "Delta"
    # 2 materialized queries + 3 inserted events in a 10s interval
    for _ in range(2):
        eng.recommend(ev, "userid", "itemid", "ratingval",
                      name="raterec", k=1).collect()
    eng.record_insert("raterec",
                      spark.createDataFrame([(9, 1, 1.0)] * 3,
                                            "userid long, itemid long, ratingval double"),
                      ev)
    cell = eng.refresh_rates("raterec", interval_s=10.0)
    info = eng.catalog.get("raterec")
    assert (info.query_rate, info.update_rate) == (0.2, 0.3)
    assert cell == "Alpha"                       # both above 0.1
    assert (info.query_counter2, info.update_counter2) == (0, 0)
    assert info.update_counter == 3              # retrain counter intact
    assert info.query_counter == 2
    # a quiet interval decays the cell back to Delta
    assert eng.refresh_rates("raterec", interval_s=10.0) == "Delta"
    eng.drop_recommender("raterec")


def test_approx_sketches_error_bounds(spark):
    """HLL++ distinct counts within 5% of exact; approx_percentile
    lands between the exact p25 and p75 (it returns a true element at
    most one rank off at this scale)."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"
    approx = {r.o_orderpriority: (r.approx_customers, r.approx_p50)
              for r in entrymod.queries()["agg_approx_sketches"](
                  spark, sf).collect()}
    from recdb_postgresql_spark.sources.readers import load_table
    orders = load_table(spark, sf, "orders")
    exact = {r.o_orderpriority: (r.n, r.p25, r.p50, r.p75)
             for r in orders.groupBy("o_orderpriority")
             .agg(F.countDistinct("o_custkey").alias("n"),
                  F.expr("percentile(o_totalprice, 0.25)").alias("p25"),
                  F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
                  F.expr("percentile(o_totalprice, 0.75)").alias("p75"))
             .collect()}
    assert set(approx) == set(exact)
    for k, (ac, ap50) in approx.items():
        n, p25, p50, p75 = exact[k]
        assert abs(ac - n) / n < 0.05, (k, ac, n)
        assert p25 <= ap50 <= p75, (k, ap50, p50)


def test_cluster_conf_scales_with_inputs(spark):
    """cluster_conf (the 100 TB knob sheet) must scale shuffle
    partitions with BOTH total cores and data volume, keep AQE +
    skew-join on, and stay consumable by SparkSession.conf.set
    (string values only)."""
    from recdb_postgresql_spark.engine import cluster_conf

    small = cluster_conf(events_tb=1.0, executors=10, cores_per_executor=4)
    big = cluster_conf(events_tb=100.0, executors=1000, cores_per_executor=4)
    assert int(big["spark.sql.shuffle.partitions"]) > \
        int(small["spark.sql.shuffle.partitions"])
    # volume floor: 100 TB / 200 MB blocks
    assert int(big["spark.sql.shuffle.partitions"]) >= 100 * 1024 * 1024 // 200
    for conf in (small, big):
        assert conf["spark.sql.adaptive.enabled"] == "true"
        assert conf["spark.sql.adaptive.skewJoin.enabled"] == "true"
        assert all(isinstance(v, str) for v in conf.values())


def test_recview_cap_recorded_and_validated(spark, events, tmp_path):
    """ADVICE r11: the per-user cap used at materialize time is
    persisted in the catalog row (view_cap) and reads past it raise
    instead of silently truncating the reference's dense-grid
    semantics; full_grid re-materialization clears the cap."""
    eng = RecEngine(spark, workdir=str(tmp_path), tail_length=3)
    eng.create_recommender("vv", events, "userid", "itemid", "ratingval",
                           "itemcoscf")
    eng.materialize_predictions("vv", events)
    assert eng.catalog.get("vv").view_cap == 3
    with pytest.raises(ValueError, match="cap 3"):
        eng.recommend_from_view("vv", k=10)
    assert eng.recommend_from_view("vv", k=2).count() == 2
    # the cap survives a manifest round-trip (fresh catalog instance)
    from recdb_postgresql_spark.catalog import RecCatalog
    assert RecCatalog(str(tmp_path)).get("vv").view_cap == 3
    eng.materialize_predictions("vv", events, full_grid=True)
    assert eng.catalog.get("vv").view_cap == 0
    assert eng.recommend_from_view("vv", k=10).count() == 10
    eng.drop_recommender("vv")
