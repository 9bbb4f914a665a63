"""A warm session reuses the Java classes Spark generated for earlier
RECOMMEND statements instead of compiling them again.

Whole-stage codegen turns each physical stage into Java source that
Janino compiles; ``CodeGenerator``'s cache keys the compiled class by
that source. One pass of the four on-the-fly CF methods compiles more
classes than Spark's default cache holds (100), so with the default
every statement recompiles its whole plan. ``get_spark`` sizes the
cache for that mix; the compile count comes from Spark's own
``CodegenMetrics``.
"""

import pytest

from recdb_postgresql_spark.engine import RecEngine, cluster_conf
from recdb_postgresql_spark.plans import RecSQL

METHODS = ["ItemCosCF", "ItemPearCF", "UserCosCF", "UserPearCF"]
# compiles of a warm ItemCosCF single-user statement for a user id not
# seen before: 10 measured with the sized cache (int literals are
# written into the generated code, so a new id brings a few classes),
# 30 with Spark's default cache, which the CF mix overflows
MAX_COMPILES = 15


def _compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


@pytest.fixture(scope="module")
def events(spark, tmp_path_factory):
    # parquet-backed: a list-backed frame adds Python-worker scans
    d = str(tmp_path_factory.mktemp("codegen") / "rat")
    spark.createDataFrame(
        [(u, i, float((u * 7 + i * 3) % 10 + 1))
         for u in range(1, 15) for i in range(1, 10) if (u + i) % 3],
        "userid long, itemid long, ratingval double").write.parquet(d)
    spark.read.parquet(d).createOrReplaceTempView("cgrat")
    yield "cgrat"
    spark.catalog.dropTempView("cgrat")


def test_get_spark_sizes_the_codegen_cache(spark):
    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.sparkContext.getConf().get(key, None) == cluster_conf()[key]


def test_warm_statement_reuses_generated_classes(spark, events):
    rs = RecSQL(RecEngine(spark, verbose_queries=False))

    def run(method, user):
        rows = rs.sql(f"SELECT * FROM {events} RECOMMEND itemid TO userid "
                      f"ON ratingval USING {method} WHERE userid = {user} "
                      "ORDER BY ratingval DESC LIMIT 3").collect()
        assert rows and rs.last_strategy == "GenerateRecommend"

    # the first pass also compiles classes no later statement asks for
    for user in (3, 4):
        for method in METHODS:
            run(method, user)
    before = _compiles(spark)
    run(METHODS[0], 11)
    compiled = _compiles(spark) - before
    assert compiled <= MAX_COMPILES, compiled
