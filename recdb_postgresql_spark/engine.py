"""Engine session + RecDB-equivalent top-level API.

Maps the reference's utility-command surface
(``PostgreSQL/src/backend/tcop/utility.c:856-1060`` — CREATE/DROP
RECOMMENDER) and the RECOMMEND query clause
(``PostgreSQL/src/backend/parser/parse_rec.c:56-112``,
``executor/execRecommend.c:302-595``) onto a DataFrame-emitting
library layer.
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from recdb_postgresql_spark.catalog import RecCatalog, RecommenderInfo
from recdb_postgresql_spark.functions.mat import materialize
from recdb_postgresql_spark.operators import cf, svd as svd_mod

METHODS = ("itemcoscf", "itempearcf", "usercoscf", "userpearcf", "svd")

logger = logging.getLogger(__name__)


@dataclass
class _ScoredPlan:
    """A recommender's unfiltered scored frame plus what it was built
    from: the catalog generation, the output columns and the events."""
    generation: int
    shape: tuple            # (userkey, itemkey, eventval, round_to)
    events: DataFrame
    files: tuple            # sorted events.inputFiles()
    scored: DataFrame


def get_spark(app: str = "recdb_spark", cpus: Optional[int] = None) -> SparkSession:
    """Local session tuned for the test harness (local[32], 32 shuffle
    partitions, AQE on). On a real cluster the same code runs unchanged;
    only master/conf differ.

    DataFrame origin capture is off: with it on, PySpark records the
    Python call site of every DataFrame/Column call through extra py4j
    round trips (about two thirds of the 1,500-1,900 that building one
    on-the-fly RECOMMEND statement makes). Only error messages lose
    that call-site text; a session built with
    ``spark.python.sql.dataFrameDebugging.enabled=true`` gets it back."""
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )


def cluster_conf(events_tb: float = 100.0, executors: int = 1000,
                 cores_per_executor: int = 4) -> dict[str, str]:
    """Recommended Spark conf for running this engine against ~100 TB
    on a real cluster. Local[32] testing uses get_spark(); these are
    the knobs that change at scale:

    - shuffle partitions ~ 2-3x total cores, and at least
      total_bytes / 200MB so no post-shuffle partition exceeds a few
      hundred MB (AQE coalesces the small ones back);
    - AQE + skew-join split hot user/item keys in the CF self-joins;
    - 256MB scan partitions keep the parquet reader efficient;
    - broadcast threshold raised: the item dimension and CF models are
      far below 512MB and should never shuffle.

    Alongside these confs, set ``RECDB_CF_MATERIALIZE=disk`` (env) on
    a cluster: the on-the-fly RECOMMEND path then materializes the
    full normalized-ratings frame (and the item-CF model) ONCE
    instead of re-executing the events scan + aggregate per consumer
    leg — at cluster data volumes one copy of that build saturates
    the executors, so the local-mode overlap that makes the lazy
    duplicated plan cheapest on the 32-core harness does not exist
    (measured crossover: stress.py cf_share probe). The local default
    stays ``none``.
    """
    total_cores = executors * cores_per_executor
    by_size = int(events_tb * 1024 * 1024 / 200)   # 200MB shuffle blocks
    return {
        "spark.sql.shuffle.partitions": str(max(2 * total_cores, by_size)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
        "spark.sql.autoBroadcastJoinThreshold": str(512 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    }


class RecEngine:
    """CREATE RECOMMENDER / DROP RECOMMENDER / RECOMMEND, Spark-first.

    The reference materializes models into heap tables and keeps a
    global ``RecModelsCatalogue`` (``utility.c:886-922``). Here a
    recommender is a trained model DataFrame (optionally persisted to
    parquet under ``workdir``) plus a catalog row.
    """

    def __init__(self, spark: SparkSession, workdir: Optional[str] = None,
                 update_threshold: float = 0.5,
                 tail_length: int = 100,
                 verbose_queries: bool = True,
                 svd_features: int = svd_mod.NUM_FEATURES,
                 svd_epochs: int = svd_mod.NUM_EPOCHS):
        self.spark = spark
        self.catalog = RecCatalog(workdir)
        # RecDBProperties triple (utility.c:903-907): the reference seeds
        # (update_threshold=0.5, tail_length=0, verbose_queries=true).
        self.update_threshold = update_threshold
        # tail_length: per-user cap on the materialized RecView.  The
        # reference declares the column but never reads it (grep-dead),
        # and its RecView is a dense users x items grid.  Here the knob
        # is live: materialize_predictions() keeps only the top
        # `tail_length` predictions per user, so the stored view scales
        # as users*k instead of users*items (the users x items
        # cross-product is the one materialization that cannot survive
        # 100 TB).  0 = unbounded = the reference's dense-grid
        # semantics, kept as an explicit opt-in.
        self.tail_length = tail_length
        # verbose_queries: pure log knob in the reference (no observable
        # query semantics); gates the per-RECOMMEND strategy log line.
        self.verbose_queries = verbose_queries
        # reference constants (recathon.c:2707,2788) — reducible for test speed
        self.svd_features = svd_features
        self.svd_epochs = svd_epochs
        # per recommender, the scored frame of its current generation
        # (see _plan_decision); one entry each, dropped with the
        # recommender
        self._scored: dict[str, _ScoredPlan] = {}
        # how the last RECOMMEND got its scored plan: "reused",
        # "rebuilt (<why>)", "on-the-fly" or "stored RecView"
        self.last_plan: Optional[str] = None

    # ------------------------------------------------------------------
    # DDL surface
    # ------------------------------------------------------------------
    def create_recommender(self, name: str, events: DataFrame, userkey: str,
                           itemkey: str, eventval: str, method: str,
                           events_name: str = "") -> RecommenderInfo:
        """Validate, train, persist — mirrors ProcessUtility T_CreateRStmt
        (``utility.c:856-955``) + validateCreateRStmt (``recathon.c:821-881``)."""
        method = method.lower()
        if method not in METHODS:
            raise ValueError(f"unknown method {method!r}; one of {METHODS}")
        for c in (userkey, itemkey, eventval):
            if c not in events.columns:
                # analog of "column does not exist" check recathon.c:662-696
                raise ValueError(f"column {c!r} not in events table {events.columns}")
        if self.catalog.get(name) is not None:
            raise ValueError(f"recommender {name!r} already exists")

        import datetime

        models = self._train(events, userkey, itemkey, eventval, method)
        event_total = events.count()
        info = RecommenderInfo(
            name=name, userkey=userkey, itemkey=itemkey, eventval=eventval,
            method=method, eventtable=events_name, event_total=event_total,
            update_counter=0, query_counter=0,
            # <name>Index declared surface: the reference seeds
            # 0.0/0.0/localtimestamp at CREATE (utility.c:171)
            update_rate=0.0, query_rate=0.0,
            levelone_timestamp=datetime.datetime.now(
                datetime.timezone.utc).isoformat(),
        )
        self.catalog.put(info, models, self.spark)
        return info

    def drop_recommender(self, name: str) -> None:
        """utility.c:956-1060 — drop model tables + catalog row."""
        self.catalog.drop(name)
        self._scored.pop(name, None)

    # ------------------------------------------------------------------
    # Query surface
    # ------------------------------------------------------------------
    def recommend(self, events: DataFrame, userkey: str, itemkey: str,
                  eventval: str, method: str = "itemcoscf",
                  name: Optional[str] = None,
                  user_where: Optional[Column] = None,
                  where: Optional[Column] = None,
                  k: Optional[int] = None,
                  round_to: Optional[int] = None,
                  ts_col: Optional[str] = None,
                  half_life: Optional[float] = None) -> DataFrame:
        """The RECOMMEND clause as a DataFrame pipeline.

        Semantics follow ExecFilterRecommend (``execRecommend.c:302-595``):
        for each user passing the user-only WHERE x each distinct item,
        emit (user, item, predicted score); the residual WHERE (which may
        reference the score column, RecDB's ``noFilter`` path —
        ``parse_rec.c:687-728``) is applied after scoring; ORDER BY score
        DESC LIMIT k is the reference regression suite's top-k shape.

        Already-rated items are scored too (the reference's pending list
        holds *all* items — ``recathon.c:3942-3958``).

        A stored recommender's unfiltered scored frame (``name`` given,
        no ``user_where``/``where``/``k``/``ts_col``/``half_life``: the
        RecSQL path) is built once and returned again while the
        recommender's generation, the output columns and the events
        snapshot stay the same (``_plan_decision``).
        """
        method = method.lower()
        info = self.catalog.get(name) if name else None
        plan, files, restricting = "on-the-fly", (), []
        if info is not None:
            method = info.method
            # R16: materialized queries bump the query counter
            # (execRecommend.c:831-836) and the rate-interval counter
            info.query_counter += 1
            info.query_counter2 += 1
            self.catalog.update_meta(info)
            restricting = [arg for arg, v in (
                ("user_where", user_where), ("where", where), ("k", k),
                ("ts_col", ts_col), ("half_life", half_life)) if v is not None]
            shape = (userkey, itemkey, eventval, round_to)
            plan, files = self._plan_decision(info, events, shape, restricting)
        self.last_plan = plan
        if self.verbose_queries:
            # RecDBProperties.verbose_queries (utility.c:907): a pure
            # log knob — one strategy line per RECOMMEND, no semantics.
            logger.info("RECOMMEND %s strategy=%s method=%s k=%s plan=%s",
                        name or "<on-the-fly>",
                        "FilterRecommend" if info else "GenerateRecommend",
                        method, k, plan)
        if plan == "reused":
            return self._scored[info.name].scored
        # NOT cached: each downstream use of `ratings` carries different
        # pushable predicates (user-WHERE prunes the rated-list branch at
        # the parquet scan); a cache would materialize the unfiltered
        # aggregate and block that pushdown (measured 2-5x slower).
        # ts_col/half_life: recency weighting (cf.normalize_events);
        # None = the reference's unweighted semantics, identical plan
        ratings = cf.normalize_events(events, userkey, itemkey, eventval,
                                      ts_col=ts_col, half_life=half_life)
        ratings_full = None
        if info is not None:
            keys = ("user_model", "item_model") if method == "svd" else ("model",)
            models = self.catalog.load_models(info, self.spark, keys)
        else:
            # on-the-fly "GenerateRecommend" path: train at query time.
            # The caller splits its WHERE explicitly: only the user-only
            # conjuncts arrive here, as `user_where` (RecSQL derives
            # them from the statement's WHERE, parse_rec.c:1109-1211).
            # They filter the target users below, and for user-CF the
            # predict join carries that filter through symmetrize()
            # into the e1 pair side, so only the target users' pairs
            # are built (measured: caching the full user-CF model at
            # sf0.1 made it 4x slower) — but every OTHER consumer of
            # the normalized ratings (the e2 pair side, norms/means,
            # neighbor ratings, the item dimension) reads them in FULL,
            # and Catalyst re-executes the events scan + (user,item)
            # aggregate once per such leg (8-21 scans per query at
            # sf0.1). Whether de-duplicating those legs PAYS is purely
            # a question of scale, so it is a policy knob
            # (RECDB_CF_MATERIALIZE), not a hard-coded plan shape:
            #
            # - 'none' (default): fully lazy, duplicated subtrees. On
            #   the harness box the duplicated stages overlap on
            #   otherwise-idle cores and every materialization barrier
            #   LOSES (interleaved A/B at sf0.1: item-CF lazy
            #   1.3-1.7 s vs 1.9-2.7 s with any checkpoint combination
            #   — the r12 §3 negative result extends to the model
            #   subtree).
            # - 'local'/'disk': one materialization of the full
            #   ratings feeding exactly the unprunable legs, and for
            #   the item-CF methods (whose whole model the user filter
            #   can never reach — it is item-keyed) the trained model
            #   too, which also stops symmetrize() from building it
            #   twice. Once one copy of the build saturates the cores
            #   the overlap argument dies and re-execution costs
            #   ~linearly per leg: measured crossover at the x64
            #   decade (stress.py cf_share probe, 4.7M ratings) —
            #   user-CF 17.4 s lazy vs 12.9 s materialized (1.34x);
            #   item-CF has not crossed yet at x64 (0.81x — its
            #   amplified input still sits in page cache, so
            #   re-scans stay nearly free), but at real cluster
            #   volumes the 9-12 redundant cold scans of the events
            #   table dominate. Hence cluster_conf recommends
            #   'disk' off the harness box; the bench default stays
            #   'none'.
            #
            # The prunable legs (user-WHERE side of the pair join,
            # target users, per-user averages) stay lazy under EVERY
            # policy so their parquet pushdown survives. Users wanting
            # the model amortized ACROSS queries should
            # create_recommender() — the reference's
            # materialized/OP_FILTER regime (parse_rec.c:554-678).
            policy = os.environ.get("RECDB_CF_MATERIALIZE", "none")
            ratings_full = materialize(ratings, storage=policy)
            if method in ("itemcoscf", "itempearcf"):
                models = self._train_ratings(ratings_full, method)
                models = {"model": materialize(models["model"],
                                               storage=policy)}
            elif method in ("usercoscf", "userpearcf"):
                models = self._train_ratings(ratings, method,
                                             ratings_full=ratings_full)
            else:
                models = self._train_ratings(ratings_full, method)
        rf = ratings_full if ratings_full is not None else ratings
        # the target users' ratings: user_where names the user column
        # as the caller's events do, and filters the lazy ratings so it
        # reaches their scan
        rated = rf if user_where is None else (
            ratings.withColumnRenamed("user", userkey).filter(user_where)
            .withColumnRenamed(userkey, "user"))
        users = rated.select("user").distinct()
        items = rf.select("item").distinct()

        if method == "itemcoscf" or method == "itempearcf":
            # the rated rows are the target ratings themselves, no
            # users x ratings re-join
            scored = cf.predict_item_cf(models["model"], rated, None, items)
        elif method == "usercoscf" or method == "userpearcf":
            scored = cf.predict_user_cf(models["model"], ratings, users, items,
                                        ratings_full=ratings_full)
        elif method == "svd":
            scored = svd_mod.predict_svd(models["user_model"], models["item_model"],
                                         users, items)
        else:
            raise ValueError(f"unknown method {method!r}; one of {METHODS}")

        out = scored.select(
            F.col("user").alias(userkey),
            F.col("item").alias(itemkey),
            (F.round("score", round_to) if round_to is not None
             else F.col("score")).alias(eventval),
        )
        if where is not None:
            out = out.filter(where)
        if k is not None:
            # TakeOrderedAndProject top-k; deterministic tie-break on keys
            out = out.orderBy(F.col(eventval).desc(), F.col(userkey), F.col(itemkey)).limit(k)
        if info is not None and not restricting:
            self._scored[info.name] = _ScoredPlan(
                self.catalog.generation(info.name), shape, events, files, out)
        return out

    def _plan_decision(self, info: RecommenderInfo, events: DataFrame,
                       shape: tuple, restricting: list[str]) -> tuple[str, tuple]:
        """Whether ``recommend`` can return the stored scored frame of
        ``info``, and why not: ("reused" | "rebuilt (<why>)", sorted
        input files of ``events``).

        Reuse needs the same catalog generation (bumped by every model
        write or drop), the same output columns, and the same events
        snapshot: equal ``inputFiles()`` AND ``sameSemantics``. The file
        list is required because a parquet scan compares by root path,
        so a fresh read of a directory that has since grown would
        otherwise match."""
        if restricting:
            return ("rebuilt (non-reusable arguments: "
                    f"{', '.join(restricting)})", ())
        files = tuple(sorted(events.inputFiles()))
        prev = self._scored.get(info.name)
        if prev is None or prev.generation != self.catalog.generation(info.name):
            return "rebuilt (new generation)", files
        if prev.shape != shape:
            return "rebuilt (other columns)", files
        if prev.files != files or not events.sameSemantics(prev.events):
            return "rebuilt (events changed)", files
        return "reused", files

    def materialize_predictions(self, name: str, events: DataFrame,
                                k: Optional[int] = None,
                                full_grid: bool = False) -> None:
        """R6 (IndexRecommend): precompute the RecView predictions table
        for a materialized recommender. The reference creates the
        RecView at CREATE time but its read path is gated off
        (execRecommend.c:935-940); here it is a working option:
        ``recommend_from_view(n)`` — and the RecSQL front door, which
        routes a statement the capped view answers exactly to it
        (IndexRecommend) — is a pure filter + top-k over the stored
        table, the right trade when queries vastly outnumber model
        refreshes.

        Scale contract: the stored view is capped to the top ``k``
        predictions PER USER (``k`` defaults from the engine's
        ``tail_length`` property — the RecDBProperties knob the
        reference declares at utility.c:903-907 but never reads).  The
        reference's RecView is a dense users x items grid; at 100 TB
        that cross-product is unmaterializable, and every downstream
        read is a per-user top-k anyway.  ``full_grid=True`` (or
        ``tail_length=0`` with no ``k``) restores the dense reference
        semantics as an explicit opt-in for small catalogs / oracle
        parity. ``recommend_from_view(k=q)`` is exact for q <= cap."""
        info = self.catalog.get(name)
        if info is None:
            raise ValueError(f"no recommender {name!r}")
        preds = self.recommend(events, info.userkey, info.itemkey,
                               info.eventval, name=name).select(
            F.col(info.userkey).alias("user"), F.col(info.itemkey).alias("item"),
            F.col(info.eventval).alias("score"))
        cap = k if k is not None else self.tail_length
        if not full_grid and cap and cap > 0:
            # per-user top-k: one hash-partitioned window pass; with AQE
            # the rank filter runs map-side after the sort within each
            # user partition — no users x items blowup ever materializes.
            w = (Window.partitionBy("user")
                 .orderBy(F.col("score").desc(), F.col("item")))
            preds = (preds.withColumn("_rn", F.row_number().over(w))
                     .filter(F.col("_rn") <= cap).drop("_rn"))
            info.view_cap = int(cap)
        else:
            info.view_cap = 0  # dense full grid — reads are unbounded
        # add_model_table persists the updated info (incl. view_cap) in
        # the manifest, so read-path validation survives restarts
        self.catalog.add_model_table(info, "recview", preds, self.spark)

    def recommend_from_view(self, name: str,
                            user_where: Optional[Column] = None,
                            k: Optional[int] = None, *,
                            allow_capped: bool = False) -> DataFrame:
        """IndexRecommend read path (execRecommend.c:151-294): filter
        the precomputed predictions to the target users.

        Reads are validated against the cap recorded at materialize
        time (``RecommenderInfo.view_cap``): a global top-k with
        ``k <= cap`` is always exact (each of the k rows is within its
        own user's top-k), but ``k > cap`` could need rows the capped
        view never stored, so it raises instead of silently returning
        a truncated answer; ``k=None`` returns the capped table itself
        (users x cap rows, NOT the reference's dense grid) and logs a
        warning unless the caller opts in with ``allow_capped=True``
        (ADVICE r11)."""
        info = self.catalog.get(name)
        if info is None or "recview" not in info.model_tables:
            raise ValueError(f"no materialized RecView for {name!r}")
        cap = getattr(info, "view_cap", -1)
        if cap > 0:
            if k is None:
                if not allow_capped:
                    logger.warning(
                        "RecView %r is capped to the top %d predictions "
                        "per user (not the dense users x items grid); "
                        "reading it whole returns at most %d rows per "
                        "user — use recommend() for full-grid scoring "
                        "or materialize_predictions(full_grid=True)",
                        name, cap, cap)
            elif k > cap:
                raise ValueError(
                    f"RecView for {name!r} was materialized with "
                    f"per-user cap {cap}; a top-{k} read could need "
                    f"rows the view never stored. Re-materialize with "
                    f"k>={k} (or full_grid=True), or score live with "
                    f"recommend().")
        view = self.catalog.load_models(info, self.spark, ["recview"])["recview"]
        self.last_plan = "stored RecView"
        out = view.select(F.col("user").alias(info.userkey),
                          F.col("item").alias(info.itemkey),
                          F.col("score").alias(info.eventval))
        if user_where is not None:
            out = out.filter(user_where)
        if k is not None:
            out = out.orderBy(F.col(info.eventval).desc(),
                              F.col(info.userkey), F.col(info.itemkey)).limit(k)
        return out

    def explain(self, events: DataFrame, userkey: str, itemkey: str,
                eventval: str, method: str = "itemcoscf",
                name: Optional[str] = None,
                join_with: Optional[DataFrame] = None,
                join_on: Optional[Column] = None,
                use_view: bool = False,
                user_where: Optional[Column] = None) -> str:
        """R19 (explain.c:767-793): report the chosen rec-strategy plus
        Spark's formatted physical plan. Strategy labels mirror the
        reference's opType switch exactly:

        - ``GenerateRecommend`` — train-at-query (OP_GENERATE);
        - ``FilterRecommend`` — materialized model (OP_FILTER);
        - ``JoinRecommend`` / ``GenerateJoinRecommend`` — the scored
          view feeds a join (OP_JOIN / OP_GENERATEJOIN,
          parse_rec.c:575-580, createplan.c:634-639): pass
          ``join_with`` (+ optional ``join_on``) to explain the joined
          plan;
        - ``IndexRecommend`` — the RecView read path (OP_INDEX; dead in
          the reference — execRecommend.c:935-940 — live here): pass
          ``use_view=True`` with a materialized ``name``.

        (The reference's remaining label, ``StandardRecommend`` for
        OP_NOFILTER, is never assigned anywhere in its parser — dead
        enum value, not reproduced.)

        The second line, ``Scored plan:``, is the ``last_plan`` decision
        of that call: whether a stored model's scored plan was reused or
        rebuilt and why (see ``recommend``). The third, ``User filter:``,
        is ``user_where``: pushed into the model build, or a filter over
        the RecView with ``use_view``; ``none`` without one (why a
        RecSQL statement pushed nothing is ``RecSQL.last_pushdown``)."""
        info = self.catalog.get(name) if name else None
        if use_view:
            if info is None:
                raise ValueError("IndexRecommend explain needs a "
                                 "materialized recommender name")
            strategy = "IndexRecommend"
            df = self.recommend_from_view(name, user_where=user_where,
                                          allow_capped=True)
        else:
            df = self.recommend(events, userkey, itemkey, eventval, method,
                                name=name, user_where=user_where)
            if join_with is not None:
                strategy = ("JoinRecommend" if info is not None
                            else "GenerateJoinRecommend")
                df = (df.join(join_with, join_on) if join_on is not None
                      else df.crossJoin(join_with))
            else:
                strategy = ("FilterRecommend" if info is not None
                            else "GenerateRecommend")
        if user_where is None:
            pushed = "none"
        else:
            pushed = user_where._jc.toString() + (
                " (view filter)" if use_view else " (pushed into the build)")
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        return (f"Recommend strategy: {strategy}\n"
                f"Scored plan: {self.last_plan}\n"
                f"User filter: {pushed}\n{plan}")

    # ------------------------------------------------------------------
    # Maintenance (R15): INSERT-hook counter + threshold retrain
    # ------------------------------------------------------------------
    def record_insert(self, name: str, new_events: DataFrame,
                      all_events: DataFrame) -> None:
        """The INSERT hook (``nodeModifyTable.c:271`` ->
        ``updateCellCounter``, ``recathon.c:960-1203``): bump the
        counter; full retrain from ``all_events`` (the table's current
        contents) when counter >= update_threshold * eventtotal, then
        reset. Called by ``EventStore.append`` for bound recommenders —
        an INSERT through the store surface retrains with no manual
        maintenance call, as in the reference."""
        info = self.catalog.get(name)
        if info is None:
            raise ValueError(f"no recommender {name!r}")
        n_new = new_events.count()
        info.update_counter += n_new
        info.update_counter2 += n_new
        if info.update_counter >= self.update_threshold * max(info.event_total, 1):
            models = self._train(all_events, info.userkey, info.itemkey,
                                 info.eventval, info.method)
            info.event_total += info.update_counter
            info.update_counter = 0
            self.catalog.put(info, models, self.spark, replace=True)
        else:
            self.catalog.update_meta(info)

    def recommend_foldin(self, name: str, new_ratings: DataFrame,
                         k: Optional[int] = None,
                         reg: float = 0.1,
                         implicit: bool = False, alpha: float = 1.0,
                         on_unresolved: str = "error") -> DataFrame:
        """Between-retrains serve path for BRAND-NEW users of a
        factor-model recommender (VERDICT r7 Missing #5): R15 only
        retrains when the insert counter crosses the threshold, so a
        user who arrived since the last retrain has no row in the
        stored user model. Fold-in closes that gap: per-user
        closed-form ridge against the STORED item factors
        (``svd.als_fold_in`` — exactly the ALS user half-step), then
        the normal factor-join scoring. ``new_ratings`` carries the
        new users' (user, item, rating) events; returns (user, item,
        score) top-k per user over their unrated items, the
        ``recommend`` contract.

        ``implicit=True`` serves cold users of an IMPLICIT model via
        the confidence-weighted half-step (``als_fold_in_implicit``,
        Hu/Koren/Volinsky eq. 4 with MLlib lambda weighting);
        ``alpha`` must match the trained model. Users whose events all
        reference items ABSENT from the stored item model cannot be
        placed: ``on_unresolved='error'`` (default) raises naming
        them; ``'ignore'`` drops them silently."""
        from pyspark.sql import Window

        info = self.catalog.get(name)
        if info is None:
            raise ValueError(f"no recommender {name!r}")
        if "item_model" not in info.model_tables:
            raise ValueError(f"{name!r} is not a factor-model "
                             "recommender (no item_model) — fold-in "
                             "needs fixed item factors")
        im = self.catalog.load_models(info, self.spark,
                                      ["item_model"])["item_model"]
        nr = cf.normalize_events(new_ratings, info.userkey,
                                 info.itemkey, info.eventval)
        # Fold-in inner-joins the new events to the STORED item
        # factors, so a user whose events are ALL unseen items would
        # otherwise vanish from the output silently (ADVICE r8).
        if on_unresolved not in ("error", "ignore"):
            raise ValueError("on_unresolved must be 'error' or 'ignore'")
        if on_unresolved == "error":
            known = im.select(F.col("items").alias("item")).distinct()
            lost = (nr.select("user").distinct()
                    .join(nr.join(known, "item", "left_semi")
                          .select("user").distinct(), "user",
                          "left_anti").limit(20).collect())
            if lost:
                raise ValueError(
                    f"recommend_foldin({name!r}): users "
                    f"{sorted(r['user'] for r in lost)} have NO events "
                    "on items known to the stored item model; fold-in "
                    "cannot place them (retrain, or pass "
                    "on_unresolved='ignore' to drop them)")
        if implicit:
            um_new = svd_mod.als_fold_in_implicit(im, nr, reg=reg,
                                                  alpha=alpha)
        else:
            um_new = svd_mod.als_fold_in(im, nr, reg=reg)
        users = um_new.select(F.col("users").alias("user")).distinct()
        items = im.select(F.col("items").alias("item")).distinct()
        scores = svd_mod.predict_svd(um_new, im, users, items)
        unrated = scores.join(nr.select("user", "item"),
                              ["user", "item"], "left_anti")
        out = unrated.select(F.col("user").alias(info.userkey),
                             F.col("item").alias(info.itemkey),
                             F.col("score").alias(info.eventval))
        if k is not None:
            w = Window.partitionBy(info.userkey).orderBy(
                F.col(info.eventval).desc(), F.col(info.itemkey))
            out = (out.withColumn("_rn", F.row_number().over(w))
                   .where(F.col("_rn") <= k).drop("_rn"))
        return out

    def refresh_rates(self, name: str, interval_s: float = 10.0,
                      query_threshold: float = 0.1,
                      update_threshold: float = 0.1) -> str:
        """The rate-updater loop body
        (``experiments/recathon_rateupdate.c:133-153``): derive
        query/update rates from the interval counters, reset them
        (NOT the retrain counter), and classify the recommender cell —
        Alpha (hot/hot), Gamma (query-hot), Beta (update-hot), Delta
        (cold). Returns the cell type. Call periodically (the reference
        runs it every 10s from a sidecar client)."""
        info = self.catalog.get(name)
        if info is None:
            raise ValueError(f"no recommender {name!r}")
        info.query_rate = info.query_counter2 / interval_s
        info.update_rate = info.update_counter2 / interval_s
        info.query_counter2 = 0
        info.update_counter2 = 0
        if info.query_rate >= query_threshold:
            info.celltype = ("Alpha" if info.update_rate >= update_threshold
                             else "Gamma")
        elif info.update_rate >= update_threshold:
            info.celltype = "Beta"
        else:
            info.celltype = "Delta"
        self.catalog.update_meta(info)
        return info.celltype

    def append_events(self, name: str, events: DataFrame, new_events: DataFrame,
                      userkey: str, itemkey: str, eventval: str) -> DataFrame:
        """Batch-caller convenience over ``record_insert``: returns the
        combined events table the caller should use from now on."""
        combined = events.unionByName(new_events)
        self.record_insert(name, new_events, combined)
        return combined

    # ------------------------------------------------------------------
    def _train(self, events: DataFrame, userkey: str, itemkey: str,
               eventval: str, method: str) -> dict[str, DataFrame]:
        ratings = cf.normalize_events(events, userkey, itemkey, eventval)
        # materialized builds get the hot-key rater cap by default: the
        # persisted model must be buildable even with a viral item,
        # and there is no per-query predicate to prune the pair join
        return self._train_ratings(ratings, method,
                                   max_coraters=cf.AUTO_CORATER_CAP)

    def _train_ratings(self, ratings: DataFrame, method: str,
                       max_coraters: Optional[int] = None,
                       ratings_full: Optional[DataFrame] = None,
                       ) -> dict[str, DataFrame]:
        if method == "itemcoscf":
            return {"model": cf.train_item_cos(ratings, max_coraters=max_coraters)}
        if method == "itempearcf":
            return {"model": cf.train_item_pearson(ratings, max_coraters=max_coraters)}
        if method == "usercoscf":
            return {"model": cf.train_user_cos(ratings, max_coraters=max_coraters,
                                               ratings_full=ratings_full)}
        if method == "userpearcf":
            return {"model": cf.train_user_pearson(ratings, max_coraters=max_coraters,
                                                   ratings_full=ratings_full)}
        if method == "svd":
            um, im = svd_mod.train_funk_svd(self.spark, ratings,
                                            num_features=self.svd_features,
                                            num_epochs=self.svd_epochs)
            return {"user_model": um, "item_model": im}
        raise ValueError(method)
