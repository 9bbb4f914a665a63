"""The workloads and the closed-loop client that drives them.

Each workload object owns its state under ``work`` and offers
``setup()`` (everything before the measured phase; repeatable),
``execute(op_id, op)`` (one measured operation) and ``check()``
(answer checks after the measured phase). One client thread sends the
next operation only after the previous one returned its rows.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from collections import defaultdict
from typing import Optional
from urllib.parse import urlparse

from pyspark.sql import functions as F

import check
import gen
from recdb_postgresql_spark import RecEngine
from recdb_postgresql_spark.plans import RecSQL
from recdb_postgresql_spark.sources.event_store import EventStore

# ingest_mixed: a full ItemCosCF retrain fires on every second INSERT
# batch: 2 * INSERT_ROWS >= UPDATE_THRESHOLD * events > INSERT_ROWS
# for the generated 40k events, and stays so until 66 retrains have
# grown the event total to 2 * INSERT_ROWS / UPDATE_THRESHOLD (53k),
# far more than a run makes
UPDATE_THRESHOLD = 0.00375
# UserCosCF is not materialized: its CREATE plus a RecView on it
# doubled the set-up time, and user-CF is timed on serve_on_the_fly
MATERIALIZED = ("ItemCosCF", "SVD")
# SVD keeps the reference's 50 features but trains 20 epochs instead of
# 100: a warm CREATE takes 5.5 s at 100 epochs and 2.3 s at 20, and
# every run repeats the set-up three times
SVD_EPOCHS = 20


def _files(uris) -> list[str]:
    return sorted(urlparse(u).path for u in uris)


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.answers: list[tuple] = []      # (op_id, Statement, rows, context)
        self.part_names: dict = {}

    # -- shared pieces -------------------------------------------------
    def _load_inputs(self) -> None:
        """Write the seeded tables as parquet and register them as the
        temp views the statements name."""
        inp = os.path.join(self.work, "input")
        os.makedirs(inp, exist_ok=True)
        self.ratings_path = os.path.join(inp, "ratings.parquet")
        gen.ratings(self.seed, gen.USERS[self.name]) \
            .to_parquet(self.ratings_path, index=False)
        part = gen.part(self.seed)
        part.to_parquet(os.path.join(inp, "part.parquet"), index=False)
        self.part_names = dict(zip(part.p_partkey.tolist(), part.p_name.tolist()))
        self.spark.read.parquet(self.ratings_path).createOrReplaceTempView("ml_ratings")
        self.spark.read.parquet(os.path.join(inp, "part.parquet")) \
            .createOrReplaceTempView("part")

    def _fresh_engine(self, **kw) -> None:
        self.catalog_dir = os.path.join(self.work, "catalog")
        shutil.rmtree(self.catalog_dir, ignore_errors=True)
        self.engine = RecEngine(self.spark, workdir=self.catalog_dir, **kw)
        self.rs = RecSQL(self.engine)

    def _create(self, name: str, method: str) -> float:
        t0 = time.perf_counter()
        self.rs.sql(f"CREATE RECOMMENDER {name} ON ml_ratings USERS FROM userid "
                    f"ITEMS FROM itemid EVENTS FROM ratingval USING {method}")
        return time.perf_counter() - t0

    def _phase(self, op_id, op_type, phase):
        if self.tracer is not None:
            self.tracer.phase(op_id, op_type, phase)

    def _recommend(self, op_id: int, stmt: gen.Statement) -> dict:
        self._phase(op_id, "recommend", "build")
        t0 = time.perf_counter()
        df = self.rs.sql(stmt.sql)
        strategy = self.rs.last_strategy
        self._phase(op_id, "recommend", "exec")
        t1 = time.perf_counter()
        rows = [tuple(r) for r in df.collect()]
        t2 = time.perf_counter()
        self.answers.append((op_id, stmt, rows, self._answer_context(stmt)))
        return {"type": "recommend", "strategy": strategy, "method": stmt.method,
                "shape": stmt.shape, "latency_s": t2 - t0, "collect_s": t2 - t1}

    def _answer_context(self, stmt: gen.Statement):
        return None

    def execute(self, op_id: int, op) -> dict:
        return self._recommend(op_id, op)

    def stored_bytes(self) -> int:
        """Bytes the program keeps: catalog workdir plus event store
        (the benchmark's own input files are not counted)."""
        total = 0
        for top in ("catalog", "store"):
            for dirpath, _, files in os.walk(os.path.join(self.work, top)):
                total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return total

    def live_dirs(self) -> int:
        return 0

    def final_statement(self, stream) -> Optional[gen.Statement]:
        """A statement to run after the measured phase, if the checks
        need one more answer."""
        return None

    def _check_grids(self, answers, grid_for) -> list[tuple[int, str]]:
        """Compare answers grouped by (method, context) against one grid
        per group; returns (op_id, reason) for every wrong answer."""
        groups = defaultdict(list)
        for a in answers:
            groups[(a[1].method.lower(), a[3])].append(a)
        bad = []
        for (method, ctx), items in groups.items():
            users = {u for _, stmt, _, _ in items for u in stmt.users}
            grid = grid_for(method, ctx, users)
            for op_id, stmt, rows, _ in items:
                why = check.compare(stmt, rows, grid, self.part_names)
                if why:
                    bad.append((op_id, f"{stmt.method}/{stmt.shape}: {why}"))
        return bad


class ServeOnTheFly(Workload):
    """No recommender exists: every statement trains its model
    (GenerateRecommend), so cf / mat / Spark stages dominate and the
    catalog is bypassed."""
    name = "serve_on_the_fly"

    def setup(self) -> dict:
        self._load_inputs()
        self._fresh_engine()
        return {"create_s": 0.0}

    def check(self) -> list[tuple[int, str]]:
        return self._check_grids(
            self.answers, lambda method, ctx, users:
            check.oracle_grid([self.ratings_path], method, users))


class IngestMixed(Workload):
    """Materialized serving beside ingest: statements against two
    stored models (ItemCosCF, SVD) and a RecView on SVD, interleaved
    with INSERT batches through EventStore.append, whose threshold hook
    retrains the bound ItemCosCF model."""
    name = "ingest_mixed"
    BOUND = "rec_itemcoscf"
    VIEW = "rec_svd"

    def setup(self) -> dict:
        self._load_inputs()
        store_dir = os.path.join(self.work, "store")
        shutil.rmtree(store_dir, ignore_errors=True)
        self.store = EventStore(self.spark, store_dir)
        self.store.append(self.spark.read.parquet(self.ratings_path))
        self.store.read().createOrReplaceTempView("ml_ratings")
        self._fresh_engine(update_threshold=UPDATE_THRESHOLD, svd_epochs=SVD_EPOCHS)
        create_s = sum(self._create(f"rec_{m.lower()}", m) for m in MATERIALIZED)
        self.store.bind_recommender(self.engine, self.BOUND)
        # the RecView goes on a recommender no INSERT retrains: a
        # retrain replaces the model tables and with them the view
        self.engine.materialize_predictions(self.VIEW, self.spark.table("ml_ratings"))
        self.snapshot = self._current_snapshot()
        self.base = self.snapshot
        self.trained_on = {f"rec_{m.lower()}": self.snapshot for m in MATERIALIZED}
        return {"create_s": create_s}

    def _current_snapshot(self) -> tuple:
        return tuple(_files(self.spark.table("ml_ratings").inputFiles()))

    def _answer_context(self, stmt: gen.Statement):
        """Which events the answer is exactly checkable against, or None.
        SVD answers, RecView ones included, are checked against the
        engine's own stored-model grid (its model is never retrained
        here); a CF answer only while its model was trained on the
        events it is scored with."""
        if stmt.method == "SVD":
            return "svd"
        if self.trained_on[f"rec_{stmt.method.lower()}"] == self.snapshot:
            return self.snapshot
        return None

    def execute(self, op_id: int, op) -> dict:
        if isinstance(op, gen.Statement):
            return self._recommend(op_id, op)
        before = self.engine.catalog.get(self.BOUND).event_total
        batch = self.spark.createDataFrame(op.rows)
        self._phase(op_id, "insert", "exec")
        t0 = time.perf_counter()
        self.store.append(batch)
        self.store.read().createOrReplaceTempView("ml_ratings")
        t1 = time.perf_counter()
        # record_insert adds the counted rows to event_total on retrain
        retrained = self.engine.catalog.get(self.BOUND).event_total != before
        self.snapshot = self._current_snapshot()
        if retrained:
            self.trained_on[self.BOUND] = self.snapshot
        return {"type": "insert", "strategy": None, "retrain": retrained,
                "latency_s": t1 - t0, "collect_s": t1 - t0}

    def final_statement(self, stream) -> Optional[gen.Statement]:
        """The next read of the bound model when its newest retrain has
        not answered one yet, so every retrain is checked."""
        if (self.trained_on[self.BOUND] == self.snapshot != self.base
                and not any(a[3] == self.snapshot for a in self.answers)):
            return next(o for o in stream if isinstance(o, gen.Statement)
                        and f"rec_{o.method.lower()}" == self.BOUND)
        return None

    def check(self) -> list[tuple[int, str]]:
        def grid_for(method, ctx, users):
            if ctx == "svd":
                rows = self.engine.recommend(
                    self.spark.table("ml_ratings"), "userid", "itemid",
                    "ratingval", name="rec_svd",
                    user_where=F.col("userid").isin(sorted(users))).collect()
                # a null score (the SGD diverged) fails the answers
                # checked against it, in check.compare
                return {(int(r[0]), int(r[1])):
                        math.nan if r[2] is None else float(r[2]) for r in rows}
            return check.oracle_grid(list(ctx), method, users)

        bad = self._check_grids([a for a in self.answers if a[3] is not None],
                                grid_for)
        for op_id, stmt, rows, ctx in self.answers:
            if ctx is None:
                why = check.well_formed(stmt, rows, self.part_names)
                if why:
                    bad.append((op_id, f"{stmt.method}/{stmt.shape}: {why}"))
        return bad

    def live_dirs(self) -> int:
        return len({os.path.dirname(f) for f in self.snapshot})


WORKLOADS = {w.name: w for w in (ServeOnTheFly, IngestMixed)}
