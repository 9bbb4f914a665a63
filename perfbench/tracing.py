"""Traced run: spans around the program's public functions, Spark job
groups per operation, and the per-layer metrics derived from both.

The wrappers live here, not in the program: ``install`` replaces each
name where its caller looks it up (``RecEngine`` calls
``cf.train_item_cos`` through the module, but binds ``materialize``
into its own namespace, so both ``engine.materialize`` and
``mat.materialize`` are wrapped) and ``uninstall`` puts the originals
back.

Spans (name, start, end, parent, op id) are kept in memory and written
out at the end together with the per-job, per-stage and per-task
numbers read back from Spark's event log, which only this run enables.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from typing import Callable, Optional

import summary

OP_TYPES = ("recommend", "insert")
STRATEGIES = {"FilterRecommend": "filter", "IndexRecommend": "index",
              "GenerateRecommend": "generate"}
# build_jobs_per_op is recommend-only: an INSERT has no build phase
EXEC_METRICS = (("exec_jobs_per_op", "count"),
                ("stages_per_op", "count"), ("tasks_per_stage", "count"),
                ("executor_run_s_per_op", "s"),
                ("shuffle_write_bytes_per_op", "bytes"),
                ("spill_bytes", "bytes"), ("collect_s", "s"))


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except FileNotFoundError:
                pass
    return total


def _targets():
    """(owner, attribute, span name, bytes-written probe) for every
    wrapped public function."""
    from recdb_postgresql_spark import catalog, engine
    from recdb_postgresql_spark.functions import mat
    from recdb_postgresql_spark.operators import cf, svd
    from recdb_postgresql_spark.plans import sql_rewriter
    from recdb_postgresql_spark.sources import event_store

    def manifest(cat):
        return os.path.getsize(cat._manifest_path()) if cat.workdir else 0

    def put_bytes(args, kw):
        cat, info = args[0], args[1]
        return manifest(cat) + (_dir_bytes(os.path.join(cat.workdir, info.name))
                                if cat.workdir else 0)

    def add_table_bytes(args, kw):
        cat, info, key = args[0], args[1], args[2]
        return manifest(cat) + (_dir_bytes(os.path.join(cat.workdir, info.name, key))
                                if cat.workdir else 0)

    def append_bytes(args, kw):
        store = args[0]
        m = store._manifest()
        return (_dir_bytes(os.path.join(store.path, m["dirs"][-1]))
                + 2 * os.path.getsize(os.path.join(store.path, "manifest.json")))

    E, C, S = engine.RecEngine, catalog.RecCatalog, event_store.EventStore
    return [
        (sql_rewriter.RecSQL, "sql", "plans.sql", None),
        (E, "recommend", "engine.recommend", None),
        (E, "recommend_from_view", "engine.recommend_from_view", None),
        (E, "create_recommender", "engine.create", None),
        (E, "materialize_predictions", "engine.materialize_predictions", None),
        (E, "record_insert", "engine.record_insert", None),
        (E, "_train", "engine.train", None),
        (C, "load_models", "catalog.load_models", None),
        (C, "update_meta", "catalog.update_meta", lambda a, k: manifest(a[0])),
        (C, "put", "catalog.put", put_bytes),
        (C, "add_model_table", "catalog.add_model_table", add_table_bytes),
        (cf, "train_item_cos", "cf.train", None),
        (cf, "train_item_pearson", "cf.train", None),
        (cf, "train_user_cos", "cf.train", None),
        (cf, "train_user_pearson", "cf.train", None),
        (cf, "predict_item_cf", "cf.predict", None),
        (cf, "predict_user_cf", "cf.predict", None),
        (svd, "train_funk_svd", "svd.train", None),
        (svd, "predict_svd", "svd.predict", None),
        (engine, "materialize", "mat.materialize", None),
        (mat, "materialize", "mat.materialize", None),
        (S, "append", "event_store.append", append_bytes),
        (S, "read", "event_store.read", None),
    ]


class Tracer:
    """Span recorder. One client thread, so one span stack."""

    def __init__(self, spark, eventlog_dir: str):
        self.sc = spark.sparkContext
        self.eventlog_dir = eventlog_dir
        self.enabled = False
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op: Optional[int] = None
        self.bytes_written: dict[tuple, int] = defaultdict(int)   # (layer, op)
        self.own_s: dict = defaultdict(float)     # op -> the tracer's own time
        self._saved: list[tuple] = []

    # -- wrapping ------------------------------------------------------
    def install(self) -> None:
        for owner, attr, name, probe in _targets():
            orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(name, orig, probe))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def _wrap(self, name: str, fn: Callable, probe) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kw):
            if not tracer.enabled:
                return fn(*args, **kw)
            t0 = time.perf_counter()
            op = tracer.op
            span = {"id": len(tracer.spans), "name": name, "op": op,
                    "parent": tracer.stack[-1] if tracer.stack else None,
                    "start": None, "end": None}
            tracer.spans.append(span)
            tracer.stack.append(span["id"])
            span["start"] = t1 = time.perf_counter()
            tracer.own_s[op] += t1 - t0
            try:
                out = fn(*args, **kw)
            finally:
                span["end"] = t2 = time.perf_counter()
                tracer.stack.pop()
            if probe is not None:
                tracer.bytes_written[name.split(".")[0], op] += probe(args, kw)
            tracer.own_s[op] += time.perf_counter() - t2
            return out
        return traced

    # -- per-operation Spark job groups ---------------------------------
    def phase(self, op_id: Optional[int], op_type: str, phase: str) -> None:
        """Tag the Spark jobs fired from here on with the operation and
        its phase (build: the statement call; exec: collecting rows)."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        self.op = op_id
        self.sc.setJobGroup(f"perfbench:{op_id}:{op_type}:{phase}",
                            f"{op_type} {phase}")
        self.own_s[op_id] += time.perf_counter() - t0

    def end_op(self) -> None:
        if self.enabled:
            t0 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.own_s[self.op] += time.perf_counter() - t0
            self.op = None

    # -- event log -----------------------------------------------------
    def spark_numbers(self) -> dict:
        """Per job group: jobs, stages run, tasks, executor run time,
        shuffle bytes written and bytes spilled, from the event log.
        Call after the SparkContext has stopped (the log is flushed)."""
        files = [f for f in glob.glob(os.path.join(self.eventlog_dir, "*"))
                 if os.path.isfile(f)]
        groups: dict = defaultdict(lambda: {"jobs": 0, "stages": 0, "tasks": 0,
                                            "executor_run_s": 0.0,
                                            "shuffle_write_bytes": 0,
                                            "spill_bytes": 0})
        stage_group: dict = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        if g and g.startswith("perfbench:"):
                            groups[g]["jobs"] += 1
                            for sid in ev["Stage IDs"]:
                                stage_group[sid] = g
                    elif kind == "SparkListenerStageSubmitted":
                        g = stage_group.get(ev["Stage Info"]["Stage ID"])
                        if g:
                            groups[g]["stages"] += 1
                    elif kind == "SparkListenerTaskEnd":
                        g = stage_group.get(ev["Stage ID"])
                        m = ev.get("Task Metrics")
                        if not g or not m:
                            continue
                        rec = groups[g]
                        rec["tasks"] += 1
                        rec["executor_run_s"] += m["Executor Run Time"] / 1000.0
                        rec["shuffle_write_bytes"] += (
                            m["Shuffle Write Metrics"]["Shuffle Bytes Written"])
                        rec["spill_bytes"] += (m["Memory Bytes Spilled"]
                                               + m["Disk Bytes Spilled"])
        return dict(groups)

    def write(self, path: str, ops: list[dict], spark_numbers: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": ops,
                       "spark": spark_numbers}, f)


def _outermost(spans: list[dict], name: str) -> list[dict]:
    """Spans named ``name`` with no ancestor of the same name, so that
    a wrapped function calling another counts once."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if s["name"] != name:
            continue
        p = s["parent"]
        while p is not None and by_id[p]["name"] != name:
            p = by_id[p]["parent"]
        if p is None:
            out.append(s)
    return out


def _self_time(spans: list[dict], name: str) -> float:
    children = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]] += s["end"] - s["start"]
    return sum(s["end"] - s["start"] - children[s["id"]]
               for s in spans if s["name"] == name)


def layer_metrics(tracer: Tracer, ops: list[dict], spark_numbers: dict,
                  live_dirs: int, recommend_p50: Optional[float]) -> dict:
    """The per-layer metrics of a traced run.

    ``ops`` are the traced measured operations: {id, type, strategy,
    latency_s, collect_s}. Times are seconds per call and counts are
    calls, both over the spans of those operations; only
    ``engine.create_s`` and ``svd.train_s`` come from the set-up's spans,
    since CREATE RECOMMENDER runs nowhere else."""
    spans = [s for s in tracer.spans if s["end"] is not None]
    measured = {o["id"] for o in ops}
    in_ops = [s for s in spans if s["op"] in measured]
    setup = [s for s in spans if s["op"] is None]

    def calls(name, among=in_ops):
        return _outermost(among, name)

    def per_call(name, among=in_ops):
        c = calls(name, among)
        return sum(s["end"] - s["start"] for s in c) / len(c) if c else 0.0

    def self_per_call(name):
        n = len(calls(name))
        return _self_time(in_ops, name) / n if n else 0.0

    M = summary.metric
    out = {}
    rec_ops = [o for o in ops if o["type"] == "recommend"]
    out["plans.sql_s"] = M(per_call("plans.sql"), "s")
    out["plans.self_s"] = M(self_per_call("plans.sql"), "s")
    for label, short in STRATEGIES.items():
        lat = [o["latency_s"] for o in rec_ops if o["strategy"] == label]
        out[f"plans.strategy.{short}"] = M(len(lat), "count")
        out[f"plans.strategy.{short}_p50_s"] = M(summary.p50(lat) or 0.0, "s")

    out["engine.recommend_calls"] = M(len(calls("engine.recommend")), "count")
    for name in ("recommend", "recommend_from_view", "record_insert"):
        out[f"engine.{name}_s"] = M(per_call(f"engine.{name}"), "s")
    out["engine.create_s"] = M(per_call("engine.create", setup), "s")
    by_id = {s["id"]: s for s in spans}
    out["engine.retrains"] = M(sum(
        1 for s in calls("engine.train")
        if s["parent"] is not None
        and by_id[s["parent"]]["name"] == "engine.record_insert"), "count")

    for name in ("load_models", "update_meta"):
        out[f"catalog.{name}_calls"] = M(len(calls(f"catalog.{name}")), "count")
        out[f"catalog.{name}_s"] = M(per_call(f"catalog.{name}"), "s")
    out["catalog.put_s"] = M(per_call("catalog.put"), "s")
    def written(layer):
        return sum(n for (lay, op), n in tracer.bytes_written.items()
                   if lay == layer and op in measured)

    out["catalog.bytes_written"] = M(written("catalog"), "bytes")

    out["cf.train_s"] = M(per_call("cf.train"), "s")
    out["cf.predict_s"] = M(per_call("cf.predict"), "s")
    out["svd.train_s"] = M(per_call("svd.train", setup), "s")
    out["svd.predict_s"] = M(per_call("svd.predict"), "s")
    out["mat.calls"] = M(len(calls("mat.materialize")), "count")
    out["mat.s"] = M(per_call("mat.materialize"), "s")

    out["event_store.append_s"] = M(self_per_call("event_store.append"), "s")
    out["event_store.read_s"] = M(per_call("event_store.read"), "s")
    out["event_store.live_dirs"] = M(live_dirs, "count")
    out["event_store.bytes_written"] = M(written("event_store"), "bytes")

    for op_type in OP_TYPES:
        typed = [o for o in ops if o["type"] == op_type]
        n = len(typed)
        tot = defaultdict(float)
        for o in typed:
            for phase in ("build", "exec"):
                g = spark_numbers.get(f"perfbench:{o['id']}:{op_type}:{phase}", {})
                tot[f"{phase}_jobs"] += g.get("jobs", 0)
                for k in ("stages", "tasks", "executor_run_s",
                          "shuffle_write_bytes", "spill_bytes"):
                    tot[k] += g.get(k, 0)
        vals = {
            "build_jobs_per_op": tot["build_jobs"] / n if n else 0.0,
            "exec_jobs_per_op": tot["exec_jobs"] / n if n else 0.0,
            "stages_per_op": tot["stages"] / n if n else 0.0,
            "tasks_per_stage": tot["tasks"] / tot["stages"] if tot["stages"] else 0.0,
            "executor_run_s_per_op": tot["executor_run_s"] / n if n else 0.0,
            "shuffle_write_bytes_per_op": tot["shuffle_write_bytes"] / n if n else 0.0,
            "spill_bytes": tot["spill_bytes"],
            "collect_s": (sum(o["collect_s"] for o in typed) / n) if n else 0.0,
        }
        keys = EXEC_METRICS
        if op_type == "recommend":
            keys = (("build_jobs_per_op", "count"),) + keys
        for key, unit in keys:
            out[f"exec.{op_type}.{key}"] = M(vals[key], unit)

    # the traced run's end-to-end p50: minus the untraced run's at the
    # same seed, it is the tracing overhead
    out["trace.recommend_p50_s"] = M(recommend_p50 or 0.0, "s")
    out["trace.self_s"] = M(sum(tracer.own_s[o["id"]] for o in ops) / len(ops)
                            if ops else 0.0, "s")
    return out
