#!/usr/bin/env python3
"""RecDB benchmark: RECOMMEND latency as an application sees it.

One client sends RecSQL statements through ``RecSQL.sql`` in a closed
loop and collects every answer; the answers are checked afterwards.
Workloads, metrics and what each metric should move are documented in
``perfbench/spec.json``; the metric names and bounds are in
``BENCHMARK.json``.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_mixed --seed 1 \
        --seconds 12 --trace 0

The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics. The
line before it is a detail record (every end-to-end figure by name and
unit, the calibration probes, set-up repetitions, failure reasons);
the detail record and, for traced runs, the spans and Spark job/stage/
task numbers are also written to ``perfbench/.run/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
MAX_CORES = 4
DRIVER_MEM = "2g"
CALIB_ROWS = 20_000_000
# Whole op cycles run untimed before the measured phase. A statement
# kind keeps getting faster over its first runs (JIT): a
# serve_on_the_fly statement takes ~1.3x its settled time in the
# second cycle and ~1.1x in the third. ingest_mixed's three set-ups
# have already run most of its paths; one cycle covers its statement
# kinds
WARMUP_CYCLES = {"serve_on_the_fly": 2, "ingest_mixed": 1}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _checkout_ok() -> None:
    """The benchmark builds nothing: it needs the program's sources
    next to it, and must not pick up an installed copy instead."""
    for rel in ("recdb_postgresql_spark/__init__.py", "__spark_entry__.py",
                "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            _fail(f"{rel} not found under {ROOT}; run from a checkout of the repo")


def _prepare_env(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    conf = os.path.join(work, "conf")
    for d in ("conf", "tmp", "local", "warehouse", "eventlog", "cache"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    props = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            "-XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        props.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file:" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.writelines(f"{k} {v}\n" for k, v in props.items())
    with open(os.path.join(conf, "log4j2.properties"), "w") as f:
        f.write("rootLogger.level = error\n"
                "rootLogger.appenderRef.stderr.ref = console\n"
                "appender.console.type = Console\n"
                "appender.console.name = console\n"
                "appender.console.target = SYSTEM_ERR\n"
                "appender.console.layout.type = PatternLayout\n"
                "appender.console.layout.pattern = %p %c{1}: %m%n\n")
    os.environ.update({
        "SPARK_CONF_DIR": conf,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # the SVD kernel is compiled into the per-user cache directory
        "XDG_CACHE_HOME": os.path.join(work, "cache"),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
    })


def _cores() -> int:
    return min(len(os.sched_getaffinity(0)), MAX_CORES)


def calibration(spark, cores: int, reps: int = 3) -> float:
    """Machine-state probe in the shape of ``bench.py::run_calibration``:
    a pure codegen sum over ``spark.range``, no I/O and no code under
    test, so its drift between runs measures the machine. Min over
    reps."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(0, CALIB_ROWS, 1, cores) \
            .selectExpr("sum(id * 3 + id % 7) AS s").collect()
        best = min(best, time.perf_counter() - t0)
    return best


def job_probe(spark, reps: int = 20) -> float:
    """Median wall time of a one-row Spark job: the per-job driver and
    scheduler cost that bounds every statement here. Taken right
    after the measured phase, it shows shared-box weather that the
    throughput probe above can miss."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(0, 1, 1, 1).selectExpr("sum(id) AS s").collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests (the
    /proc/stat steal column) between two readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def _status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_spark(spark) -> float:
    """Stop Spark, then the JVM and every process it started, waiting
    for each to end. Returns the peak RSS of this process plus the JVM
    in MB, read before the JVM exits."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    jvm = gateway.proc
    peak_kb = _status_kb(os.getpid(), "VmHWM") + _status_kb(jvm.pid, "VmHWM")
    spark.stop()
    stragglers = _descendants(jvm.pid)
    gateway.shutdown()
    jvm.stdin.close()
    jvm.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in stragglers) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in stragglers:
        if _alive(p):
            os.kill(p, 9)
    return peak_kb / 1024.0


def _by_position(ok: list[dict], cycle_len: int, key) -> dict:
    """Mean of ``key`` per position in the workload's op cycle. A run
    ends part-way through a cycle, so raw figures would weigh the
    positions reached twice more than the rest; per-position means
    keep the cycle's mix whatever the run length."""
    acc: dict = {}
    for o in ok:
        acc.setdefault(o["id"] % cycle_len, []).append(key(o))
    return {p: statistics.fmean(v) for p, v in acc.items()}


def _tracing(tracer, on: bool) -> None:
    """Set-up and measured operations are traced; warm-up and answer
    checks are not."""
    if tracer is not None:
        tracer.enabled = on


def _declared(kind: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def main(argv=None) -> int:
    began = time.perf_counter()
    phases: dict[str, float] = {}      # wall seconds since start, per phase end

    def mark(name: str) -> None:
        phases[name] = time.perf_counter() - began

    args = _parse(argv)
    _checkout_ok()
    sys.path.insert(0, ROOT)
    import gen
    import summary
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    run_dir = os.path.join(HERE, ".run")
    work = os.path.join(run_dir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work, bool(args.trace))
    mark("imports")

    t0 = time.perf_counter()
    from recdb_postgresql_spark import get_spark
    cores = _cores()
    spark = get_spark("perfbench", cpus=cores)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    mark("session")

    tracer = None
    if args.trace:
        from tracing import Tracer
        tracer = Tracer(spark, os.path.join(work, "eventlog"))
        tracer.install()
    try:
        calib_s = calibration(spark, cores)
        mark("calibration")
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)

        # set-up, repeated: each repetition starts from an empty catalog
        # and store; the last one is what the measured phase runs on
        setup_reps, create_reps = [], []
        _tracing(tracer, True)
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            create_reps.append(wl.setup()["create_s"])
            setup_reps.append(time.perf_counter() - t)
        _tracing(tracer, False)
        mark("setup")

        # warm-up, untimed: the stream's first whole cycles, reads only,
        # so timing starts past the steep part of the JIT warm-up; the
        # measured phase goes on with the same stream, so no measured
        # statement repeats a warm-up one, and starts at cycle position 0
        stream = gen.stream(args.workload, args.seed)
        cycle_len = len(gen.CYCLES[args.workload])
        for _ in range(WARMUP_CYCLES[args.workload] * cycle_len):
            op = next(stream)
            if isinstance(op, gen.Statement):
                wl.rs.sql(op.sql).collect()
        mark("warmup")

        tally = summary.Tally()
        ops: list[dict] = []
        ticks = _cpu_ticks()
        _tracing(tracer, True)
        start = time.perf_counter()
        deadline = start + args.seconds
        # past the deadline only to finish the first cycle: a slow run
        # must still weigh every statement kind of the mix
        while time.perf_counter() < deadline or len(ops) < cycle_len:
            op = next(stream)
            op_id = tally.attempt()
            t_before = _cpu_ticks()
            rec = {"id": op_id, "failed": False,
                   "type": "insert" if isinstance(op, gen.Insert) else "recommend",
                   "began": time.perf_counter() - start}
            try:
                rec.update(wl.execute(op_id, op))
            except Exception as e:   # one failed operation must not end the run
                rec["failed"] = True
                tally.fail(op_id, f"{type(e).__name__}: {e}")
            finally:
                if tracer:
                    tracer.end_op()
            rec["ended"] = time.perf_counter() - start
            rec["steal_share"] = _steal_share(t_before, _cpu_ticks())
            ops.append(rec)
        _tracing(tracer, False)
        mark("measured")
        steal = _steal_share(ticks, _cpu_ticks())
        probe_s = job_probe(spark)

        stmt = wl.final_statement(stream)
        if stmt is not None:
            op_id = tally.attempt()
            try:
                wl.execute(op_id, stmt)
            except Exception as e:
                tally.fail(op_id, f"{type(e).__name__}: {e}")
        for op_id, why in wl.check():
            tally.fail(op_id, why)
        mark("check")

        stored_mb = wl.stored_bytes() / 2 ** 20
        live_dirs = wl.live_dirs()
    finally:
        if tracer:
            tracer.uninstall()
        peak_rss_mb = _stop_spark(spark)
        mark("stop")

    ok = [o for o in ops if not o["failed"]]
    rec_lat = [o["latency_s"] for o in ok if o["type"] == "recommend"]
    rec_pos = _by_position([o for o in ok if o["type"] == "recommend"],
                           cycle_len, lambda o: o["latency_s"])
    op_pos = _by_position(ok, cycle_len, lambda o: o["ended"] - o["began"])
    ins = [o for o in ok if o["type"] == "insert"]
    tail = summary.tail(rec_lat)
    M = summary.metric
    e2e = {
        "setup_s": M(session_s + statistics.median(setup_reps), "s"),
        "create_s": M(statistics.median(create_reps), "s"),
        "recommend_p50_s": M(summary.p50(list(rec_pos.values())), "s"),
        "recommend_tail_s": M(tail and tail["value"], "s"),
        "ops_per_s": M(len(op_pos) / sum(op_pos.values()), "1/s"),
        "insert_p50_s": M(summary.p50([o["latency_s"] for o in ins
                                       if not o["retrain"]]), "s"),
        "retrain_insert_p50_s": M(summary.p50([o["latency_s"] for o in ins
                                               if o["retrain"]]), "s"),
        "failed_frac": M(tally.failed_frac, "fraction"),
        "peak_rss_mb": M(peak_rss_mb, "MB"),
        "stored_mb": M(stored_mb, "MB"),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "calibration_s": calib_s, "cpu_steal_share": steal,
        "job_probe_s": probe_s,
        "session_s": session_s,
        "setup_reps_s": setup_reps, "measured_s": ops[-1]["ended"],
        "cycle_positions_covered": f"{len(op_pos)}/{cycle_len}",
        "phase_end_s": phases,
        "recommend_tail": tail, "end_to_end": e2e,
        "strategies": {s: sum(1 for o in ok if o.get("strategy") == s)
                       for s in {o.get("strategy") for o in ok} if s},
        "retrains": sum(1 for o in ins if o["retrain"]),
        "failures": tally.reasons[:5],
    }

    results = os.path.join(run_dir, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if tracer:
        numbers = tracer.spark_numbers()
        from tracing import layer_metrics
        metrics = layer_metrics(tracer, ok, numbers, live_dirs,
                                e2e["recommend_p50_s"]["value"])
        detail["per_layer"] = metrics
        untraced = stem[:-1] + "0.json"
        if os.path.exists(untraced):
            # tracing overhead: traced minus untraced, same workload and seed
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            detail["tracing_overhead"] = {
                k: e2e[k]["value"] - base[k]["value"] for k in e2e
                if e2e[k]["value"] is not None and base[k]["value"] is not None}
        tracer.write(stem + "-spans.json", ops, numbers)
        declared = _declared("per_layer")
    else:
        metrics = e2e
        declared = _declared("end_to_end")
    shutil.rmtree(work, ignore_errors=True)
    with open(stem + ".json", "w") as f:
        json.dump(dict(detail, ops=ops), f, indent=1)
    print(json.dumps(detail))
    print(summary.result_line(tally, metrics, declared))
    return 0


if __name__ == "__main__":
    sys.exit(main())
