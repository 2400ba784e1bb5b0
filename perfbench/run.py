"""Benchmark of the engine on three workloads: one command, one JSON line.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0

Run from the repository root. One driver process runs one workload in a
closed loop with one client (each op starts after the previous one
ended) on ``local[<cores>]``; the loop stops at the first pass boundary
after the timed ops add up to ``--seconds``. Inputs are generated from ``--seed`` into
``.perfbench/<workload>/`` and every op's output is checked against an
independent reference outside the timed region.

With ``--trace 0`` the last line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a traced run (see
``perfbench/README.md`` for the layer map). The line before it is the
full record of the run (per-op latencies, failures by name, host noise,
input sizes, trace coverage and sanity checks), also written to
``.perfbench/<workload>-trace<0|1>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from model_presto_spark import session as mps_session  # noqa: E402
from perfbench import trace as tr  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SETUP_REPS = 3
QUIET_CONF = {"spark.ui.showConsoleProgress": "false"}


# -- host ------------------------------------------------------------------


def _cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _loadavg() -> list[float]:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _cpu_probe_ms() -> float:
    """Wall time of a fixed single-threaded loop: the host's speed at
    this moment, which steal time does not always show."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(500_000):
        acc += i * i
    return 1e3 * (time.perf_counter() - t0)


def _dir_stats(path: str) -> dict:
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    return {"files": len(files), "mb": sum(map(os.path.getsize, files)) / 1e6}


# -- session ---------------------------------------------------------------


def _shutdown(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and the Python workers
    it started) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- metrics ---------------------------------------------------------------


def _quantile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def end_to_end(ops: list[dict], setup: list[float], wl) -> dict:
    lat = [o["latency_s"] for o in ops]
    return {
        "setup_s": {"value": statistics.median(setup), "unit": "s"},
        "latency_p50_s": {"value": statistics.median(lat), "unit": "s"},
        "items_per_s": {
            "value": sum(wl.items(o["key"]) for o in ops) / sum(lat),
            "unit": "1/s",
        },
    }


SPARK_KEYS = (
    "jobs", "stages", "tasks", "stage_wait_s", "executor_run_s",
    "executor_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
    "spill_mb",
)
OPERATORS = (
    "exact_dedup", "minhash_lsh_pairs", "connected_components",
    "dedup_corpus", "knn_join", "knn_classify",
)
# per-layer metric -> unit, in the order of BENCHMARK.json
PER_LAYER = {
    "session.get_spark_s": "s",
    "io.load_table_s": "s",
    "io.load_table_calls": "count",
    "plans.build_s": "s",
    "plans.py4j_calls": "count",
    "plans.build_jobs": "count",
    "spark.analysis_ms": "ms",
    "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.stage_wait_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.cpu_util": "ratio",
    "io.spread_calls": "count",
    "pipeline.run_s": "s",
    "pipeline.run_jobs": "count",
    "pipeline.survivor_ratio": "ratio",
    "io.write_s": "s",
    **{f"operators.{o}_s": "s" for o in OPERATORS},
    "trace.overhead_ms": "ms",
    "host.steal_frac": "ratio",
    "host.loadavg_1m": "count",
}


def per_layer(tracer, spark_by_span, ops, setup_roots, cores, host) -> tuple[dict, dict]:
    """Per-layer metrics (mean per traced op; set-up layers mean per
    set-up repetition) and the trace sanity checks."""
    kids = tr.children_index(tracer.spans)
    by_id = {s["id"]: s for s in tracer.spans}
    traced = [o for o in ops if o["mode"] == "traced"]
    acc = {k: 0.0 for k in PER_LAYER}
    checks = {"cpu_over_wall": [], "self_time_gap_s": 0.0, "repeat_mismatch": []}

    def spark_sum(spans: list[dict], key: str) -> float:
        return sum(spark_by_span.get(s["id"], {}).get(key, 0.0) for s in spans)

    for root in setup_roots:
        for s in tr.subtree(root, kids):
            if s["name"] == "session.get_spark":
                acc["session.get_spark_s"] += s["t1"] - s["t0"]
            elif s["name"] == "io.load_table":
                acc["io.load_table_s"] += s["t1"] - s["t0"]
                acc["io.load_table_calls"] += 1
    for k in ("session.get_spark_s", "io.load_table_s", "io.load_table_calls"):
        acc[k] /= max(1, len(setup_roots))

    counts = {}
    for o in traced:
        root = by_id[o["span"]]
        spans = tr.subtree(root, kids)
        selfs = {s["id"]: tr.self_time(s, kids) for s in spans}
        checks["self_time_gap_s"] = max(
            checks["self_time_gap_s"], abs(sum(selfs.values()) - o["latency_s"])
        )
        for s in spans:
            dur = s["t1"] - s["t0"]
            cpu = spark_by_span.get(s["id"], {}).get("executor_cpu_s", 0.0)
            if cpu > dur * cores * 1.02 + 0.01:
                checks["cpu_over_wall"].append([s["name"], cpu, dur])
            name = s["name"]
            if name == "plans.build":
                sub = tr.subtree(s, kids)
                acc["plans.build_s"] += dur
                acc["plans.py4j_calls"] += s["py4j"]
                acc["plans.build_jobs"] += spark_sum(sub, "jobs")
            elif name == "pipeline.run":
                acc["pipeline.run_s"] += dur
                acc["pipeline.run_jobs"] += spark_sum(tr.subtree(s, kids), "jobs")
            elif name == "io.write":
                acc["io.write_s"] += dur
            elif name == "io.spread":
                acc["io.spread_calls"] += 1
            elif name == "trace.phases":
                for p in ("analysis", "optimization", "planning"):
                    acc[f"spark.{p}_ms"] += s["phases"][p]
            elif name.startswith("operators."):
                acc[f"{name}_s"] += selfs[s["id"]]
        for k in SPARK_KEYS:
            acc[f"spark.{k}"] += spark_sum(spans, k)
        acc["spark.cpu_util"] += spark_sum(spans, "executor_cpu_s") / (
            o["latency_s"] * cores
        )
        acc["pipeline.survivor_ratio"] += o.get("survivor_ratio", 0.0)
        sig = (
            sum(s["py4j"] for s in spans if s["name"] == "plans.build"),
            spark_sum(spans, "jobs"),
            spark_sum(spans, "stages"),
        )
        prev = counts.setdefault(o["key"], sig)
        if prev != sig:
            checks["repeat_mismatch"].append([o["key"], prev, sig])
    n = max(1, len(traced))
    for k in PER_LAYER:
        if not k.startswith(("session.", "io.load_table")):
            acc[k] /= n
    bare = [o["latency_s"] for o in ops if o["mode"] == "bare"]
    acc["trace.overhead_ms"] = 1e3 * (
        statistics.median(o["latency_s"] for o in traced) - statistics.median(bare)
    ) if traced and bare else 0.0
    acc["host.steal_frac"] = host["steal_frac"]
    acc["host.loadavg_1m"] = host["loadavg_end"][0]
    checks["ok"] = (
        not checks["cpu_over_wall"]
        and not checks["repeat_mismatch"]
        and checks["self_time_gap_s"] < 0.002
    )
    metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in acc.items()}
    return metrics, checks


# -- run -------------------------------------------------------------------


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    work = os.path.join(ROOT, ".perfbench", workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    conf = dict(QUIET_CONF)
    conf["spark.driver.extraJavaOptions"] = f"-Djava.io.tmpdir={tmp}"
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )

    phase_t = {"start": time.perf_counter()}
    cpu0, load0, probe0 = _cpu_times(), _loadavg(), _cpu_probe_ms()
    tracer = tr.Tracer()
    if trace:
        tracer.install()
    wl = WORKLOADS[workload](work)

    # set-up, several times: fresh session, inputs, load, touch
    setup_s, setup_roots, spark, info = [], [], None, {}
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        tracer.enabled = trace
        t0 = time.perf_counter()
        with tracer.span("setup", rep=rep) as root:
            # module attribute lookup: the traced run's wrapper records it
            spark = mps_session.get_spark(f"perfbench-{workload}", extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
            info = wl.setup(spark, seed)
        setup_s.append(time.perf_counter() - t0)
        if root is not None:
            setup_roots.append(root)
    tracer.enabled = False
    cores = spark.sparkContext.defaultParallelism
    phase_t["setup"] = time.perf_counter()

    # closed loop; each op is checked later, outside the timed region
    # the untraced op sits between the two traced ones, so JIT warm-up
    # over the loop does not bias the overhead estimate
    modes = ("traced", "bare", "traced") if trace else ("bare",)
    ops, warmed, warm_errors, warm_s, measured, n = [], set(), [], 0.0, 0.0, 0
    for keys in wl.passes():
        if measured >= seconds:
            break
        for key in keys:
            wk = wl.warm_key(key)
            if wk not in warmed:
                t0 = time.perf_counter()
                try:
                    wl.warm(spark, key)
                except Exception as e:  # its timed ops fail and are counted
                    warm_errors.append(f"{key}: {type(e).__name__}: {e}"[:300])
                warm_s += time.perf_counter() - t0
                spark.catalog.clearCache()
                warmed.add(wk)
            for mode in modes:
                rec = {"key": key, "mode": mode, "n": n, "error": None}
                tracer.enabled = mode == "traced"
                t0 = time.perf_counter()
                with tracer.span("op", key=key) as root:
                    try:
                        rec["out"] = wl.op(spark, key, tracer, n)
                    except Exception as e:  # a failed op is counted, not fatal
                        rec["error"] = f"{type(e).__name__}: {e}"[:300]
                rec["latency_s"] = time.perf_counter() - t0
                tracer.enabled = False
                if root is not None:
                    rec["span"] = root["id"]
                spark.catalog.clearCache()
                measured += rec["latency_s"]
                ops.append(rec)
                n += 1

    phase_t["loop"] = time.perf_counter()
    wl.check(spark, ops)
    phase_t["check"] = time.perf_counter()
    for o in ops:
        o.pop("out", None)
        if "survivors" in o:
            o["survivor_ratio"] = o["survivors"] / wl.items(o["key"])
    scan_partitions = {
        name: df.rdd.getNumPartitions() for name, df in wl.tables.items()
    }
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    rss_mb = _peak_rss_mb(os.getpid()) + _peak_rss_mb(jvm_pid)
    _shutdown(spark)
    phase_t["shutdown"] = time.perf_counter()

    cpu1 = _cpu_times()
    delta = [b - a for a, b in zip(cpu0, cpu1)]
    host = {
        "cores": cores,
        "steal_frac": delta[7] / max(1, sum(delta)),
        "loadavg_start": load0,
        "loadavg_end": _loadavg(),
        "cpu_probe_ms": [probe0, _cpu_probe_ms()],
    }
    failed = [o for o in ops if o["error"]]
    lat = [o["latency_s"] for o in ops if o["mode"] == "bare"]
    record = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "attempted": len(ops),
        "failed": len(failed),
        "failed_frac": len(failed) / len(ops),
        "failed_ops": sorted({f"{o['key']}: {o['error']}" for o in failed}),
        "setup_s_reps": setup_s,
        "phase_s": {
            k: phase_t[k] - phase_t[p]
            for p, k in zip(list(phase_t), list(phase_t)[1:])
        },
        "warmup_s": warm_s,
        "warmup_errors": warm_errors,
        "samples": len(lat),
        "latencies_s": [round(x, 4) for x in lat],
        # p90 needs at least 10 samples beyond it
        "latency_p90_s": _quantile(lat, 0.9) if len(lat) >= 100 else None,
        # driver Python plus JVM high-water marks; too noisy to gate
        # (JVM heap growth follows GC timing), so recorded only
        "peak_rss_mb": rss_mb,
        "host": host,
        "inputs": {**info, **_dir_stats(wl.dir), "scan_partitions": scan_partitions},
        "ops": [
            {k: v for k, v in o.items() if k not in ("span",)} for o in ops
        ],
    }
    bare_ops = [o for o in ops if o["mode"] == "bare"]
    record["end_to_end"] = end_to_end(bare_ops, setup_s, wl)
    if trace:
        spark_by_span = tr.read_event_logs(os.path.join(work, "eventlog"))
        metrics, checks = per_layer(
            tracer, spark_by_span, ops, setup_roots, cores, host
        )
        record["per_layer"] = metrics
        record["trace_checks"] = checks
        record["trace_coverage"] = tracer.coverage()
        traced_ops = [o for o in ops if o["mode"] == "traced"]
        record["traced_end_to_end"] = end_to_end(traced_ops, setup_s, wl)
        record["tracing_overhead"] = {
            k: v["value"] - record["end_to_end"][k]["value"]
            for k, v in record["traced_end_to_end"].items()
        }
        tracer.uninstall()
    else:
        metrics = record["end_to_end"]
    for sub in ("inputs", "out", "tmp", "spark-local", "eventlog"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    with open(
        os.path.join(ROOT, ".perfbench", f"{workload}-trace{int(trace)}.json"),
        "w",
        encoding="utf-8",
    ) as fh:
        json.dump(record, fh, indent=1, default=str)
    return {"record": record, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    os.chdir(ROOT)
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    rec = out["record"]
    print(json.dumps({k: v for k, v in rec.items() if k != "ops"}, default=str))
    print(
        json.dumps(
            {
                "correct": rec["failed"] == 0,
                "attempted": rec["attempted"],
                "failed": rec["failed"],
                "metrics": out["metrics"],
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
