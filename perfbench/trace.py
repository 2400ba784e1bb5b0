"""Spans around calls into the engine, and Spark metrics attributed to them.

A span is recorded around each call the benchmark makes into a layer
(``session``, ``io``, ``plans``, ``pipeline``, ``operators``) and around
each Spark action. Spans nest: a span's parent is the span that was open
when it started, and every span of one op shares the op's root span.
While a span is open it is the Spark job description
(``"<name> #<span id>"``), so each job in the event log names the
innermost span that launched it.

Engine functions are wrapped by module attribute, and the wrapper is
also bound in every ``model_presto_spark`` module that imported the
same function object by name. A reference held anywhere else (a
closure, a container, a default argument) still calls the original and
is invisible; ``Tracer.coverage`` lists which wrappers fired.

Self time of a span is its duration minus the time its child spans
cover. py4j round-trips are counted per span at the connection layer,
as ``tools/py4j_count.py`` counts them, except py4j's memory commands:
py4j sends the deletes of collected Java proxies in batches, and they
land in whichever span is open. Round-trips the tracer makes itself are
not counted either.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

# (module, attribute, span name): the engine functions the benchmark
# traces. Class methods are given as "Class.method".
TARGETS = (
    ("model_presto_spark.session", "get_spark", "session.get_spark"),
    ("model_presto_spark.io", "load_table", "io.load_table"),
    ("model_presto_spark.io", "spread", "io.spread"),
    ("model_presto_spark.io", "write_partitioned", "io.write"),
    ("model_presto_spark.pipeline", "CorpusPipeline.run", "pipeline.run"),
    ("model_presto_spark.operators.dedup", "exact_dedup", "operators.exact_dedup"),
    (
        "model_presto_spark.operators.dedup",
        "minhash_lsh_pairs",
        "operators.minhash_lsh_pairs",
    ),
    ("model_presto_spark.operators.dedup", "dedup_corpus", "operators.dedup_corpus"),
    (
        "model_presto_spark.operators.graph",
        "connected_components",
        "operators.connected_components",
    ),
    ("model_presto_spark.operators.knn", "knn_join", "operators.knn_join"),
    ("model_presto_spark.operators.knn", "knn_classify", "operators.knn_classify"),
)


def _spark_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Tracer:
    """In-memory span recorder. ``enabled`` False makes ``span`` a
    no-op, so one process can time the same op with and without
    tracing."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 1
        self._patched: list[tuple[object, str, object]] = []
        self.fired: Counter = Counter()
        self.bindings: dict[str, list[str]] = {}
        self.py4j_calls = 0  # counted once install() patched py4j

    # -- spans ---------------------------------------------------------

    def _untracked_py4j(self, fn, *args):
        """Run a py4j call of the tracer's own without counting it."""
        n = self.py4j_calls
        try:
            return fn(*args)
        finally:
            self.py4j_calls = n

    def _count_py4j(self) -> None:
        """Patch both py4j connection classes, as tools/py4j_count.py
        does, to count every command but memory ("m") commands."""
        import py4j.clientserver as cs
        import py4j.java_gateway as jg

        def wrap(orig):
            def send_command(conn, command, *a, **kw):
                if not command.startswith("m\n"):
                    self.py4j_calls += 1
                return orig(conn, command, *a, **kw)

            return send_command

        for cls in (cs.ClientServerConnection, jg.GatewayConnection):
            orig = cls.send_command
            cls.send_command = wrap(orig)
            self._patched.append((cls, "send_command", orig))

    def _describe(self, text: str | None) -> None:
        sc = _spark_context()
        if sc is not None:
            self._untracked_py4j(sc.setJobDescription, text)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "root": parent["root"] if parent else self._next_id,
            **attrs,
        }
        self._next_id += 1
        # the span's time includes its own job-description round-trips,
        # so self times add up to the op wall measured outside the span
        s["t0"] = time.perf_counter()
        self._stack.append(s)
        self._describe(f"{name} #{s['id']}")
        s["py4j0"] = self.py4j_calls
        try:
            yield s
        finally:
            s["py4j"] = self.py4j_calls - s.pop("py4j0")
            self._stack.pop()
            self._describe(
                f"{self._stack[-1]['name']} #{self._stack[-1]['id']}"
                if self._stack
                else None
            )
            s["t1"] = time.perf_counter()
            self.spans.append(s)

    # -- wrappers ------------------------------------------------------

    def _wrap(self, fn, span_name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.enabled:
                self.fired[span_name] += 1
            with self.span(span_name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every target by module attribute, plus each
        ``model_presto_spark`` module-level name bound to the same
        function object, and start counting py4j round-trips."""
        import importlib

        self._count_py4j()
        for mod_name, attr, span_name in TARGETS:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                owner = getattr(mod, cls_name)
                orig = getattr(owner, meth)
                setattr(owner, meth, self._wrap(orig, span_name))
                self._patched.append((owner, meth, orig))
                self.bindings[span_name] = [f"{mod_name}.{attr}"]
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, span_name)
            sites = []
            for other_name, other in list(sys.modules.items()):
                if other is None or not (
                    other_name == "model_presto_spark"
                    or other_name.startswith("model_presto_spark.")
                ):
                    continue
                for name, val in list(vars(other).items()):
                    if val is orig:
                        setattr(other, name, wrapped)
                        self._patched.append((other, name, orig))
                        sites.append(f"{other_name}.{name}")
            self.bindings[span_name] = sorted(sites)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patched):
            setattr(owner, name, orig)
        self._patched.clear()

    def coverage(self) -> dict:
        return {
            "fired": dict(self.fired),
            "silent": sorted(
                n for _, _, n in TARGETS if n not in self.fired
            ),
            "bound_at": self.bindings,
            "note": (
                "wrappers replace module attributes; calls through a "
                "reference bound before install() outside those "
                "attributes (closure, container, default argument) are "
                "invisible"
            ),
        }


# -- tree arithmetic --------------------------------------------------------


def children_index(spans: list[dict]) -> dict[int, list[dict]]:
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    return kids


def self_time(s: dict, kids: dict[int, list[dict]]) -> float:
    covered = sum(c["t1"] - c["t0"] for c in kids.get(s["id"], ()))
    return (s["t1"] - s["t0"]) - covered


def subtree(root: dict, kids: dict[int, list[dict]]) -> list[dict]:
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], ()))
    return out


# -- event log --------------------------------------------------------------


def _span_id(props: dict) -> int | None:
    desc = (props or {}).get("spark.job.description") or ""
    _, sep, tail = desc.rpartition(" #")
    return int(tail) if sep and tail.isdigit() else None


def read_event_logs(log_dir: str) -> dict[int, dict]:
    """Parse every uncompressed event log in ``log_dir`` and return
    Spark work per span id: jobs, stages, tasks, executor run/CPU/GC
    seconds, stage wait, and shuffle and spill megabytes."""
    per_span: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        job_span: dict[int, int | None] = {}
        stage_job: dict[int, int] = {}
        stage_info: dict[tuple[int, int], dict] = {}
        tasks: dict[tuple[int, int], list[dict]] = defaultdict(list)
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    job_span[jid] = _span_id(ev.get("Properties"))
                    for stage in ev["Stage IDs"]:
                        stage_job.setdefault(stage, jid)
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    stage_info[(si["Stage ID"], si["Stage Attempt ID"])] = si
                elif kind == "SparkListenerTaskEnd":
                    tasks[(ev["Stage ID"], ev["Stage Attempt ID"])].append(ev)
        for span in job_span.values():
            if span is not None:
                per_span[span]["jobs"] += 1
        for key, si in stage_info.items():
            span = job_span.get(stage_job.get(key[0]))
            if span is None or not tasks.get(key):
                continue
            acc = per_span[span]
            acc["stages"] += 1
            launches = []
            delays = []
            for t in tasks[key]:
                info, m = t["Task Info"], t.get("Task Metrics") or {}
                launches.append(info["Launch Time"])
                run_ms = m.get("Executor Run Time", 0)
                delays.append(
                    max(
                        0,
                        (info["Finish Time"] - info["Launch Time"])
                        - run_ms
                        - m.get("Executor Deserialize Time", 0)
                        - m.get("Result Serialization Time", 0),
                    )
                )
                acc["tasks"] += 1
                acc["executor_run_s"] += run_ms / 1e3
                acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                acc["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / 1e6
                acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
            submitted = si.get("Submission Time") or min(launches)
            acc["stage_wait_s"] += (
                max(0, min(launches) - submitted) + sum(delays) / len(delays)
            ) / 1e3
    return per_span
