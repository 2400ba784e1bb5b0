"""The three workloads: inputs, one op, and the reference check.

Each workload exposes the same surface to ``run.py``:

- ``setup(spark, seed)``: generate inputs from the seed, write them as
  parquet, load every table through ``io.load_table`` and touch it once
  (one count per table, as ``bench.py`` warms up);
- ``passes()``: the op identities of the closed loop as an endless
  sequence of passes; the loop stops only between passes, so every run
  times whole passes;
- ``warm_key(key)``: ops with the same warm key share compiled code, so
  only the first op of each warm key runs untimed first;
- ``warm(spark, key)``: the untimed warm-up run(s) before the first op
  of a warm key; ``op(spark, key, tracer, n)``: one timed execution;
- ``items(key)``: work items in one op (queries, input docs, probes);
- ``check(spark, ops)``: compare every timed op's output with an
  independent reference, outside the timed region, and set ``error`` on
  each op whose output is wrong.
"""

from __future__ import annotations

import itertools
import os
import re
import shutil

import numpy as np

from model_presto_spark import io as mps_io
from model_presto_spark import pipeline as mps_pipeline
from model_presto_spark.operators import knn as mps_knn
from perfbench import inputs


def planning_phases(df) -> dict[str, float]:
    """QueryPlanningTracker phase times (ms) of ``df``'s own query
    execution, planned here; the action plans its own copy."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


def _with_phases(tracer, df):
    if tracer.enabled:
        with tracer.span("trace.phases") as s:
            s["phases"] = planning_phases(df)


class Headline:
    """Every fourth of the 62 ``bench.py`` HEADLINE queries plus the
    kNN eval head (q45, ``knn_classify``), in the HEADLINE order; a pass
    runs each query once, built and run to the noop sink. A pass of
    these 17 queries takes ~4 s; compiling all 62 once costs ~40 s per
    process. Tables are generated at sf0.01 (60k lineitem rows): the
    DuckDB oracles of the dedup queries grow quadratically and take
    92 s at sf0.1 against 6 s here, while the Spark side is overhead
    bound at both sizes."""

    name = "headline"
    SF = 0.01
    STRIDE = 4
    # the Presto eval head, so the kNN operators are traced here too
    EXTRA = ("q45_knn_classify",)

    def __init__(self, work: str) -> None:
        from bench import HEADLINE
        from model_presto_spark.plans.queries import QUERIES

        self.dir = os.path.join(work, "inputs")
        self.queries = QUERIES
        self.order = [
            q
            for i, q in enumerate(HEADLINE)
            if i % self.STRIDE == 0 or q in self.EXTRA
        ]
        self.results: dict[str, tuple] = {}

    def setup(self, spark, seed: int) -> dict:
        shutil.rmtree(self.dir, ignore_errors=True)
        rows = inputs.write_tables(self.dir, seed, sf=self.SF)
        self.tables = {t: mps_io.load_table(spark, self.dir, t) for t in rows}
        for df in self.tables.values():
            df.count()
        return {"rows": rows}

    def passes(self):
        return itertools.repeat(self.order)

    def warm_key(self, key: str) -> str:
        return key

    def items(self, key: str) -> int:
        return 1

    def warm(self, spark, key: str) -> None:
        """Untimed first execution: compiles the query's code and
        collects the rows the oracle check compares."""
        try:
            df = self.queries[key].fn(spark, self.dir)
            self.results[key] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception as e:  # recorded as a failed check
            self.results[key] = e

    def op(self, spark, key: str, tracer, n: int) -> None:
        with tracer.span("plans.build", query=key):
            df = self.queries[key].fn(spark, self.dir)
        _with_phases(tracer, df)
        with tracer.span("spark.action"):
            df.write.format("noop").mode("overwrite").save()

    def check(self, spark, ops: list[dict]) -> None:
        """Fail every op of a query whose warm-up rows differ from the
        DuckDB oracle, compared as ``tools/check_correctness.py`` does
        (row count, column names, type-sensitive value multiset)."""
        import duckdb

        from tools.check_correctness import rows_to_multiset

        con = duckdb.connect()
        for t in self.tables:
            path = mps_io.table_path(self.dir, t)
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        verdict = {}
        for q in {o["key"] for o in ops}:
            got = self.results.get(q)
            if isinstance(got, Exception) or got is None:
                verdict[q] = f"spark error: {got!r}"
                continue
            scols, srows = got
            ores = con.execute(self.queries[q].oracle).fetchall()
            ocols = [d[0] for d in con.description]
            if len(srows) != len(ores):
                verdict[q] = f"rowcount spark={len(srows)} oracle={len(ores)}"
            elif sorted(scols) != sorted(ocols):
                verdict[q] = f"cols spark={sorted(scols)} oracle={sorted(ocols)}"
            elif rows_to_multiset(scols, srows) != rows_to_multiset(ocols, ores):
                verdict[q] = "values differ"
            else:
                verdict[q] = None
        con.close()
        for o in ops:
            if not o.get("error") and verdict[o["key"]]:
                o["error"] = verdict[o["key"]]


# -- corpus_dedup -----------------------------------------------------------

_CTRL = re.compile(r"[\x00-\x08\x0b-\x1f\x7f-\x9f]")


class CorpusDedup:
    """``CorpusPipeline`` normalize -> quality_gate -> lang_filter ->
    exact_dedup -> near_dedup(minhash, 0.8) over corpora in the shape
    of ``tools/stress_bench.gen_documents``, survivors written to
    parquet. Each op reads the next corpus of the pool. At 1,000 docs
    the op is bound by the ~31 eager jobs of ``run()`` (~2 s warm), so
    the timed window holds several ops; 2,000 docs took ~4 s an op."""

    name = "corpus_dedup"
    N_DOCS = 1000
    POOL = 3
    WARM_OPS = 6
    MIN_TOKENS = 35
    KEEP = ("en", "fr", "de", "es")
    THRESHOLD = 0.8
    STAGES = [
        {"op": "normalize"},
        {"op": "quality_gate", "min_tokens": MIN_TOKENS},
        {"op": "lang_filter", "keep": list(KEEP)},
        {"op": "exact_dedup"},
        {"op": "near_dedup", "method": "minhash", "threshold": THRESHOLD},
    ]

    def __init__(self, work: str) -> None:
        self.dir = os.path.join(work, "inputs")
        self.out = os.path.join(work, "out")
        self.refs: dict[int, dict] = {}

    def setup(self, spark, seed: int) -> dict:
        shutil.rmtree(self.dir, ignore_errors=True)
        self.names = inputs.write_corpora(self.dir, seed, self.POOL, self.N_DOCS)
        self.tables = {n: mps_io.load_table(spark, self.dir, n) for n in self.names}
        for df in self.tables.values():
            df.count()
        return {"docs_per_corpus": self.N_DOCS, "corpora": self.POOL}

    def passes(self):
        return ([k] for k in itertools.cycle(range(self.POOL)))

    def warm_key(self, key: int) -> str:
        return "pipeline"

    def items(self, key: int) -> int:
        return self.N_DOCS

    def _run(self, spark, key: int, path: str, tracer=None) -> None:
        df = mps_io.load_table(spark, self.dir, self.names[key])
        clean = mps_pipeline.CorpusPipeline(self.STAGES).run(df)
        if tracer is not None:
            _with_phases(tracer, clean)
        mps_io.write_partitioned(clean, path, ("lang",))

    def warm(self, spark, key: int) -> None:
        # op times keep falling for ~10 ops after the compiling one
        # (4 s -> 2.4 s on 4 cores, JIT); six untimed ops cut the
        # slope the timed ops see, and the run budget allows no more
        for i in range(self.WARM_OPS):
            self._run(spark, (key + i) % self.POOL, os.path.join(self.out, f"warm{i}"))

    def op(self, spark, key: int, tracer, n: int) -> str:
        path = os.path.join(self.out, f"op{n}")
        self._run(spark, key, path, tracer)
        return path

    def _reference(self, spark, key: int) -> dict:
        """Independent survivors of one corpus: exact dedup in Python,
        exact Jaccard of every pair of exact survivors in numpy, and
        the engine's exact-dedup stage output for comparison."""
        import pyarrow.parquet as pq

        t = pq.read_table(mps_io.table_path(self.dir, self.names[key])).to_pydict()
        norm = [_CTRL.sub("", s) for s in t["text"]]
        norm = [re.sub(r"[ \t]+", " ", s).strip(" ") for s in norm]
        first: dict[str, int] = {}
        for i, s, lang in zip(t["doc_id"], norm, t["lang"]):
            if lang not in self.KEEP or len(s.lower().split()) < self.MIN_TOKENS:
                continue
            fp = re.sub(r"\s+", " ", s.lower().strip())
            first[fp] = min(i, first.get(fp, i))
        exact = sorted(first.values())
        text = dict(zip(t["doc_id"], norm))
        sets = []
        for i in exact:
            lc = text[i].lower()
            sets.append({lc[j : j + 5] for j in range(max(len(lc) - 4, 1))})
        jac = _jaccard_matrix(sets)
        ia, ib = np.nonzero(np.triu(jac >= self.THRESHOLD, 1))
        parent = list(range(len(exact)))

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(ia, ib):
            parent[find(a)] = find(b)
        engine_exact = mps_pipeline.CorpusPipeline(self.STAGES[:4]).run(
            self.tables[self.names[key]]
        )
        pos = {i: p for p, i in enumerate(exact)}
        planted = [
            (i, i + 1)
            for i in exact
            if i + 1 in pos and jac[pos[i], pos[i + 1]] >= self.THRESHOLD
        ]
        return {
            "exact": set(exact),
            "engine_exact": {r[0] for r in engine_exact.select("doc_id").collect()},
            "comp": {i: find(p) for i, p in pos.items()},
            "planted": planted,
        }

    def check(self, spark, ops: list[dict]) -> None:
        """Set ``error`` (if wrong), ``survivors`` and planted-pair
        ``recall`` on each op."""
        import pyarrow.dataset as ds

        for o in ops:
            if o.get("error"):
                continue
            if o["key"] not in self.refs:
                self.refs[o["key"]] = self._reference(spark, o["key"])
            ref = self.refs[o["key"]]
            kept = set(
                ds.dataset(o["out"], format="parquet", partitioning="hive")
                .to_table(columns=["doc_id"])
                .column("doc_id")
                .to_pylist()
            )
            o["survivors"] = len(kept)
            o["recall"] = (
                sum(not (a in kept and b in kept) for a, b in ref["planted"])
                / len(ref["planted"])
                if ref["planted"]
                else 1.0
            )
            min_kept: dict[int, int] = {}
            for i in kept & ref["exact"]:
                c = ref["comp"][i]
                min_kept[c] = min(i, min_kept.get(c, i))
            bad_removed = [
                r
                for r in ref["exact"] - kept
                if min_kept.get(ref["comp"][r], r) >= r
            ]
            if ref["engine_exact"] != ref["exact"]:
                o["error"] = (
                    "exact-dedup survivors differ from the reference: "
                    f"{len(ref['engine_exact'] ^ ref['exact'])} ids"
                )
            elif not kept <= ref["exact"]:
                o["error"] = f"{len(kept - ref['exact'])} survivors not exact survivors"
            elif bad_removed:
                o["error"] = (
                    f"{len(bad_removed)} removals do not chain to a kept "
                    f"representative through pairs with J >= {self.THRESHOLD}"
                )


def _jaccard_matrix(sets: list[set]) -> np.ndarray:
    """Exact pairwise Jaccard of shingle sets: intersections by one
    float32 matrix product over the shingles that occur in two or more
    sets (exact for counts below 2**24)."""
    df: dict[str, int] = {}
    for s in sets:
        for g in s:
            df[g] = df.get(g, 0) + 1
    col = {g: j for j, g in enumerate(g for g, c in df.items() if c > 1)}
    m = np.zeros((len(sets), len(col)), dtype=np.float32)
    for i, s in enumerate(sets):
        m[i, [col[g] for g in s if g in col]] = 1.0
    inter = (m @ m.T).astype(np.float64)
    size = np.array([len(s) for s in sets], dtype=np.float64)
    return inter / (size[:, None] + size[None, :] - inter)


# -- eval_knn ---------------------------------------------------------------


class EvalKnn:
    """Presto's kNN eval head: ``knn_classify`` with k=20 over 128-d
    float32 embeddings, one op per probe chunk, against a fixed
    candidate set stored one file per core. Probe and candidate ids
    have different column names: equal names raise AMBIGUOUS_REFERENCE
    inside ``knn_classify`` (a known engine defect)."""

    name = "eval_knn"
    K = 20
    N_CAND = 4096
    CHUNK = 16
    N_CHUNKS = 32
    WARM_OPS = 5

    def __init__(self, work: str) -> None:
        self.dir = os.path.join(work, "inputs")
        self.cores = 1

    def setup(self, spark, seed: int) -> dict:
        shutil.rmtree(self.dir, ignore_errors=True)
        self.cores = spark.sparkContext.defaultParallelism
        self.arrays = inputs.write_embeddings(
            self.dir, seed, self.N_CAND, self.N_CHUNKS, self.CHUNK, self.cores
        )
        self.tables = {
            n: mps_io.load_table(spark, self.dir, n) for n in ("cands", "probes")
        }
        for df in self.tables.values():
            df.count()
        return {"candidates": self.N_CAND, "probes_per_chunk": self.CHUNK}

    def passes(self):
        return ([k] for k in itertools.cycle(range(self.N_CHUNKS)))

    def warm_key(self, key: int) -> str:
        return "knn"

    def items(self, key: int) -> int:
        return self.CHUNK

    def _classify(self, key: int):
        probes = self.tables["probes"].where(f"chunk = {int(key)}")
        return mps_knn.knn_classify(
            probes.select("probe_id", "vec"),
            self.tables["cands"],
            probe_id="probe_id",
            cand_id="cand_id",
            label_col="label",
            probe_vec="vec",
            cand_vec="vec",
            k=self.K,
        )

    def warm(self, spark, key: int) -> None:
        # op times keep falling over the first ~5 ops after code
        # generation while the JIT compiles the distance folds
        for i in range(self.WARM_OPS):
            self._classify((key + i) % self.N_CHUNKS).collect()

    def op(self, spark, key: int, tracer, n: int) -> dict:
        df = self._classify(key)
        _with_phases(tracer, df)
        with tracer.span("spark.action"):
            rows = df.collect()
        return {r["probe_id"]: (r["predicted"], r["votes"]) for r in rows}

    def reference(self, key: int) -> dict:
        """numpy brute force with the engine's arithmetic and
        tie-breaks: squared L2 folded in float64 dimension by dimension,
        neighbours by (distance, candidate id), vote by (count desc,
        label asc)."""
        a = self.arrays
        sl = slice(key * self.CHUNK, (key + 1) * self.CHUNK)
        q = a["probe_vec"][sl].astype(np.float64)
        c = a["cand_vec"].astype(np.float64)
        dist = np.zeros((q.shape[0], c.shape[0]))
        for d in range(q.shape[1]):
            diff = q[:, d : d + 1] - c[None, :, d]
            dist += diff * diff
        cand_ids = np.arange(c.shape[0])
        out = {}
        for pid, row in zip(a["probe_id"][sl], dist):
            nn = np.lexsort((cand_ids, row))[: self.K]
            votes = np.bincount(a["cand_label"][nn], minlength=inputs.N_CLASSES)
            best = int(np.argmax(votes))
            out[int(pid)] = (best, int(votes[best]))
        return out

    def check(self, spark, ops: list[dict]) -> None:
        for o in ops:
            if o.get("error"):
                continue
            want = self.reference(o["key"])
            got = o.pop("out")
            if got != want:
                wrong = sum(got.get(p) != v for p, v in want.items())
                o["error"] = f"{wrong} of {len(want)} predictions differ from numpy"


WORKLOADS = {w.name: w for w in (Headline, CorpusDedup, EvalKnn)}
