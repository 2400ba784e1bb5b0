"""At-scale A/B evidence for spread()'s repartition.

``io.spread()`` puts a round-robin repartition to cluster parallelism
in front of the CPU folds of knn_join, ann_lsh_join and the
dedup/tokenize passes, on every input. This tool times that
(``always``, the engine as it is) against leaving the scan as it is
(``never``) on two layouts of the same embeddings:

- NARROW (1 parquet file — this repo's testdata shape, and the shape
  of any small-dimension scan at cluster scale): the repartition is
  what keeps the folds off a single core.
- WIDE (32 parquet files — a stand-in for the tens of thousands of
  splits a 100 TB table scan has): the repartition is an extra
  shuffle of raw rows; ``never`` over ``always`` shows what it costs.

Ops: knn_join (64-d sqeuclidean + cosine, q45/q35-style), knn_join
2-d (q23-style) and ann_lsh_join (8x64 hyperplane fold, q40-style).
``never`` substitutes ``spread`` with a no-op in this process only, at
every loaded engine module that binds it; the engine itself has no
setting for it. Variants are interleaved per repetition, each
repetition starting from the next variant, and the best of ``RUNS``
is kept, so host drift and run order hit both alike.

Usage: python tools/spread_stress.py [out_json] [data_dir]

The generated layouts are kept in ``data_dir`` (default
/tmp/spread_stress) and reused by later runs.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

DIM = 64
SIZES = {"s20k": 20_000, "s100k": 100_000}
N_PROBES = 20
RUNS = 3
VARIANTS = ("always", "never")


def gen_embeddings(spark, n: int, path_narrow: str, path_wide: str) -> None:
    import pandas as pd

    rng = np.random.default_rng(13)
    vecs = rng.standard_normal((n, DIM)).astype(np.float32)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(map(list, vecs))}
    )
    df = spark.createDataFrame(pdf)
    df.coalesce(1).write.mode("overwrite").parquet(path_narrow)
    df.repartition(32).write.mode("overwrite").parquet(path_wide)


@contextlib.contextmanager
def forced_spread(variant: str):
    """``always`` runs the engine's spread; ``never`` substitutes a
    no-op at every loaded module that binds it."""
    import model_presto_spark.io as io

    engine = io.spread
    if variant == "always":
        yield
        return
    bound = [
        m for name, m in list(sys.modules.items())
        if name.startswith("model_presto_spark")
        and getattr(m, "spread", None) is engine
    ]
    for m in bound:
        m.spread = lambda df: df
    try:
        yield
    finally:
        for m in bound:
            m.spread = engine


def main() -> None:
    out_json = sys.argv[1] if len(sys.argv) > 1 else "STRESS_r17.json"
    data_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/spread_stress"

    from model_presto_spark.operators.knn import ann_lsh_join, knn_join
    from model_presto_spark.session import get_spark

    spark = get_spark("spread-stress")
    spark.sparkContext.setLogLevel("ERROR")

    layouts: dict[str, dict[str, str]] = {}
    for tag, n in SIZES.items():
        narrow = f"{data_dir}/{tag}/narrow"
        wide = f"{data_dir}/{tag}/wide"
        if not (os.path.exists(narrow) and os.path.exists(wide)):
            gen_embeddings(spark, n, narrow, wide)
        layouts[tag] = {"narrow": narrow, "wide": wide}

    def build_op(op: str, path: str):
        emb = spark.read.parquet(path)
        probes = emb.where(f"vec_id < {N_PROBES}").toDF("probe_id", "vec")
        cands = emb.toDF("cid", "vec")
        if op == "knn64_sqeuclidean":
            out = knn_join(probes, cands, "probe_id", "cid", "vec", "vec",
                           k=5, metric="sqeuclidean", exclude_self=True)
        elif op == "knn64_cosine":
            out = knn_join(probes, cands, "probe_id", "cid", "vec", "vec",
                           k=5, metric="cosine", exclude_self=True)
        elif op == "knn2":
            p2 = probes.selectExpr("probe_id", "slice(vec, 1, 2) AS vec")
            c2 = cands.selectExpr("cid", "slice(vec, 1, 2) AS vec")
            out = knn_join(p2, c2, "probe_id", "cid", "vec", "vec",
                           k=5, metric="sqeuclidean", exclude_self=True)
        elif op == "ann_lsh":
            out = ann_lsh_join(emb.toDF("probe_id", "vec"), cands,
                               "probe_id", "cid", "vec", "vec",
                               k=5, dim=DIM, planes=8)
        else:
            raise ValueError(op)
        return out

    ops = ["knn64_sqeuclidean", "knn64_cosine", "knn2", "ann_lsh"]
    t: dict[str, float] = {}
    for tag in SIZES:
        for layout, path in layouts[tag].items():
            for op in ops:
                # ann over 100k x 100k same-bucket pairs is a
                # genuine O(n^2/2^planes) rerank — cap ann at 20k
                if op == "ann_lsh" and tag != "s20k":
                    continue
                for r in range(RUNS):
                    k = r % len(VARIANTS)
                    for variant in VARIANTS[k:] + VARIANTS[:k]:
                        key = f"{tag}.{layout}.{op}.{variant}"
                        spark.sparkContext.setJobDescription(key)
                        with forced_spread(variant):
                            t0 = time.perf_counter()
                            out = build_op(op, path)
                            out.write.format("noop").mode("overwrite").save()
                            dt = time.perf_counter() - t0
                        t[key] = round(min(t.get(key, dt), dt), 3)
                        print(key, round(dt, 3), flush=True)

    cells = sorted({k.rsplit(".", 1)[0] for k in t})
    ratio = {c: round(t[c + ".never"] / t[c + ".always"], 3) for c in cells}
    results = {
        "sizes": SIZES,
        "dim": DIM,
        "n_probes": N_PROBES,
        "runs": RUNS,
        "cores": spark.sparkContext.defaultParallelism,
        "timings_best_of_runs": t,
        "ratio_never_over_always": ratio,
    }
    with open(out_json, "w") as f:
        json.dump(results, f, indent=1)
    print("wrote", out_json)


if __name__ == "__main__":
    main()
