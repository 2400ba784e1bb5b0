"""Transitive dedup clustering: connected components on the driver
union-find and on the distributed rounds, and the Spark-job budget of
the corpus-dedup pipeline built on it."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row


@pytest.fixture(params=["driver", "distributed"])
def cc_path(request, monkeypatch):
    """Run a connected-components test on the driver union-find and on
    the distributed rounds (``CAP = 0`` sends every graph there)."""
    from model_presto_spark.operators import graph

    if request.param == "distributed":
        monkeypatch.setattr(graph, "CAP", 0)
    return request.param


def test_connected_components_chain_and_clique(spark, cc_path):
    from model_presto_spark.operators.graph import connected_components

    # chain 1-2-3-4 (transitive), clique 10-11-12, isolated pair 20-21
    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),
            (10, 11), (11, 12), (10, 12),
            (20, 21),
        ],
        "id_a long, id_b long",
    )
    comp = {r.id: r.comp for r in connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == comp[4] == 1
    assert comp[10] == comp[11] == comp[12] == 10
    assert comp[20] == comp[21] == 20


def test_keep_cluster_representatives(spark, cc_path):
    from model_presto_spark.operators.graph import keep_cluster_representatives

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"d{i}") for i in [1, 2, 3, 4, 20, 21, 99]]
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (20, 21)], "id_a long, id_b long"
    )
    kept = sorted(
        r.doc_id for r in keep_cluster_representatives(docs, pairs, "doc_id").collect()
    )
    # chain collapses to 1, pair to 20, singleton 99 survives
    assert kept == [1, 20, 99]


def test_connected_components_long_chain_converges(spark, cc_path):
    """Regression: a path graph far longer than max_iter must still fully
    close — pointer jumping gives O(log diameter) rounds, so a 200-node
    chain needs ~8 rounds, not 200 (plain neighbor propagation would
    silently split the chain at the iteration cap)."""
    from model_presto_spark.operators.graph import connected_components

    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    comp = {r.id: r.comp for r in connected_components(pairs, max_iter=12).collect()}
    assert len(comp) == n
    assert set(comp.values()) == {0}


def _components_both_paths(pairs, monkeypatch):
    from model_presto_spark.operators import graph

    out = []
    for cap in (graph.CAP, 0):
        monkeypatch.setattr(graph, "CAP", cap)
        comp = graph.connected_components(pairs)
        out.append((comp.schema.simpleString(), sorted(comp.collect())))
    return out


def _messy_edges(rng, names):
    """Random sparse edges over ``names`` plus duplicates, reversed
    copies and self-loops."""
    idx = rng.integers(0, len(names), size=(90, 2))
    edges = [(names[a], names[b]) for a, b in idx]
    edges += edges[:15]  # duplicates
    edges += [(b, a) for a, b in edges[15:35]]  # reversed
    edges += [(names[i], names[i]) for i in range(5)]  # self-loops
    return edges


def test_connected_components_paths_agree_numeric_ids(spark, monkeypatch):
    rng = np.random.default_rng(2026)
    names = [int(x) for x in rng.choice(10**12, size=120, replace=False)]
    pairs = spark.createDataFrame(
        _messy_edges(rng, names), "id_a bigint, id_b bigint"
    )
    (s_drv, drv), (s_dist, dist) = _components_both_paths(pairs, monkeypatch)
    assert s_drv == s_dist == "struct<id:bigint,comp:bigint>"
    assert drv == dist
    assert len({c for _, c in drv}) > 1  # several components, not one


def test_connected_components_paths_agree_string_ids(spark, monkeypatch):
    rng = np.random.default_rng(7)
    # numeric order != string order (n9 > n10), and non-ASCII ids
    # whose code-point order must match Spark's UTF-8 byte order
    names = [f"n{i}" for i in range(100)] + ["é", "z", "Ω", "𝔸", "ａ"]
    pairs = spark.createDataFrame(
        _messy_edges(rng, names), "id_a string, id_b string"
    )
    (s_drv, drv), (s_dist, dist) = _components_both_paths(pairs, monkeypatch)
    assert s_drv == s_dist == "struct<id:string,comp:string>"
    assert drv == dist


def test_connected_components_self_loops_only(spark, cc_path):
    from model_presto_spark.operators.graph import connected_components

    pairs = spark.createDataFrame([(1, 1), (2, 2)], "id_a int, id_b int")
    comp = connected_components(pairs)
    assert comp.schema.simpleString() == "struct<id:int,comp:int>"
    assert comp.collect() == []


def test_connected_components_many_rounds_flat_size_estimate(
    spark, monkeypatch
):
    """A graph that needs more than 10 distributed rounds (a random
    1,000-edge graph on 2,000 nodes, near the giant-component
    threshold) converges to the driver union-find result, and the size
    estimate of the result's optimized plan stays flat with the round
    count. Each round's join tree multiplies its children's estimates;
    carried across rounds, that estimate grew 4x in digits per round
    and round 11 alone took ~22 s in Catalyst's statistics."""
    import random

    from model_presto_spark.operators import graph

    monkeypatch.setattr(graph, "CAP", 0)
    rng = random.Random(1)
    edges = [(rng.randrange(2000), rng.randrange(2000)) for _ in range(1000)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    want = graph._min_root_components([(a, b) for a, b in edges if a != b])

    checkpoints = []
    checkpoint = type(pairs).localCheckpoint

    def counted(df, *a, **kw):
        checkpoints.append(1)
        return checkpoint(df, *a, **kw)

    monkeypatch.setattr(type(pairs), "localCheckpoint", counted)
    sizes = {}
    for max_iter in (1, 20):
        checkpoints.clear()
        comp = graph.connected_components(pairs, max_iter=max_iter)
        sizes[max_iter] = int(
            comp._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    # edges, sym and the initial labels, one checkpoint per round, and
    # the returned one
    assert len(checkpoints) - 4 >= 11
    assert dict(comp.collect()) == want
    assert sizes[20] < 2**63
    assert sizes[20] <= 2 * sizes[1], sizes


def test_connected_components_distributed_frees_its_cache(spark, monkeypatch):
    """The distributed rounds leave nothing in the session's cache: every
    frame they persist is unpersisted by the time the result comes
    back, for both convergence probes, so callers holding only the
    result have nothing to free."""
    from pyspark.storagelevel import StorageLevel

    from model_presto_spark.operators import graph

    monkeypatch.setattr(graph, "CAP", 0)
    persisted = []
    persist = type(spark.range(1)).persist

    def recorded(df, *a, **kw):
        persisted.append(df)
        return persist(df, *a, **kw)

    monkeypatch.setattr(type(spark.range(1)), "persist", recorded)
    for schema, edges in (
        ("id_a long, id_b long", [(1, 2), (2, 3), (7, 8)]),
        ("id_a string, id_b string", [("a", "b"), ("b", "c"), ("x", "y")]),
    ):
        persisted.clear()
        comp = graph.connected_components(spark.createDataFrame(edges, schema))
        assert persisted
        assert comp.storageLevel == StorageLevel.NONE
        assert all(df.storageLevel == StorageLevel.NONE for df in persisted)
        assert len({c for _, c in comp.collect()}) == 2


def test_corpus_dedup_pipeline_job_budget(spark, tmp_path):
    """normalize..near_dedup(minhash) plus the partitioned write on a
    1,000-doc corpus launches at most 20 Spark jobs (31-32 before the
    driver finish of small graphs and the hash-set routing count).
    A distributed CC round (11-12 jobs) or a routing probe that re-runs
    the upstream lineage (4) pushes it over."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from model_presto_spark import io as mio
    from model_presto_spark.pipeline import CorpusPipeline
    from tools.stress_bench import gen_documents

    src = str(tmp_path / "corpus.parquet")
    pq.write_table(
        pa.Table.from_pandas(gen_documents(1000, seed=3), preserve_index=False),
        src,
    )
    docs = spark.read.parquet(src)
    stages = [
        {"op": "normalize"},
        {"op": "quality_gate", "min_tokens": 35},
        {"op": "lang_filter", "keep": ["en", "fr", "de", "es"]},
        {"op": "exact_dedup"},
        {"op": "near_dedup", "method": "minhash", "threshold": 0.8},
    ]
    sc = spark.sparkContext
    group = "corpus-dedup-job-budget"
    sc.setJobGroup(group, group)
    try:
        clean = CorpusPipeline(stages).run(docs)
        mio.write_partitioned(clean, str(tmp_path / "out"), ("lang",))
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs <= 20, jobs
    assert spark.read.parquet(str(tmp_path / "out")).count() > 0
