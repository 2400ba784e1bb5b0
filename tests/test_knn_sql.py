"""Pin the knn family's SQL distance folds against DuckDB spellings.

knn_join / knn_classify / ann_lsh_join build their expressions as SQL
text parsed JVM-side (guide §7.3: Column construction cost 766-1274
py4j round-trips per q35/q45 build). The distance folds are pinned
against the DuckDB spellings of the oracles that replay them (q45's
squared L2, q35's dot and norms) on float32 vectors, element-wise with
no tolerance: a changed cast or operand order shows in the last bit.
The rows include a zero vector, NaN and ±inf elements. The knn_join
and ann_lsh_join results are pinned against a reference plan built
directly from the same folds.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from model_presto_spark.operators.knn import (
    _distance,
    ann_lsh_join,
    knn_join,
)
from model_presto_spark.testing import eval_fragments

_DIM = 16
_ZERO = 200  # id of the all-zero vector


@pytest.fixture(scope="module")
def vecs(spark):
    import random

    rnd = random.Random(7)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(_DIM)]) for i in range(40)
    ]
    # near-duplicate rows to force distance ties at the rank boundary
    rows += [(100 + i, list(rows[i][1])) for i in range(4)]
    return spark.createDataFrame(rows, "id INT, vec ARRAY<FLOAT>")


@pytest.fixture(scope="module")
def odd_pairs(spark, vecs):
    """Every ordered pair over a few random vectors plus the degenerate
    ones: all zeros, a NaN element, +inf and -inf elements."""
    base = [(r.id, list(r.vec)) for r in vecs.where("id < 4").collect()]
    odd = [
        (_ZERO, [0.0] * _DIM),
        (201, [float("nan")] + [0.5] * (_DIM - 1)),
        (202, [float("inf")] + [0.5] * (_DIM - 1)),
        (203, [float("-inf")] + [0.5] * (_DIM - 1)),
    ]
    rows = [
        (ia * 1000 + ib, va, vb) for ia, va in base + odd for ib, vb in base + odd
    ]
    return spark.createDataFrame(
        rows, "id INT, vec ARRAY<FLOAT>, vec2 ARRAY<FLOAT>"
    )


# q45's squared-L2 and q35's dot / norm spellings
_DD_SQDIST = (
    f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    f"list_transform(generate_series(1, {_DIM}), "
    f"i -> (CAST(vec[i] AS DOUBLE) - CAST(vec2[i] AS DOUBLE)) "
    f"* (CAST(vec[i] AS DOUBLE) - CAST(vec2[i] AS DOUBLE)))), "
    f"(acc, x) -> acc + x)"
)
_DD_DOT = (
    f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    f"list_transform(generate_series(1, {_DIM}), "
    f"i -> CAST(vec[i] AS DOUBLE) * CAST(vec2[i] AS DOUBLE))), "
    f"(acc, x) -> acc + x)"
)


def _dd_norm(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
        f"(acc, x) -> acc + x))"
    )


_DD_DISTANCE = {
    "sqeuclidean": _DD_SQDIST,
    "dot": f"-({_DD_DOT})",
    "cosine": f"1.0 - {_DD_DOT} / ({_dd_norm('vec')} * {_dd_norm('vec2')})",
}


@pytest.mark.parametrize("metric", ["sqeuclidean", "cosine", "dot"])
def test_distance_sql_bit_identical(spark, odd_pairs, metric):
    if metric == "cosine":
        # a zero vector makes the cosine 0/0: DuckDB returns NULL, Spark
        # under ANSI raises (ROADMAP defect), so those pairs are checked
        # apart below
        zero = f"id DIV 1000 = {_ZERO} OR id % 1000 = {_ZERO}"
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            odd_pairs.where(zero).selectExpr(
                _distance("vec", "vec2", metric)
            ).collect()
        odd_pairs = odd_pairs.where(f"NOT ({zero})")
    got, want = eval_fragments(
        odd_pairs, _distance("vec", "vec2", metric), _DD_DISTANCE[metric]
    )
    assert got == want  # bit-equality: no tolerance


def test_cosine_similarity_twin(spark, odd_pairs):
    from model_presto_spark.functions.vectors import cosine_similarity

    zero = f"id DIV 1000 = {_ZERO} OR id % 1000 = {_ZERO}"
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):  # as above
        odd_pairs.where(zero).selectExpr(
            cosine_similarity("vec", "vec2")
        ).collect()
    got, want = eval_fragments(
        odd_pairs.where(f"NOT ({zero})"),
        cosine_similarity("vec", "vec2"),
        f"{_DD_DOT} / ({_dd_norm('vec')} * {_dd_norm('vec2')})",
    )
    assert got == want


@pytest.mark.parametrize("metric", ["sqeuclidean", "cosine", "dot"])
def test_knn_join_matches_reference(spark, vecs, metric):
    from pyspark.sql import Window

    probes = vecs.where("id < 6").toDF("probe_id", "vec")
    cands = vecs.toDF("cid", "vec")
    got = knn_join(
        probes, cands, "probe_id", "cid", "vec", "vec",
        k=3, metric=metric, exclude_self=True,
    )
    # reference: the same fold under a plain window plan
    p = probes.select(F.col("probe_id").alias("__pid"), F.col("vec").alias("__pvec"))
    c = cands.select(F.col("cid").alias("__cid"), F.col("vec").alias("__cvec"))
    pairs = c.crossJoin(F.broadcast(p)).filter(F.col("__pid") != F.col("__cid"))
    dist = F.expr(_distance("__pvec", "__cvec", metric))
    scored = pairs.select("__pid", "__cid", dist.alias("__dist"))
    w = Window.partitionBy("__pid").orderBy(
        F.col("__dist").asc(), F.col("__cid").asc()
    )
    want = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("__pid").alias("probe_id"),
            F.col("__cid").alias("cid"),
            F.col("__dist").alias("dist"),
            "rank",
        )
    )
    key = lambda r: (r.probe_id, r.rank)  # noqa: E731
    g = {key(r): (r.cid, r.dist) for r in got.collect()}
    x = {key(r): (r.cid, r.dist) for r in want.collect()}
    assert g == x  # exact float equality, same neighbor ids


def test_ann_lsh_join_matches_reference(spark, vecs):
    from pyspark.sql import Window

    from model_presto_spark.functions.vectors import cosine_similarity
    from model_presto_spark.operators.knn import _hyperplane_bucket_sql

    probes = vecs.toDF("probe_id", "vec")
    cands = vecs.toDF("cid", "vec")
    got = ann_lsh_join(
        probes, cands, "probe_id", "cid", "vec", "vec",
        k=2, dim=16, planes=4,
    )
    p = probes.select(
        F.col("probe_id").alias("__pid"),
        F.col("vec").alias("__pvec"),
        F.expr(_hyperplane_bucket_sql("vec", 16, 4)).alias("__bucket"),
    )
    c = cands.select(F.col("cid").alias("__cid"), F.col("vec").alias("__cvec")).select(
        "__cid", "__cvec",
        F.expr(_hyperplane_bucket_sql("__cvec", 16, 4)).alias("__bucket"),
    )
    pairs = c.join(p, "__bucket").filter(F.col("__pid") != F.col("__cid"))
    sim = F.expr(cosine_similarity("__pvec", "__cvec"))
    scored = pairs.select("__pid", "__cid", sim.alias("__sim"))
    w = Window.partitionBy("__pid").orderBy(
        F.col("__sim").desc(), F.col("__cid").asc()
    )
    want = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select(
            F.col("__pid").alias("probe_id"),
            F.col("__cid").alias("cid"),
            F.col("__sim").alias("cosine_sim"),
            "rank",
        )
    )
    key = lambda r: (r.probe_id, r.rank)  # noqa: E731
    g = {key(r): (r.cid, r.cosine_sim) for r in got.collect()}
    x = {key(r): (r.cid, r.cosine_sim) for r in want.collect()}
    assert g == x


@pytest.mark.parametrize("exclude_self", [False, True])
def test_knn_classify_equal_id_names(spark, vecs, exclude_self):
    """Probe and candidate id columns may share a name: predictions
    equal the distinct-name call's (the shared name used to raise
    AMBIGUOUS_REFERENCE)."""
    from model_presto_spark.operators.knn import knn_classify

    labelled = vecs.selectExpr("id", "vec", "id % 3 AS y")
    probes = vecs.where("id < 8")
    distinct = knn_classify(
        probes.toDF("pid", "vec"), labelled.toDF("cid", "vec", "y"),
        "pid", "cid", "y", k=4, exclude_self=exclude_self,
    )
    same = knn_classify(
        probes, labelled, "id", "id", "y", k=4, exclude_self=exclude_self
    )
    assert same.columns == ["id", "predicted", "votes"]
    assert sorted(map(tuple, same.collect())) == sorted(
        map(tuple, distinct.collect())
    )
