"""Pin the SQL-string-built knn family to Column-built references.

Round-9 rewrote knn_join / knn_classify / ann_lsh_join's expression
construction as SQL strings parsed JVM-side (guide §7.3: the Column
API cost 766-1274 py4j round-trips per q35/q45 build). The plan-node
structure is unchanged (plans/r09/q{23,35,40,45}_* diff clean modulo
exprIds) and q23/q35/q40/q45 + the non-bench knn consumers hash-match
the oracle at all three SFs; this test additionally pins BIT-equality
of the distance folds against the former Column-by-Column trees on
float32 vectors (where a changed cast/operand order would show).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from model_presto_spark.operators.knn import (
    _distance,
    _distance_sql,
    ann_lsh_join,
    knn_join,
)


@pytest.fixture(scope="module")
def vecs(spark):
    import random

    rnd = random.Random(7)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(40)
    ]
    # near-duplicate rows to force distance ties at the rank boundary
    rows += [(100 + i, list(rows[i][1])) for i in range(4)]
    return spark.createDataFrame(rows, "id INT, vec ARRAY<FLOAT>")


@pytest.mark.parametrize("metric", ["sqeuclidean", "cosine", "dot"])
def test_distance_sql_bit_identical(spark, vecs, metric):
    pairs = vecs.alias("a").crossJoin(
        vecs.toDF("id2", "vec2").alias("b")
    ).limit(400)
    both = pairs.select(
        _distance(F.col("vec"), F.col("vec2"), metric).alias("col_built"),
        F.expr(_distance_sql("vec", "vec2", metric)).alias("sql_built"),
    )
    # bit-equality: no tolerance
    bad = both.where("col_built IS DISTINCT FROM sql_built").count()
    assert bad == 0


@pytest.mark.parametrize("metric", ["sqeuclidean", "cosine", "dot"])
def test_knn_join_matches_reference(spark, vecs, metric):
    from pyspark.sql import Window

    probes = vecs.where("id < 6").toDF("probe_id", "vec")
    cands = vecs.toDF("cid", "vec")
    got = knn_join(
        probes, cands, "probe_id", "cid", "vec", "vec",
        k=3, metric=metric, exclude_self=True,
    )
    # reference: the pre-round-9 Column-built plan, verbatim
    p = probes.select(F.col("probe_id").alias("__pid"), F.col("vec").alias("__pvec"))
    c = cands.select(F.col("cid").alias("__cid"), F.col("vec").alias("__cvec"))
    pairs = c.crossJoin(F.broadcast(p)).filter(F.col("__pid") != F.col("__cid"))
    dist = _distance(F.col("__pvec"), F.col("__cvec"), metric)
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
    sim = cosine_similarity(F.col("__pvec"), F.col("__cvec"))
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
