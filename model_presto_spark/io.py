"""Table catalog over the driver's parquet testdata.

Mirrors the reference's scan layer (SURVEY.md §2.1): parquet is the
canonical columnar source (S7); other formats live in
``model_presto_spark.sources``. Loads are lazy DataFrames — Catalyst
handles column pruning and predicate pushdown into the parquet scan,
playing the role the remote collection service plays in the
reference (reference: src/optimization.py:79-99 lazy filter chains).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one catalog table.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which the
    Spark 4 vectorized reader rejects; read it as raw nanos
    (``nanosAsLong``) and truncate to microseconds — the same
    truncation DuckDB applies internally, so oracle comparisons on
    derived time fields agree.

    The lazy DataFrame (an unexecuted logical plan) is memoized per
    ``(session, sf_dir, name)``: a fresh ``spark.read.parquet`` costs
    ~130 ms of driver work per call (reader construction, file
    listing, footer schema read) plus ~40 ms of ``conf.set`` py4j
    round-trips, repeated for every query build even though the
    resolved relation is identical.  The memo holds ONLY the plan —
    no rows, no persisted partitions; every action on it still scans
    the parquet files — and lives on the Python session object, so a
    new session (or process) starts cold.  Catalog paths are static
    per session (tests and the driver never rewrite a table in
    place); anything needing a re-list can open a new session or
    read directly.
    """
    try:
        cache = spark._mps_table_plans
    except AttributeError:
        cache = spark._mps_table_plans = {}
    key = (os.path.abspath(sf_dir), name)
    df = cache.get(key)
    if df is not None:
        return df
    # Pin UTC regardless of who built the session (the driver's own
    # SparkSession has no engine configs): date/timestamp extraction
    # must agree with DuckDB's naive-UTC semantics.  Pinned on the
    # memo miss — nothing in the engine un-pins it afterwards.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        df = spark.read.parquet(table_path(sf_dir, name))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = spark.read.parquet(table_path(sf_dir, name))
    cache[key] = df
    return df


def read_csv(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """CSV scan (S4; reference: algae_blooms_eval.py:49-50). Explicit
    schema preferred — inference costs an extra pass."""
    reader = spark.read.option("header", "true")
    return (reader.schema(schema) if schema else reader.option(
        "inferSchema", "true"
    )).csv(path)


def write_csv(df: DataFrame, path: str) -> None:
    """CSV sink (S11; optimization.py:216-217)."""
    df.write.mode("overwrite").option("header", "true").csv(path)


def write_json(df: DataFrame, path: str) -> None:
    """JSON metadata sink (S17; ..._monthly.py:415-458)."""
    df.write.mode("overwrite").json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan (second columnar format beside parquet; built into
    Spark — same pushdown/pruning machinery)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").orc(path)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to cluster parallelism.

    CPU-bound operators (shingling, per-element hashing, vector math)
    must not inherit the scan's partitioning: a small file count — or
    one giant unsplittable file — serializes the whole stage onto a
    few cores. One cheap shuffle of the raw rows buys full-cluster
    parallelism for everything downstream.

    Always repartitions; there is no setting. On one-file scans that
    is 6-15x faster than leaving the scan as it is (STRESS_r15). On a
    scan that already lists a file per core the extra shuffle measured
    0.85-1.09x of leaving it alone (STRESS_r16, 4-core host, 20k-100k
    64-d embeddings), too close to pay for a per-call plan probe.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every catalog table present in ``sf_dir`` (all lazy)."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        if os.path.exists(table_path(sf_dir, name)):
            out[name] = load_table(spark, sf_dir, name)
    return out


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register each table as a temp view for spark.sql() access."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("year", "month"),
    mode: str = "overwrite",
) -> None:
    """Hive-layout partitioned parquet dataset (SURVEY §7 item 8: the
    reference's dated-artifact layout, e.g. tile/year/month dirs in
    presto-tolbi ..._monthly.py:722-733).

    The payoff at 100 TB is partition PRUNING: any read that filters
    on a partition column scans only matching directories — the scan
    plan shows the predicate under PartitionFilters and never opens
    the other files (verified by tests/test_partition_pruning.py).
    """
    df.write.partitionBy(*partition_cols).mode(mode).parquet(path)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_cols: tuple[str, ...] | None = None,
    delete_col: str | None = None,
) -> None:
    """MERGE-style upsert into a parquet table (no transaction log).

    Semantics per key: matched -> replace with the update row; not
    matched -> insert; rows with ``delete_col`` true remove the
    target row and insert nothing. With ``partition_cols`` the write
    uses dynamic partition overwrite, so ONLY partitions touched by
    the update batch are rewritten — the incremental-maintenance
    shape at 100 TB (requires keys to be partition-stable: a key
    whose partition value changes must be deleted from the old
    partition in the same batch). Without partitions the whole table
    rewrites.

    The merged result is materialized (eager localCheckpoint) BEFORE
    the overwrite — Spark cannot safely overwrite files it is still
    lazily reading. Not atomic under concurrent writers (that is
    what table formats add); idempotent under replay of the same
    batch.
    """
    from pyspark.sql import functions as F

    if delete_col is not None:
        deletes = updates.where(F.col(delete_col)).select(*key_cols)
        upserts = updates.where(~F.col(delete_col)).drop(delete_col)
    else:
        deletes = None
        upserts = updates

    if not os.path.exists(target_path):
        writer = upserts.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(target_path)
        return

    target = spark.read.parquet(target_path)
    touched_keys = updates.select(*key_cols).distinct()
    if partition_cols:
        # only partitions named by the batch participate
        parts = upserts.select(*partition_cols).distinct()
        if deletes is not None:
            del_parts = (
                target.join(deletes, key_cols, "left_semi")
                .select(*partition_cols)
                .distinct()
            )
            parts = parts.unionByName(del_parts).distinct()
        scope = target.join(F.broadcast(parts), list(partition_cols), "left_semi")
    else:
        scope = target
    keep = scope.join(touched_keys, key_cols, "left_anti")
    merged = keep.unionByName(upserts).localCheckpoint(eager=True)

    writer = merged.write.mode("overwrite")
    if partition_cols:
        # Dynamic overwrite only replaces partitions PRESENT in the
        # written data — a delete batch that empties a partition
        # writes no rows for it, so its old files (and the deleted
        # keys) would silently survive. Detect emptied in-scope
        # partitions and drop their directories via the Hadoop FS
        # (works for any path scheme, not just local).
        in_scope = {tuple(r) for r in parts.collect()}  # O(#partitions)
        still_there = {
            tuple(r) for r in merged.select(*partition_cols).distinct().collect()
        }
        emptied = in_scope - still_there
        if emptied:
            jvm = spark._jvm
            hconf = spark._jsc.hadoopConfiguration()
            for vals in emptied:
                sub = "/".join(
                    f"{c}={v}" for c, v in zip(partition_cols, vals)
                )
                jpath = jvm.org.apache.hadoop.fs.Path(
                    f"{target_path}/{sub}"
                )
                fs = jpath.getFileSystem(hconf)
                fs.delete(jpath, True)
        writer = (
            writer.option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
        )
    writer.parquet(target_path)
