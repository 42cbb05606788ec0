"""Parquet table loaders for the driver-provided testdata.

Scale notes: ``spark.read.parquet`` gives Catalyst full pushdown
(filters reach row-group stats, unused columns are never read), and
partition sizing is governed by ``spark.sql.files.maxPartitionBytes``
— on a 1000-executor cluster the same code splits 100 TB into
input-sized tasks with no changes here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import ensure_session_conf

# Each table's unique row key: the column(s) load_table_parallel
# hashes to widen a narrow scan.
TABLE_KEYS = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
TABLES = tuple(TABLE_KEYS)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to session-zoned TimestampType.

    The driver's testdata has shipped three physical forms across
    rounds, and any of them may come back:

    - parquet TIMESTAMP(NANOS) → Spark reads BIGINT under
      ``nanosAsLong``; convert with integer division (``/`` on BIGINT
      is DOUBLE and epoch-nanos exceed 2^53, so float rounding could
      shift boundary events by ±1µs).
    - parquet timestamp[us] without timezone → TIMESTAMP_NTZ, which
      ``withWatermark`` / ``unix_micros`` reject; cast to TIMESTAMP
      (session is pinned UTC, so the instant is unchanged).
    - timestamp[us] with timezone → already TimestampType; no-op.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing physical quirks (see
    :func:`normalize_events_ts` for the ``events.ts`` forms)."""
    ensure_session_conf(spark)
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(df)
    return df


def load_table_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """:func:`load_table`, widened to the cluster's parallelism when the
    scan would be narrower — the package's one scan-width guard.

    A testdata table is ONE parquet file with one row group, so every
    stage computing heavy per-row work directly on the scan (shingle
    hashing, quantization HOFs, JSON parsing, Arrow kernels) would run
    as a single task whatever the core count; at the 10x fixture
    ann_ivf_probe spent 9.9 s of task time in 7 one-task stages.

    Gate: the scan's estimated split count, total input bytes (the
    relation's size statistic) divided by
    ``spark.sql.files.maxPartitionBytes``.  Below ``defaultParallelism``
    the rows are hash-repartitioned to that width; a real corpus has
    at least that many splits and the guard is a no-op (no exchange).

    Why hash the table key (:data:`TABLE_KEYS`) and not round-robin:
    ``repartition(n)`` places a row by its position in the input, so
    to stay deterministic under task retries Spark sorts every row
    first (``spark.sql.execution.sortBeforeRepartition``).  A unique
    key spreads rows evenly and places each by its content alone, with
    no sort, and operators keyed on the same column (windows/joins on
    ``vec_id``) reuse the partitioning instead of shuffling again."""
    df = load_table(spark, sf_dir, name)
    want = spark.sparkContext.defaultParallelism
    size = df._jdf.queryExecution().analyzed().stats().sizeInBytes()
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    if size < want * split:
        df = df.repartition(want, *TABLE_KEYS[name])
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all testdata tables as temp views (used by SQL-form queries)."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
