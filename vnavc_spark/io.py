"""Table loaders for the driver testdata.

The synthetic testdata (TESTDATA.md) is a TPC-H-ish star schema plus
``events`` / ``documents`` / ``embeddings``; the correctness oracle
(DuckDB) reads the same files, so readers here never mutate schema.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: All driver-generated tables, one parquet file each.
TESTDATA_TABLES = (
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

#: Dimensions small enough to broadcast at any scale factor the
#: reference corpus could reach (region=5 rows, nation=25; narrator
#: roster is a few hundred rows in the reference —
#: /root/reference/data/metadata).
BROADCAST_TABLES = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table as a DataFrame (columnar parquet scan;
    Catalyst prunes columns and pushes filters into the scan).
    ``events`` goes through :func:`_read_events` (timestamp handling).
    """
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown testdata table {name!r}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _read_events(spark, path)
    return spark.read.parquet(path)


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    """Read events.parquet with a stable ``ts: timestamp_ntz`` column
    across driver generations.

    ``events.parquet`` has shipped as TIMESTAMP(NANOS) in some driver
    generations (Spark's parquet reader rejects nanos by default) and
    TIMESTAMP(MICROS) in others. Handle both:

    - native micros (isAdjustedToUTC=false + inferTimestampNTZ) read
      directly as TIMESTAMP_NTZ — ``ts`` stays a plain scan column, so
      range predicates push into the parquet scan;
    - nanos files need ``spark.sql.legacy.parquet.nanosAsLong``; the
      flag is only set when a plain read rejects the file, and then it
      necessarily stays on for the session (Spark resolves it again at
      execution time, so a set-then-restore would break the scan).
      ``ts`` becomes a projection over the int64 nanos column —
      truncated to micros exactly like DuckDB's reader, so the oracle
      sees identical values — and range predicates on it cannot reach
      the scan (documented caveat, pinned in tests/test_plans.py).

    Both branches yield TIMESTAMP_NTZ: the nanos branch casts its
    timestamp_micros() (session-TZ-aware) result under the pinned UTC
    session, so downstream type-sensitive ops behave identically
    regardless of file generation. The cast is a no-op (removed by
    SimplifyCasts) on the native-micros branch.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    try:
        df = spark.read.parquet(path)
        df.schema  # force schema resolution to surface nanos errors
    except Exception:  # nanos generation: Illegal Parquet type INT64 (TIMESTAMP(NANOS,...))
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    if isinstance(df.schema["ts"].dataType, LongType):
        # integer div keeps full precision (nanos exceed 2^53)
        df = df.withColumn(
            "ts",
            F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"),
        )
    else:
        df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin-spread a FEW-FILE scan across the cores before
    fan-out-heavy per-row work (explodes, per-token hashing, Arrow
    batch passes) — the scale-adaptive partitioning gate (guide §2.5
    input skew / §6 small files).

    A single-row-group local parquet file cannot be range-split by
    ``maxPartitionBytes``, so at test scale every table scans as ONE
    partition and a pre-shuffle pipeline runs on one core of 32
    (measured: q27's 32 parity-vote columns 2.6 s single-partition
    vs 0.3 s spread). The gate only fires when the file count is
    below the default parallelism: a production corpus with many
    splits never pays the extra exchange, so this is adaptation, not
    a local-mode constant. Same probe-without-df.rdd rationale as
    minhash_signatures_df (the original instance of this gate);
    non-file-backed plans report zero files, where a round-robin
    shuffle of tiny test frames is harmless."""
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_input = len(df.inputFiles())
    except Exception:  # non-file-backed plan
        n_input = 0
    if n_input < n_parts:
        return df.repartition(n_parts)
    return df


def dim(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a dimension table with a broadcast hint applied when it is
    known-small (BROADCAST_TABLES). Joins against the result skip the
    shuffle regardless of statistics availability."""
    from pyspark.sql.functions import broadcast

    df = table(spark, sf_dir, name)
    return broadcast(df) if name in BROADCAST_TABLES else df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for name in TESTDATA_TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
