"""Fixture-table catalog.

The reference's only source was a GCS JSON blob per matrix
(reference orchestrator/main.py:54-64). Here sources are columnar
parquet scans with pushdown; the catalog just names them.
"""

from __future__ import annotations

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

# Small dimension tables that should always be broadcast when joined
# against a fact table (at any scale factor these stay tiny).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def ensure_nanos_conf(spark: SparkSession) -> None:
    """The ONE place the nanos-as-long posture is applied at runtime.

    Sessions built by our session.get_spark() already declare
    spark.sql.legacy.parquet.nanosAsLong in the builder; this runtime
    set covers FOREIGN sessions (the driver creates its own). It must
    stay session-wide: Spark resolves the conf at ACTION time, not
    read time, so it cannot be scoped to a single read.

    Also pins the session timezone to UTC so NTZ→TIMESTAMP casts in
    normalize_events_ts are wall-clock-preserving in foreign sessions
    (ours already set it in the builder)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Make events.ts a microsecond timestamp whatever the fixture's
    physical encoding is.

    Fixtures have shipped in two encodings across rounds:
    - TIMESTAMP(NANOS): Spark's reader rejects it unless
      nanosAsLong is set, then yields a BIGINT of nanos — truncate
      to micros (exactly what DuckDB's reader does) so ts values
      stay oracle-comparable.
    - timestamp[us]: Spark reads TIMESTAMP_NTZ natively — pass
      through untouched (DuckDB reads the identical values).
    Branching on the LOADED dtype keeps both encodings working."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    if isinstance(dt, T.TimestampNTZType):
        # Watermarks/window ops require TIMESTAMP, and the nanos path
        # above yields TIMESTAMP — cast for type parity. Session tz is
        # pinned to UTC (session.py / ensure_nanos_conf), so the instant
        # equals the NTZ wall-clock and DuckDB's naive read.
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_nanos_conf(spark)
    return normalize_events_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view; returns the DataFrames."""
    out = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
