"""Fixture-table catalog: typed loaders over the driver-generated parquet.

Tables (see TESTDATA.md / FIXTURES.md §A): region nation customer supplier part
orders lineitem events documents embeddings. Each is one parquet file per scale
factor. All reads go through ``spark.read.parquet`` so Catalyst gets predicate
pushdown + column pruning for free; callers must ``.select`` only what they
need so ``ReadSchema`` stays narrow.

At cluster scale these would be directories of many files (or a metastore
table); the API is path-based so swapping a single file for a partitioned
table is transparent.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Dimension tables small enough to broadcast at ANY scale factor (bounded
# cardinality in TPC-H-like schemas: region=5, nation=25 regardless of SF).
BROADCASTABLE = frozenset({"region", "nation"})

# Runtime-settable confs every query depends on, applied defensively because
# the harness may hand us a SparkSession built without session.py:
# - nanosAsLong: events.parquet stores TIMESTAMP(NANOS); without it the scan
#   throws PARQUET_TYPE_ILLEGAL (verified on a bare session).
# - UTC: timestamp semantics must match the DuckDB oracle.
# - arrow: pandas-UDF paths (minhash/simhash/multimodal) batch via Arrow.
_RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def ensure_runtime_confs(spark: SparkSession) -> None:
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — a static conf on some build: keep going
            pass


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Inferred parquet schemas keyed by (abspath, st_mtime_ns, st_size): schema
# inference runs a footer job on every read, a declared schema starts none
# (opening all ten sf0.1 tables on 4 cores: 1.01 s inferred vs 0.17 s
# declared, BASELINE.md). A rewritten file changes its key and is inferred
# afresh; a directory's mtime does not track rewrites of the files inside
# it, so only regular files are cached. The confs that change inference are
# forced by ensure_runtime_confs before every read.
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        # a missing path still raises Spark's own AnalysisException
        return spark.read.parquet(path)
    key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; one of {TABLES}")
    ensure_runtime_confs(spark)
    df = _read_parquet(spark, table_path(sf_dir, name))
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        if isinstance(df.schema["ts"].dataType, LongType):
            # ts is TIMESTAMP(NANOS) in the footer; Spark reads it as long ns
            # (spark.sql.legacy.parquet.nanosAsLong). Values are exact micros
            # (verified over the fixtures), so integer-divide to µs losslessly.
            # NB: must be `div` (integer division) — `/` on longs is IEEE-double
            # division, whose 53-bit mantissa rounds ~1.7e18 ns values.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
            # timestamp[us] with no timezone in the footer (current fixtures).
            # Session tz is pinned UTC, so the NTZ→LTZ cast is a pure wall-clock
            # reinterpretation — identical instants, and downstream code (and
            # DuckDB's naive TIMESTAMP oracle) sees the same values.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        else:
            # A session that can natively represent the nanos column (or a
            # future fixture with micros): truncate to whole microseconds.
            df = df.withColumn("ts", F.expr("timestamp_micros(unix_micros(ts))"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL API."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
