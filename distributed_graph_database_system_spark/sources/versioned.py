"""Versioned table store: immutable snapshot versions with as-of reads.

A minimal time-travel layer over plain parquet — the storage idiom
snapshot_diff_corpus and the SCD2 queries consume: each write lands under
``<root>/version=N`` (N monotonically increasing), readers resolve
"latest" or "as of version K" by directory listing, and nothing is ever
rewritten — which is what makes concurrent readers safe without any lock
service, and makes `snapshot_diff` (operators/diff.py) a pure function of
two version directories.

Scale notes: version resolution is one directory listing (not a data
scan); an as-of read is an ordinary partition-pruned parquet read of ONE
version directory. Old versions are reclaimed explicitly with
``vacuum(keep_last=...)`` — retention is a policy decision, never a side
effect of writing. This is deliberately the hive-layout subset of what a
table format (Delta/Iceberg) provides: no hidden metadata files, every
artifact is inspectable parquet.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from distributed_graph_database_system_spark.sources.io import hadoop_path


def list_versions(spark: SparkSession, root: str) -> list[int]:
    fs, hpath = hadoop_path(spark, root)
    if not fs.isDirectory(hpath):
        return []
    out = []
    for st in fs.listStatus(hpath):
        m = re.fullmatch(r"version=(\d+)", st.getPath().getName())
        if m and st.isDirectory():
            out.append(int(m.group(1)))
    return sorted(out)


def write_version(df: DataFrame, root: str) -> int:
    """Append the next immutable snapshot; returns its version number.
    The write goes to the NEW directory only — existing versions are
    never touched, so a concurrent as-of reader can never observe a
    half-written table it already resolved."""
    spark = df.sparkSession
    versions = list_versions(spark, root)
    nxt = (versions[-1] + 1) if versions else 0
    df.write.mode("errorifexists").parquet(f"{root}/version={nxt}")
    return nxt


def read_version(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Read one snapshot: the given version, or the latest when omitted."""
    versions = list_versions(spark, root)
    if not versions:
        raise FileNotFoundError(f"no versions under {root}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise FileNotFoundError(
            f"version {version} not in {versions} under {root}"
        )
    return spark.read.parquet(f"{root}/version={version}")


def read_history(spark: SparkSession, root: str) -> DataFrame:
    """Every snapshot at once, with ``version`` as a real column — the
    version directories are hive partitions, so this is an ordinary
    partition-discovering read, and ``where(version = K)`` prunes to one
    snapshot directory. ``mergeSchema`` reconciles schema drift across
    versions (a column added in a later snapshot reads as NULL in earlier
    ones) — schema evolution is data, not an error."""
    if not list_versions(spark, root):
        raise FileNotFoundError(f"no versions under {root}")
    return spark.read.option("mergeSchema", "true").parquet(root)


def vacuum(spark: SparkSession, root: str, keep_last: int = 2) -> list[int]:
    """Drop all but the newest ``keep_last`` versions; returns the dropped
    version numbers. Explicit retention — never implied by a write."""
    if keep_last < 1:
        raise ValueError("vacuum: keep_last must be >= 1")
    versions = list_versions(spark, root)
    drop = versions[:-keep_last] if len(versions) > keep_last else []
    for v in drop:
        fs, vpath = hadoop_path(spark, f"{root}/version={v}")
        fs.delete(vpath, True)
    return drop
