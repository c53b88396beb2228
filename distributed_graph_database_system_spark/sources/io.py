"""CSV / JSON / Parquet readers and writers (SURVEY.md §2.2 scans/sinks).

Thin, schema-explicit wrappers: readers always take a DDL schema (schema
inference is a full extra pass at 100 TB — never default to it), writers
default to overwrite for idempotent pipelines. Paths are directories of
part-files, the layout every Spark sink/scan uses."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` under the session's Hadoop
    configuration — the one resolver behind every file-level operation
    in ``sources/`` and the streaming ledgers, so they work on any
    supported URI, not just local paths."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", "true").csv(path)


def read_csv(spark: SparkSession, path: str, schema: str) -> DataFrame:
    return spark.read.schema(schema).option("header", "true").csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def read_json(spark: SparkSession, path: str, schema: str) -> DataFrame:
    return spark.read.schema(schema).json(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).parquet(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    # parquet embeds its schema; no DDL needed
    return spark.read.parquet(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    # ORC embeds its schema like parquet
    return spark.read.orc(path)


def audit_parquet_files(
    spark: SparkSession, path: str, level: str = "footer"
) -> DataFrame:
    """Distributed corrupt-file audit: ``(file STRING, ok BOOLEAN, error
    STRING)`` — one row per part-file. The file list is parallelized and
    each task validates its files with pyarrow, so auditing a
    million-file lake is embarrassingly parallel. Two levels, because
    they catch DIFFERENT corruption:

    - ``"footer"`` (default): metadata-only — a few KB per file, never a
      data pass. Catches truncation, garbage, zero-byte files. Does NOT
      catch a corrupt data page under an intact footer — those files
      read a valid schema and only fail at decompression.
    - ``"full"``: decodes every page (a real data pass over each file,
      one file per task). Catches page/compression corruption too — the
      level to use when the quarantine log must be COMPLETE.

    Local/NFS paths; object stores would route the pyarrow read through
    their fsspec filesystem."""
    import glob as pyglob

    if level not in ("footer", "full"):
        raise ValueError(f"audit_parquet_files: unknown level {level!r}")
    files = sorted(pyglob.glob(f"{path.rstrip('/')}/**/*.parquet", recursive=True))
    flist = spark.createDataFrame([(f,) for f in files], "file STRING")
    deep = level == "full"

    def check(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for f in pdf["file"]:
                try:
                    if deep:
                        pq.ParquetFile(f).read()  # decode every page
                    else:
                        pq.read_schema(f)
                    rows.append({"file": f, "ok": True, "error": None})
                except Exception as exc:  # noqa: BLE001 — the point
                    rows.append(
                        {"file": f, "ok": False, "error": str(exc)[:200]}
                    )
            yield pd.DataFrame(rows, columns=["file", "ok", "error"])

    return flist.mapInPandas(check, schema="file STRING, ok BOOLEAN, error STRING")


def read_parquet_resilient(
    spark: SparkSession,
    path: str,
    quarantine_log: str | None = None,
    audit_level: str = "footer",
) -> DataFrame:
    """Parquet scan that survives corrupt or truncated part-files — the
    operational reality of a 100 TB lake, where one bad file must cost a
    quarantine entry, not the job. ``ignoreCorruptFiles`` is set per-READ
    via the DataFrameReader option (not session-wide: silently skipping
    data is a policy each scan must opt into, and flipping the session
    conf would leak that policy into every other read in flight).

    When ``quarantine_log`` is given, the corrupt files are identified by
    :func:`audit_parquet_files` (Spark's own skip happens at execution
    time and is not reported back, so the planned-file list cannot tell
    you what was dropped) and written one path per line. The default
    ``audit_level="footer"`` is the cheap metadata sweep and can
    UNDER-report: a file whose footer is intact but whose data pages are
    corrupt is skipped by the scan yet passes the footer check — pass
    ``audit_level="full"`` when the log must name every skipped file
    (costs one decode pass over the audited files).
    """
    df = spark.read.option("ignoreCorruptFiles", "true").parquet(path)
    if quarantine_log is not None:
        bad = [
            r.file
            for r in audit_parquet_files(spark, path, level=audit_level)
            .where("NOT ok")
            .collect()
        ]
        fs, log_p = hadoop_path(spark, quarantine_log)
        out = fs.create(log_p, True)
        try:
            out.write(("\n".join(bad) + "\n").encode() if bad else b"")
        finally:
            out.close()
    return df
