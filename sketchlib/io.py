"""Source/sink helpers: Iceberg when available, parquet otherwise.

The north rule targets Iceberg tables of pre-tokenized sequences. This
container has no Iceberg runtime jars, so every reader/writer here
resolves the format at call time: a table identifier (``db.tbl`` or
``catalog.db.tbl``) uses the Iceberg catalog; a path uses parquet. Both
return plain DataFrames, so the whole engine is format-agnostic —
Catalyst pushes column pruning and predicates into either scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _is_path(ident: str) -> bool:
    return "/" in ident or ident.startswith(("file:", "hdfs:", "s3:", "s3a:", "gs:"))


def path_exists(spark: SparkSession, path: str) -> bool:
    """Filesystem-agnostic existence probe via the Hadoop FileSystem API
    (works for local, HDFS, and object stores alike). Used instead of
    catching the read's exception: path-not-found is the ONLY condition
    that may mean "nothing written yet" — any other read failure
    (corrupt file, schema drift) must propagate."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def iceberg_available(spark: SparkSession) -> bool:
    # py4j package traversal (spark._jvm.org.apache...) never raises —
    # it builds JavaPackage objects lazily — so probe with an actual
    # classload, which fails iff the Iceberg runtime jar is absent
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Table")
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, ident: str) -> DataFrame:
    """Read a sequences/state table by path (parquet) or identifier
    (Iceberg catalog table)."""
    if _is_path(ident):
        return spark.read.parquet(ident)
    return spark.read.format("iceberg").load(ident)


def write_table(df: DataFrame, ident: str, mode: str = "append") -> None:
    """Write by path (parquet) or identifier (Iceberg ``writeTo``).

    Iceberg writes are atomic snapshot commits — the checkpoint store
    (sketchlib.checkpoint) relies only on append semantics, so both
    backends satisfy it.
    """
    if _is_path(ident):
        df.write.mode(mode).parquet(ident)
    elif mode == "append":
        df.writeTo(ident).append()
    elif mode == "overwrite":
        df.writeTo(ident).replace()
    else:
        raise ValueError(f"unsupported mode for Iceberg table: {mode}")


def file_manifest(spark: SparkSession, ident: str) -> list[str]:
    """Sorted data-file manifest for the direct split feed
    (:func:`sketchlib.agg.build_partials_direct`): a path lists its
    parquet files via the scan's ``inputFiles`` (planning stays on the
    driver); an Iceberg identifier reads the pinned snapshot's
    ``.files`` metadata table — the same file set a JVM scan of that
    snapshot would read, so feed parity holds on live tables too.
    ``file:`` URIs are normalized to plain paths for pyarrow."""
    if _is_path(ident):
        files = spark.read.parquet(ident).inputFiles()
    else:
        files = [
            r.file_path
            for r in spark.read.format("iceberg")
            .load(f"{ident}.files")
            .select("file_path")
            .collect()
        ]
    out = []
    for f in files:
        if f.startswith("file:"):
            from urllib.parse import unquote, urlparse

            f = unquote(urlparse(f).path)
        out.append(f)
    return sorted(out)


def snapshot_id(spark: SparkSession, ident: str) -> str:
    """Lineage fingerprint for an input: Iceberg snapshot id when
    available, else the sorted file listing hash (stable for static
    parquet dirs — the same assumption checkpoint resume documents)."""
    if not _is_path(ident):
        row = (
            spark.read.format("iceberg")
            .load(f"{ident}.snapshots")
            .orderBy("committed_at", ascending=False)
            .select("snapshot_id")
            .first()
        )
        return f"iceberg:{row[0]}"
    import hashlib

    files = spark.read.parquet(ident).inputFiles()
    digest = hashlib.sha256("\n".join(sorted(files)).encode()).hexdigest()[:16]
    return f"files:{digest}"
