"""IO module: the reference's source/sink surface, Spark-first.

SURVEY §2.1 operator map (reference file:line in parens):

- S1 Parquet scan  -> `read_parquet`      (main.py:24,66,74)
- S2 JSON get      -> `read_json_table` (tabular) /
                      `read_json_doc` (config documents —
                      s3_data_fetching_functions.py:20-26,41-70)
- S3 CSV scan      -> `read_csv`          (populate_curated_cols_s3.py:19)
- S4 existence probe -> `exists` + `read_or_build_cache`
                      (s3_data_fetching_functions.py:11-17;
                       chisquared_tester.py:782-786)
- S5 CSV sink      -> `write_csv_single`  (main.py:174 — single file,
                      pandas to_csv parity)
- S6 Parquet sink  -> `write_parquet`     (chisquared_tester.py:837-838)
- S7 pickle sink   -> REPLACED by Parquet/JSON sinks (pickles are an
                      engine-hostile format; SURVEY S7)
- S8 JSON put      -> `write_json_doc`    (main.py:108-113; aws_init.py:72-78)

Driver-built tables (the inference results, the metrics table) enter
Spark through `local_frame`: an Arrow table plans as a
``LocalTableScan``, so sinks and collects over it run in the JVM
without a Python worker.

Paths are plain Hadoop-FS URIs: local paths here, `s3a://...` on a real
cluster (same code path — S3A credentials/endpoint come from Spark conf,
never from this module). Config documents (queues, column lists) stay
driver-side JSON; DATA always moves through the executors.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession


def local_frame(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """``rows`` (tuples in ``schema`` order, a DDL string) as a frame
    over an in-memory ``pyarrow.Table``. ``createDataFrame`` over Python
    tuples plans as ``Scan ExistingRDD`` on a ``PythonRDD``, which forks
    a Python worker for every action on it."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    st = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(st.names, r)) for r in rows], schema=to_arrow_schema(st)
    )
    return spark.createDataFrame(table)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S1: schema-on-read parquet scan."""
    return spark.read.parquet(path)


def read_csv(spark: SparkSession, path: str, header: bool = True) -> DataFrame:
    """S3: CSV scan with header + schema inference."""
    return spark.read.option("header", header).option(
        "inferSchema", True
    ).csv(path)


def read_json_table(spark: SparkSession, path: str) -> DataFrame:
    """S2 (tabular): newline-delimited / array JSON as a DataFrame."""
    return spark.read.option("multiLine", True).json(path)


def read_json_doc(path: str, spark: SparkSession | None = None):
    """S2 (config document): driver-side JSON object get.

    Local paths use plain file IO; URI paths (`s3a://...`) go through
    the Hadoop FS API when a session is supplied — same protocol the
    reference's s3fs getters speak (s3_data_fetching_functions.py:20-26).
    """
    if "://" in path:
        if spark is None:
            # without a session the URI would silently fall through to
            # local file IO (opening a literal './s3a:/...' path)
            raise ValueError(
                f"read_json_doc: URI path {path!r} requires a SparkSession"
            )
        sc = spark.sparkContext
        hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
        stream = fs.open(hpath)
        try:
            data = sc._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        return json.loads(data)
    with open(path) as fh:
        return json.load(fh)


def write_json_doc(path: str, obj, spark: SparkSession | None = None) -> None:
    """S8: driver-side JSON put (local file IO, or Hadoop FS for URIs)."""
    payload = json.dumps(obj, indent=2)
    if "://" in path and spark is None:
        # a URI with no session would create a literal local 's3a:/...'
        # directory instead of writing to the object store
        raise ValueError(
            f"write_json_doc: URI path {path!r} requires a SparkSession"
        )
    if "://" in path and spark is not None:
        sc = spark.sparkContext
        hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
        stream = fs.create(hpath, True)
        try:
            stream.write(payload.encode("utf-8"))
        finally:
            stream.close()
        return
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=2)


def exists(spark: SparkSession, path: str) -> bool:
    """S4: Hadoop-FS existence probe (works for local and s3a URIs)."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S6: parquet sink."""
    df.write.mode(mode).parquet(path)


def write_csv_single(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S5: single-file CSV sink (pandas ``to_csv`` parity: one file,
    header row). coalesce(1) is deliberate — metrics tables are tiny."""
    df.coalesce(1).write.mode(mode).option("header", True).csv(path)


def read_or_build_cache(
    spark: SparkSession, path: str, build
) -> DataFrame:
    """S4+S6: the reference's population-modes cache protocol
    (chisquared_tester.py:782-838): read the parquet if it exists,
    else build, write, and re-read."""
    if exists(spark, path):
        return spark.read.parquet(path)
    df = build()
    write_parquet(df, path)
    return spark.read.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan (built into Spark; same pushdown/pruning surface as
    parquet — PushedFilters and ReadSchema reach the OrcScan node).
    Beyond-reference: warehouse interchange with Hive/Trino stacks."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (zlib-by-default columnar; Hive/Trino interchange)."""
    df.write.mode(mode).orc(path)


def write_parquet_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    dynamic: bool = True,
) -> None:
    """Hive-layout parquet sink: one directory per partition value.

    ``dynamic=True`` sets ``partitionOverwriteMode=dynamic`` for THIS
    write only — an overwrite replaces exactly the partitions present
    in ``df`` and leaves sibling partitions intact (the incremental
    backfill contract at warehouse scale: reprocessing one day must not
    truncate the table). Static mode (the Spark default) would drop
    every existing partition first.
    """
    writer = df.write.mode(mode).partitionBy(*partition_cols)
    if dynamic:
        writer = writer.option(
            "partitionOverwriteMode", "dynamic"
        )
    writer.parquet(path)


def read_parquet_merged(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan with schema merging across files.

    Long-lived datasets drift: new columns appear in later writes.
    ``mergeSchema`` unions all file footers' schemas (absent columns
    read as NULL), the standard evolution contract for append-only
    lakes. Costs one footer pass over the files at planning time, so
    the default ``read_parquet`` stays the fast path when the schema is
    known to be stable.
    """
    return spark.read.option("mergeSchema", True).parquet(path)
