"""Catalog: table loaders for the driver's parquet tables + the imaging-domain
StructType schemas (the reference's 4 Postgres tables re-typed for Parquet).

Reference schemas: /root/reference/imaging_db/database/{dataset,frames_global,
frames,file_global}.py (SQLAlchemy ORM declarations); see SURVEY.md §1.

Scale notes:
- Dimension tables that are *fixed size* regardless of data volume (region,
  nation) are always broadcast-joinable. Tables that grow with scale factor
  (customer, part, orders, lineitem, events, documents, embeddings) must not
  be hard-broadcast; AQE decides from runtime sizes.
- At 100 TB the fact tables (lineitem / frames / events) would be written
  partitioned by a time or dataset bucket so partition pruning applies; the
  loaders below read whatever layout the directory has and rely on parquet
  row-group pushdown for the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TPCH_TABLES = [
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
]

# Fixed-cardinality dims (5 and 25 rows at every SF) — always broadcastable.
FIXED_DIMS = {"region", "nation"}


# Columns stored as TIMESTAMP(NANOS) in the driver's parquet — Spark reads
# them as long (spark.sql.legacy.parquet.nanosAsLong) and we convert to
# microsecond timestamps here (truncation matches DuckDB's nanos→micros).
NANOS_TS_COLS: dict[str, list[str]] = {"events": ["ts"]}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table. Column pruning + predicate pushdown reach the
    parquet scan because callers chain .select/.filter on the returned DF."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in NANOS_TS_COLS.get(name, []):
        if c in df.columns and dict(df.dtypes)[c] == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    return df


def eager_checkpoint(df: DataFrame) -> DataFrame:
    """Eagerly materialize a corpus-scale intermediate that several
    INDEPENDENT downstream stages will read (the dedup token tables, the
    perplexity fold's per-doc counts) — a lazy persist is raced by
    concurrent leaf stages and recomputed per stage (measured r11:
    tokenize re-ran per verify side in x_containment/x_dedup_incremental).

    Default is ``localCheckpoint(eager=True)``: blocks live in executor
    storage, no DFS round trip — right for the local bench. Two traits to
    know (VERDICT r11 items 5/7 + ADVICE):

    - RELIABILITY: localCheckpoint truncates lineage INTO executor-local
      blocks — an executor loss kills the job instead of recomputing. At
      cluster scale set ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1`` to flip
      every call site to ``DataFrame.checkpoint`` against
      ``spark.sparkContext.setCheckpointDir`` storage (set
      ``SPARK_GRAFT_CHECKPOINT_DIR`` to a durable path; a local tmpdir is
      the fallback so the flag works out of the box). Flip condition: a
      job long enough, on a cluster flaky enough, that recompute-on-loss
      matters more than the extra DFS write — the same trade Spark's own
      docs draw between the two operators.
    - LIFECYCLE: ``spark.catalog.clearCache()`` (bench.py / selfcheck
      between queries) does NOT free checkpoint blocks — they are
      released when the RDD is GC'd on the driver (the session factory's
      2-min periodic-GC + ContextCleaner reaps them); reliable-mode files
      are removed with the checkpoint dir. Neither accumulates across
      bench laps: each query invocation builds a fresh checkpoint and
      drops the old reference."""
    import os as _os
    import tempfile as _tempfile

    if _os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT", "") == "1":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(
                _os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
                or _tempfile.mkdtemp(prefix="imagingdb_ckpt_")
            )
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def values_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver rows as a DataFrame that plans as a ``LocalTableScan``: the
    library's one way to turn Python rows into a DataFrame.

    ``spark.createDataFrame(<python rows>)`` parallelizes a Python RDD, so
    EVERY scan of the frame (a collect, a broadcast build, a join input)
    runs a Spark job whose tasks start Python workers: measured on a
    4-core box, one job and 175-210 ms per scan, even for ``[]``. The same
    rows shipped as a ``pyarrow.Table`` become a JVM LocalRelation: scans
    run no job and cost 6-13 ms. A LocalTableScan still spreads its rows
    over up to ``defaultParallelism`` partitions, so a per-row
    ``foreachPartition`` keeps its parallelism.

    ``schema`` is a StructType or a DDL string; nested types, decimals and
    nulls are fine. Rows are tuples/Rows (by position) or dicts (by name).
    Values are converted with ``schema.toInternal``, exactly as
    ``createDataFrame`` converts them. That matters for timestamps: a naive
    ``datetime`` is local wall-clock time (``time.mktime``), which is how
    ``collect()`` returns it, whereas Arrow would read it as UTC and shift
    it by the process's UTC offset."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    internal = [schema.toInternal(r) for r in rows]
    cols = list(zip(*internal)) if internal else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every driver table as a temp view for spark.sql queries."""
    for name in TPCH_TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# Imaging-domain schemas (reference: imaging_db/database/*.py; SURVEY.md §1.1)
# ---------------------------------------------------------------------------
# JSONB columns (frames_global.py:29, frames.py:25, file_global.py:22) become
# a raw JSON string column queried with get_json_object / from_json — the
# reference only ever uses flat single-key containment and field extraction
# (notebooks/jsonb_queries.ipynb cells 4-6), which get_json_object covers.

DATA_SET_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("dataset_serial", T.StringType(), False),
        T.StructField("description", T.StringType(), True),
        T.StructField("microscope", T.StringType(), True),
        T.StructField("frames", T.BooleanType(), False),
        # Derived from dataset_serial at ingest (dataset.py:9-18) so date-range
        # queries are a pushed-down timestamp predicate, not string parsing.
        T.StructField("date_time", T.TimestampType(), True),
        T.StructField("parent_id", T.LongType(), True),
    ]
)

FRAMES_GLOBAL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("nbr_frames", T.IntegerType(), True),
        T.StructField("im_width", T.IntegerType(), True),
        T.StructField("im_height", T.IntegerType(), True),
        T.StructField("nbr_slices", T.IntegerType(), True),
        T.StructField("nbr_channels", T.IntegerType(), True),
        T.StructField("im_colors", T.IntegerType(), True),
        T.StructField("nbr_timepoints", T.IntegerType(), True),
        T.StructField("nbr_positions", T.IntegerType(), True),
        T.StructField("bit_depth", T.StringType(), True),
        T.StructField("storage_dir", T.StringType(), True),
        T.StructField("metadata_json", T.StringType(), True),
        T.StructField("dataset_id", T.LongType(), False),
    ]
)

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("channel_idx", T.IntegerType(), True),
        T.StructField("slice_idx", T.IntegerType(), True),
        T.StructField("time_idx", T.IntegerType(), True),
        T.StructField("pos_idx", T.IntegerType(), True),
        T.StructField("channel_name", T.StringType(), True),
        T.StructField("file_name", T.StringType(), True),
        T.StructField("sha256", T.StringType(), True),
        T.StructField("metadata_json", T.StringType(), True),
        T.StructField("frames_global_id", T.LongType(), False),
    ]
)

FILE_GLOBAL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("storage_dir", T.StringType(), True),
        T.StructField("file_name", T.StringType(), True),
        T.StructField("metadata_json", T.StringType(), True),
        T.StructField("dataset_id", T.LongType(), False),
        T.StructField("sha256", T.StringType(), True),
    ]
)

IMAGING_SCHEMAS = {
    "data_set": DATA_SET_SCHEMA,
    "frames_global": FRAMES_GLOBAL_SCHEMA,
    "frames": FRAMES_SCHEMA,
    "file_global": FILE_GLOBAL_SCHEMA,
}


# ---------------------------------------------------------------------------
# Multi-format table IO (S-ops: sources/sinks beyond parquet)
# ---------------------------------------------------------------------------
# The reference reads CSV manifests and JSON configs and stores rows in
# Postgres; the engine's canonical table format is parquet. These helpers
# add the remaining Spark-native columnar/interchange formats behind one
# call so a deployment can land tables where its ecosystem needs them:
# ORC (the other pushdown-capable columnar format — Hive/Trino
# interchange), CSV and JSON-lines (interchange exports, schema required
# on read — never inferred, inference is a full extra scan at 100 TB).

TABLE_FORMATS = ("parquet", "orc", "csv", "json")


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Write a table in any supported format. CSV gets a header (the
    manifest convention, data_uploader.py:106-108); partition_by produces
    hive-style directory partitioning (partition pruning on read — see
    tests/test_bucketing.py for the pruning evidence)."""
    if fmt not in TABLE_FORMATS:
        raise ValueError(f"unsupported table format: {fmt}")
    w = df.write.mode(mode).format(fmt)
    if fmt == "csv":
        w = w.option("header", True)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | None = None,
) -> DataFrame:
    """Read a table written by write_table. Parquet/ORC carry their own
    schema; CSV/JSON REQUIRE the explicit schema — type inference would
    silently widen/narrow types and costs a full extra pass."""
    if fmt not in TABLE_FORMATS:
        raise ValueError(f"unsupported table format: {fmt}")
    r = spark.read.format(fmt)
    if fmt in ("csv", "json"):
        if schema is None:
            raise ValueError(f"{fmt} read requires an explicit schema")
        r = r.schema(schema)
        if fmt == "csv":
            r = r.option("header", True)
    elif schema is not None:
        r = r.schema(schema)
    return r.load(path)
