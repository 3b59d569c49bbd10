"""End-to-end lifecycle flows (SURVEY.md §3): the reference's three CLI
entry points composed from the library's DataFrame builders — what a user
switching from the reference actually calls.

- query flow   → api.get_datasets (already one function; SURVEY §3.1)
- download flow → download_dataset (cli/data_downloader.py:106-229)
- upload flow   → insert_frames batch twin (db_operations.py:150-223) +
  ingest.insert_file (un-split path); splitters live in sources.py.

Error parity: invalid id → AssertionError("Invalid ID…"); existing dest
dir → FileExistsError; mixed channel types → TypeError; missing dataset →
api.DatasetNotFoundError. Batch-wise where the reference is per-row.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from imagingdb_spark import sinks
from imagingdb_spark.api import (
    get_frames_meta,
    get_global_meta,
    select_frames_subset,
    validate_serial,
)
from imagingdb_spark.catalog import IMAGING_SCHEMAS, values_df
from imagingdb_spark.ingest import (
    frame_file_name,
    idempotent_append,
    insert_file,
    normalize_parent,
    resolve_parent_ids,
    validate_manifest,
    with_sha256,
)
from imagingdb_spark.sources import basename, split_tiff_pages

# Blob-namespace roots (cli/data_uploader.py:14-15)
FILE_FOLDER_NAME = "raw_files"
FRAME_FOLDER_NAME = "raw_frames"

# driver-side id maps joined into the child tables' rows
DS_MAP_DDL = "dataset_serial string, dataset_id long"
SERIAL_TO_FG_DDL = "dataset_serial string, frames_global_id long"

# config_json defaults for the splitter grid + image dims; the reference
# reads dims/bit-depth from the decoded frames (file_splitter.py:153-176),
# which this container cannot (no tiff codec) — they ride the config dict
# through the same injectable seam as page_reader.
DEFAULT_GLOBAL_META = {
    "im_width": 0,
    "im_height": 0,
    "im_colors": 1,
    "bit_depth": "uint16",
    "nbr_channels": 1,
    "nbr_slices": 1,
    "nbr_positions": 1,
}


def _strip_scheme(path: Column) -> Column:
    """binaryFile emits file:-URIs; manifests carry plain absolute paths.
    Normalize both to /abs/path so they join."""
    return F.regexp_replace(path, "^file:/*", "/")


def coerce_channels(channels):
    """Channel str→int coercion (data_downloader.py:182-190): if every
    element parses as int they are indices; otherwise all must be str
    names. Mixed → TypeError raised later by select_frames_subset."""
    if channels is None:
        return None
    if not isinstance(channels, list):
        channels = [channels]
    try:
        return [int(c) for c in channels]
    except (ValueError, TypeError):
        return channels


def _table_view(spark: SparkSession, fallback: DataFrame, target) -> DataFrame:
    """The current truth of a catalog table AFTER this flow's own commit:
    the snapshot tip when the target is a snapshot table — which includes
    any row a TORN prior attempt left behind, not just what this run
    inserted — else the caller's view. The torn-upload healing below
    hinges on this distinction: a replay's delta is empty precisely when
    the parent row already landed, and only the tip can say so."""
    from imagingdb_spark.ingest import SnapshotTarget
    from imagingdb_spark.snapshots import snapshot_exists, snapshot_read

    if isinstance(target, SnapshotTarget) and snapshot_exists(
        target.table_dir
    ):
        return snapshot_read(spark, target.table_dir)
    return fallback


def insert_frames(
    datasets: DataFrame,
    frames_rows: DataFrame,
    data_set: DataFrame,
    frames_global: DataFrame,
    frames: DataFrame,
    paths: dict[str, str] | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """`insert_frames` (db_operations.py:150-223) as batch dataflow over
    MANY datasets at once: one DataSet row (frames=True) + one FramesGlobal
    row + N Frames rows per dataset, staged together and appended
    idempotently (the reference's single transaction → anti-join guard on
    dataset_serial for all three tables, so a re-run converges).

    `datasets` columns: dataset_serial, description, microscope,
    parent_dataset_id, storage_dir, bit_depth, im_width, im_height,
    im_colors, metadata_json.
    `frames_rows` columns: dataset_serial, channel_idx, slice_idx,
    time_idx, pos_idx, channel_name, file_name, sha256, metadata_json.

    The per-dataset global summary (nbr_frames + countDistinct per index
    dim, file_splitter.py:127-148) is computed here from frames_rows —
    one grouped aggregation, map-side partial, instead of the reference's
    imperative per-dataset loop. Surrogate ids are max(existing)+row_number
    (catalog-sized window; single-writer batch semantics)."""
    from imagingdb_spark.api import serial_to_date_time

    paths = paths or {}
    w = Window.partitionBy(F.lit(0)).orderBy("dataset_serial")  # catalog-batch-sized

    # Row construction is BUILDER-shaped (a function of the table's
    # current view): on the snapshot path the builder re-runs against the
    # exact tip inside the commit retry, so surrogate-id allocation is
    # serializable — two concurrent uploads of DIFFERENT serials no
    # longer both bake max(id)+1 into colliding ids (round-7 review
    # finding). Plain-parquet callers get the identical single-run
    # semantics they always had.
    def _ds_build(existing: DataFrame) -> DataFrame:
        rows = datasets.select(
            "dataset_serial",
            "description",
            "microscope",
            F.lit(True).alias("frames"),
            serial_to_date_time(F.col("dataset_serial")).alias("date_time"),
            normalize_parent(F.col("parent_dataset_id")).alias("parent_serial"),
        )
        rows = resolve_parent_ids(rows, existing)
        mx = existing.agg(F.coalesce(F.max("id"), F.lit(0))).collect()[0][0]
        return rows.withColumn(
            "id", (F.row_number().over(w) + F.lit(mx)).cast("long")
        )

    ds_fields = [
        "dataset_serial", "description", "microscope", "frames",
        "date_time", "parent_id", "id",
    ]
    new_ds = idempotent_append(
        _ds_build, data_set, ["dataset_serial"], paths.get("data_set")
    ).select(*ds_fields)

    # serial -> ds id for EVERY batch serial, from post-commit truth:
    # this run's delta plus rows already catalogued — including a parent
    # row a TORN prior attempt committed before crashing. Without the
    # healing term a replay's empty ds delta would starve the child
    # builds and the dataset would stay frames-less forever (the torn
    # window the reference's single Postgres transaction never has; here
    # the repair is convergence, not atomicity). Batch-sized driver
    # mapping, like the max-id scalars.
    spark = datasets.sparkSession
    batch_serials = [
        r[0] for r in datasets.select("dataset_serial").distinct().collect()
    ]
    ds_view = _table_view(spark, data_set, paths.get("data_set"))
    ds_ids = {
        r["dataset_serial"]: r["id"]
        for r in ds_view.filter(
            F.col("dataset_serial").isin(batch_serials)
        ).select("dataset_serial", "id").collect()
    }
    for r in new_ds.select("dataset_serial", "id").collect():
        ds_ids[r["dataset_serial"]] = r["id"]
    ds_map = values_df(spark, list(ds_ids.items()), DS_MAP_DDL)

    # A4: per-dataset global metadata from the actual frame rows
    summary = frames_rows.groupBy("dataset_serial").agg(
        F.count(F.lit(1)).alias("nbr_frames"),
        F.countDistinct("slice_idx").alias("nbr_slices"),
        F.countDistinct("channel_idx").alias("nbr_channels"),
        F.countDistinct("time_idx").alias("nbr_timepoints"),
        F.countDistinct("pos_idx").alias("nbr_positions"),
    )

    def _fg_build(existing: DataFrame) -> DataFrame:
        mx = existing.agg(F.coalesce(F.max("id"), F.lit(0))).collect()[0][0]
        return (
            datasets.join(summary, "dataset_serial")
            .join(F.broadcast(ds_map), "dataset_serial")
            .withColumn(
                "id", (F.row_number().over(w) + F.lit(mx)).cast("long")
            )
            .select(
                "id",
                F.col("nbr_frames").cast("int").alias("nbr_frames"),
                "im_width", "im_height",
                F.col("nbr_slices").cast("int").alias("nbr_slices"),
                F.col("nbr_channels").cast("int").alias("nbr_channels"),
                "im_colors",
                F.col("nbr_timepoints").cast("int").alias("nbr_timepoints"),
                F.col("nbr_positions").cast("int").alias("nbr_positions"),
                "bit_depth", "storage_dir", "metadata_json", "dataset_id",
            )
        )

    new_fg = idempotent_append(
        _fg_build, frames_global, ["dataset_id"], paths.get("frames_global")
    )

    # serial -> frames_global id from post-commit truth (delta + tip),
    # same healing rule as ds_map: a replay whose fg rows already landed
    # still maps the frames correctly. Materialized driver-side — batch-
    # sized, and a lazy plan here would weave new_ds and new_fg lineage
    # into the returned frames frame, tripping Spark's ambiguous-self-
    # join detection when callers re-join the three outputs
    fg_view = _table_view(spark, frames_global, paths.get("frames_global"))
    fg_ids = {
        r["dataset_id"]: r["id"]
        for r in fg_view.filter(
            F.col("dataset_id").isin(list(ds_ids.values()) or [-1])
        ).select("dataset_id", "id").collect()
    }
    for r in new_fg.select("dataset_id", "id").collect():
        fg_ids[r["dataset_id"]] = r["id"]
    serial_to_fg = values_df(
        spark,
        [(s, fg_ids[d]) for s, d in ds_ids.items() if d in fg_ids],
        SERIAL_TO_FG_DDL,
    )
    wf = Window.partitionBy(F.lit(0)).orderBy("dataset_serial", "file_name")  # batch-sized

    def _fr_build(existing: DataFrame) -> DataFrame:
        mx = existing.agg(F.coalesce(F.max("id"), F.lit(0))).collect()[0][0]
        return (
            frames_rows.join(
                serial_to_fg.select("dataset_serial", "frames_global_id"),
                "dataset_serial",
            )
            .withColumn(
                "id", (F.row_number().over(wf) + F.lit(mx)).cast("long")
            )
            .select(
                "id", "channel_idx", "slice_idx", "time_idx", "pos_idx",
                "channel_name", "file_name", "sha256", "metadata_json",
                "frames_global_id",
            )
        )

    new_fr = idempotent_append(
        _fr_build, frames, ["frames_global_id", "file_name"],
        paths.get("frames"),
    )
    return new_ds, new_fg, new_fr


def _guard_legacy_catalog(catalog_dir: str) -> None:
    """An atomic catalog commit must never SHADOW an existing catalog in
    the same directory: catalog readers would silently lose every
    pre-existing dataset (snapcatalog guards the per-table snapshot form
    itself; this guards the legacy ``<name>.parquet`` form)."""
    for name in IMAGING_SCHEMAS:
        p = os.path.join(catalog_dir, f"{name}.parquet")
        if os.path.exists(p):
            raise ValueError(
                f"{p} exists: this directory already holds a legacy "
                "plain-parquet catalog; an atomic CatalogTarget commit "
                "would shadow it. Use the per-table paths, or migrate "
                "the catalog first."
            )


def _collect_ds_delta(
    spark: SparkSession,
    new_ds: DataFrame,
    ds_view: DataFrame,
    batch_serials: list[str],
) -> tuple[DataFrame, dict]:
    """Run an atomic builder's data_set delta ONCE: its collected rows give
    the serial -> dataset id map (delta plus the batch's rows already in
    the tip) AND come back as the delta frame the commit writes, so the
    delta's plan is not re-run by catalog_commit. Batch-sized rows."""
    ds_ids = {
        r["dataset_serial"]: r["id"]
        for r in ds_view.filter(
            F.col("dataset_serial").isin(batch_serials)
        ).select("dataset_serial", "id").collect()
    }
    rows = new_ds.collect()
    ds_ids.update((r["dataset_serial"], r["id"]) for r in rows)
    return values_df(spark, rows, new_ds.schema), ds_ids


def insert_frames_atomic(
    datasets: DataFrame,
    frames_rows: DataFrame,
    catalog_dir: str,
    bloom_columns: dict[str, list[str]] | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """insert_frames with the reference's FULL transaction scope: one
    DataSet + one FramesGlobal + N Frames rows per dataset staged together
    and published in ONE atomic catalog commit (snapcatalog.catalog_commit
    — the single-hard-link analogue of db_operations.py:14-38's single
    Postgres transaction). The torn windows insert_frames documents (a
    crash between its three per-table commits) do not exist on this path:
    readers resolving through the catalog tip see either none of the
    upload's rows in any table or all of them in every table.

    The three builders run against the SAME pinned catalog-tip views
    inside the commit retry loop, so the cross-table surrogate-id chain
    (ds id → frames_global.dataset_id → frames.frames_global_id) is
    serializable exactly like the per-table builder path — a losing racer
    rebuilds every table from the winner's tip. Replay converges: all
    three deltas anti-join empty and no new version publishes."""
    from imagingdb_spark import snapcatalog as C
    from imagingdb_spark.api import serial_to_date_time

    _guard_legacy_catalog(catalog_dir)
    spark = datasets.sparkSession
    w = Window.partitionBy(F.lit(0)).orderBy("dataset_serial")
    wf = Window.partitionBy(F.lit(0)).orderBy("dataset_serial", "file_name")
    ds_fields = [
        "dataset_serial", "description", "microscope", "frames",
        "date_time", "parent_id", "id",
    ]
    summary = frames_rows.groupBy("dataset_serial").agg(
        F.count(F.lit(1)).alias("nbr_frames"),
        F.countDistinct("slice_idx").alias("nbr_slices"),
        F.countDistinct("channel_idx").alias("nbr_channels"),
        F.countDistinct("time_idx").alias("nbr_timepoints"),
        F.countDistinct("pos_idx").alias("nbr_positions"),
    )
    batch_serials = [
        r[0] for r in datasets.select("dataset_serial").distinct().collect()
    ]

    def build(views: dict[str, DataFrame]) -> dict[str, DataFrame]:
        def view(name: str) -> DataFrame:
            v = views.get(name)
            return v if v is not None else values_df(spark, [], IMAGING_SCHEMAS[name])

        ds_view, fg_view, fr_view = (
            view("data_set"), view("frames_global"), view("frames")
        )
        rows = datasets.select(
            "dataset_serial",
            "description",
            "microscope",
            F.lit(True).alias("frames"),
            serial_to_date_time(F.col("dataset_serial")).alias("date_time"),
            normalize_parent(F.col("parent_dataset_id")).alias(
                "parent_serial"
            ),
        )
        rows = resolve_parent_ids(rows, ds_view)
        mx = ds_view.agg(F.coalesce(F.max("id"), F.lit(0))).collect()[0][0]
        # anti-join HERE (not only in catalog_commit's guard) so the id
        # mappings below are built from exactly the rows that will land
        new_ds = (
            rows.join(
                ds_view.select("dataset_serial"), "dataset_serial",
                "left_anti",
            )
            .withColumn(
                "id", (F.row_number().over(w) + F.lit(mx)).cast("long")
            )
            .select(*ds_fields)
        )
        new_ds, ds_ids = _collect_ds_delta(spark, new_ds, ds_view, batch_serials)
        ds_map = values_df(spark, list(ds_ids.items()), DS_MAP_DDL)
        mxf = fg_view.agg(F.coalesce(F.max("id"), F.lit(0))).collect()[0][0]
        new_fg = (
            datasets.join(summary, "dataset_serial")
            .join(F.broadcast(ds_map), "dataset_serial")
            .join(
                fg_view.select("dataset_id"), "dataset_id", "left_anti"
            )
            .withColumn(
                "id", (F.row_number().over(w) + F.lit(mxf)).cast("long")
            )
            .select(
                "id",
                F.col("nbr_frames").cast("int").alias("nbr_frames"),
                "im_width", "im_height",
                F.col("nbr_slices").cast("int").alias("nbr_slices"),
                F.col("nbr_channels").cast("int").alias("nbr_channels"),
                "im_colors",
                F.col("nbr_timepoints").cast("int").alias("nbr_timepoints"),
                F.col("nbr_positions").cast("int").alias("nbr_positions"),
                "bit_depth", "storage_dir", "metadata_json", "dataset_id",
            )
        )
        fg_ids = {
            r["dataset_id"]: r["id"]
            for r in fg_view.filter(
                F.col("dataset_id").isin(list(ds_ids.values()) or [-1])
            ).select("dataset_id", "id").collect()
        }
        # collected once, like the ds delta: the id map below and the
        # commit's write both read these rows
        fg_rows = new_fg.collect()
        fg_ids.update((r["dataset_id"], r["id"]) for r in fg_rows)
        new_fg = values_df(spark, fg_rows, new_fg.schema)
        serial_to_fg = values_df(
            spark,
            [(s, fg_ids[d]) for s, d in ds_ids.items() if d in fg_ids],
            SERIAL_TO_FG_DDL,
        )
        mxr = fr_view.agg(F.coalesce(F.max("id"), F.lit(0))).collect()[0][0]
        new_fr = (
            frames_rows.join(F.broadcast(serial_to_fg), "dataset_serial")
            .join(
                fr_view.select("frames_global_id", "file_name"),
                ["frames_global_id", "file_name"],
                "left_anti",
            )
            .withColumn(
                "id", (F.row_number().over(wf) + F.lit(mxr)).cast("long")
            )
            .select(
                "id", "channel_idx", "slice_idx", "time_idx", "pos_idx",
                "channel_name", "file_name", "sha256", "metadata_json",
                "frames_global_id",
            )
        )
        return {
            "data_set": new_ds,
            "frames_global": new_fg,
            "frames": new_fr,
        }

    _, deltas = C.catalog_commit(
        spark,
        catalog_dir,
        build,
        keys={
            "data_set": ["dataset_serial"],
            "frames_global": ["dataset_id"],
            "frames": ["frames_global_id", "file_name"],
        },
        bloom_columns=bloom_columns,
    )
    return deltas["data_set"], deltas["frames_global"], deltas["frames"]


def insert_file_atomic(
    new_files: DataFrame,
    catalog_dir: str,
    bloom_columns: dict[str, list[str]] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """ingest.insert_file's two-table transaction (DataSet + FileGlobal,
    db_operations.py:225-274) as ONE atomic catalog commit — the file-type
    twin of insert_frames_atomic."""
    from imagingdb_spark import snapcatalog as C
    from imagingdb_spark.api import serial_to_date_time

    _guard_legacy_catalog(catalog_dir)
    spark = new_files.sparkSession
    w = Window.partitionBy(F.lit(0)).orderBy("dataset_serial")
    batch_serials = [
        r[0] for r in new_files.select("dataset_serial").distinct().collect()
    ]

    def build(views: dict[str, DataFrame]) -> dict[str, DataFrame]:
        def view(name: str) -> DataFrame:
            v = views.get(name)
            return v if v is not None else values_df(spark, [], IMAGING_SCHEMAS[name])

        ds_view, fgl_view = view("data_set"), view("file_global")
        rows = new_files.select(
            "dataset_serial",
            "description",
            F.col("microscope"),
            F.lit(False).alias("frames"),
            serial_to_date_time(F.col("dataset_serial")).alias("date_time"),
            normalize_parent(F.col("parent_dataset_id")).alias(
                "parent_serial"
            ),
        )
        rows = resolve_parent_ids(rows, ds_view)
        mx = ds_view.agg(F.coalesce(F.max("id"), F.lit(0))).collect()[0][0]
        new_ds = (
            rows.join(
                ds_view.select("dataset_serial"), "dataset_serial",
                "left_anti",
            )
            .withColumn(
                "id", (F.row_number().over(w) + F.lit(mx)).cast("long")
            )
            .select(
                "dataset_serial", "description", "microscope", "frames",
                "date_time", "parent_id", "id",
            )
        )
        new_ds, ds_ids = _collect_ds_delta(spark, new_ds, ds_view, batch_serials)
        ds_map = values_df(spark, list(ds_ids.items()), DS_MAP_DDL)
        mxf = fgl_view.agg(F.coalesce(F.max("id"), F.lit(0))).collect()[0][0]
        new_fgl = (
            new_files.select(
                "dataset_serial", "storage_dir", "file_name",
                "metadata_json", "sha256",
            )
            .join(F.broadcast(ds_map), "dataset_serial")
            .join(fgl_view.select("dataset_id"), "dataset_id", "left_anti")
            .withColumn(
                "id", (F.row_number().over(w) + F.lit(mxf)).cast("long")
            )
            .select(
                "id", "storage_dir", "file_name", "metadata_json",
                "dataset_id", "sha256",
            )
        )
        return {"data_set": new_ds, "file_global": new_fgl}

    _, deltas = C.catalog_commit(
        spark,
        catalog_dir,
        build,
        keys={"data_set": ["dataset_serial"], "file_global": ["dataset_id"]},
        bloom_columns=bloom_columns,
    )
    return deltas["data_set"], deltas["file_global"]


def upload_dataset(
    spark: SparkSession,
    manifest: DataFrame,
    catalog: dict[str, DataFrame],
    storage_root: str,
    upload_type: str = "frames",
    page_reader=None,
    global_meta: dict | None = None,
    microscope: str | None = None,
    global_json: str = "{}",
    channel_names: list[str] | None = None,
    paths: dict[str, str] | None = None,
    overwrite: bool = False,
    backend_factory=None,
) -> dict[str, DataFrame]:
    """The reference's one-call upload flow `upload_data_and_update_db`
    (cli/data_uploader.py:61-256) composed end-to-end: manifest row →
    splitter → sha256 → blob store → catalog insert, batch-wise over every
    manifest row at once instead of the reference's per-row loop.

    `manifest` columns (ingest.read_manifest shape, data_uploader.py:
    106-108): dataset_serial, file_name (source path), description,
    parent_dataset_id. `upload_type` ∈ {"frames", "file"}
    (data_uploader.py:119-123):

    - **frames**: each source file is split into 2-D frame pages
      (sources.split_tiff_pages with the injected `page_reader` codec
      seam), each page sha256'd map-side, named
      `im_c###_z###_t###_p###.png` (file_splitter.py:114-125), published
      to `<storage_root>/raw_frames/<serial>/` via the idempotent blob
      sink, and catalogued with flows.insert_frames (DataSet +
      FramesGlobal + Frames rows).
    - **file**: the source file is stored as-is under
      `<storage_root>/raw_files/<serial>/` with a whole-file sha256 and
      catalogued with ingest.insert_file (DataSet + FileGlobal rows);
      metadata_json records {"file_origin": src} (data_uploader.py:240).

    Idempotency: both the blob sink (existence-skip) and the catalog
    appends (anti-join on serial) converge on re-run — the reference's
    `assert_unique_id` + overwrite flag become convergent semantics; pass
    `overwrite=True` only to force blob rewrite.

    Scale shape: the manifest is batch-sized (one row per dataset of the
    upload), so it is collected ONCE and every later plan reads that local
    copy (a LocalTableScan) instead of re-scanning the caller's frame. The
    split+hash runs as one Arrow-batched mapInPandas over a binaryFile
    scan (one task per source file ≥ one split each), the frame rows are
    persisted ONCE so the blob write and the catalog insert don't
    re-decode (the payload rides executor memory/disk for the duration of
    the upload batch — dataset-batch-sized, not corpus-sized), and
    catalog appends are anti-join guarded. `paths` (table name →
    parquet path) persists the three catalog tables. `backend_factory`
    overrides the blob store (the reference's local-vs-S3 storage_class
    switch, data_uploader.py:127-134): pass e.g.
    ``lambda: sinks.S3Backend(bucket, client_factory)`` and
    `storage_root` is ignored for the blob write.

    Returns {"data_set": …, "frames_global"/"file_global": …, "frames": …}
    of the newly appended rows."""
    upload_type = upload_type.lower()
    assert upload_type in {"file", "frames"}, (
        f"upload_type should be 'file' or 'frames', not {upload_type}"
    )
    # batch-sized: collected once, so no later plan re-scans the caller's
    # frame (see "Scale shape")
    cols = manifest.select(
        "dataset_serial",
        F.col("file_name").alias("src_path"),
        "description",
        "parent_dataset_id",
    )
    man_rows = cols.collect()
    man = values_df(spark, man_rows, cols.schema)
    bad = validate_manifest(man).select("dataset_serial").collect()
    if bad:
        raise AssertionError(f"Invalid ID: {bad[0]['dataset_serial']}")

    folder = FRAME_FOLDER_NAME if upload_type == "frames" else FILE_FOLDER_NAME
    man = man.withColumn(
        "storage_dir", F.concat_ws("/", F.lit(folder), F.col("dataset_serial"))
    )
    src_paths = [r["src_path"] for r in man_rows]
    blobs = (
        spark.read.format("binaryFile")
        .load(src_paths)
        .select(_strip_scheme(F.col("path")).alias("src_path"), "content")
    )
    gm = dict(DEFAULT_GLOBAL_META)
    gm.update(global_meta or {})
    # paths may be the per-table dict (plain parquet / SnapshotTarget) or
    # ONE CatalogTarget routing every catalog insert through the atomic
    # multi-table commit (the reference's full transaction scope)
    from imagingdb_spark.ingest import CatalogTarget

    atomic = paths if isinstance(paths, CatalogTarget) else None
    paths = {} if atomic is not None or paths is None else paths

    if upload_type == "file":
        files = (
            blobs.join(F.broadcast(man), "src_path")
            .select(
                "dataset_serial",
                "description",
                F.lit(microscope).alias("microscope"),
                "parent_dataset_id",
                "storage_dir",
                basename(F.col("src_path")).alias("file_name"),
                F.to_json(
                    F.struct(F.col("src_path").alias("file_origin"))
                ).alias("metadata_json"),
                F.col("content").alias("payload"),
            )
        )
        files = with_sha256(files).persist()
        try:
            sinks.write_blobs(
                files.select(
                    F.concat_ws("/", "storage_dir", "file_name").alias(
                        "file_name"
                    ),
                    "payload",
                ),
                dest_dir=storage_root,
                overwrite=overwrite,
                backend_factory=backend_factory,
            )
            if atomic is not None:
                new_ds, new_fg = insert_file_atomic(
                    files.drop("payload"),
                    atomic.catalog_dir,
                    bloom_columns=atomic.bloom_columns,
                )
            else:
                new_ds, new_fg = insert_file(
                    files.drop("payload"),
                    catalog["data_set"],
                    catalog["file_global"],
                    paths.get("data_set"),
                    paths.get("file_global"),
                )
            return {"data_set": new_ds, "file_global": new_fg}
        finally:
            files.unpersist()

    if not any(
        k in (global_meta or {})
        for k in ("nbr_channels", "nbr_slices", "nbr_positions")
    ):
        # tif_id behavior (tif_id_splitter.py:111-126): when the caller
        # gives no grid, read the first source file's ImageDescription tag
        # driver-side (a header-only read of one manifest file) and take
        # channels/slices/positions from its ImageJ key=value lines.
        from imagingdb_spark.tiff import parse_ij_description, read_description

        try:
            with open(src_paths[0], "rb") as f:
                inferred = parse_ij_description(read_description(f.read()))
            gm.update(
                {k: inferred[k]
                 for k in ("nbr_channels", "nbr_slices", "nbr_positions")}
            )
        except (ValueError, OSError):
            pass  # not a readable TIFF: keep the 1/1/1 default grid
    split_kwargs = dict(
        nbr_channels=gm["nbr_channels"],
        nbr_slices=gm["nbr_slices"],
        nbr_positions=gm["nbr_positions"],
    )
    if page_reader is not None:  # else keep the splitter's codec-seam default
        split_kwargs["page_reader"] = page_reader
    pages = split_tiff_pages(
        blobs.withColumnRenamed("src_path", "path"), **split_kwargs
    )
    ch_name = (
        F.element_at(
            F.array(*[F.lit(n) for n in channel_names]),
            F.col("channel_idx") + 1,
        )
        if channel_names
        else F.lit(None).cast("string")
    )
    framed = (
        pages.withColumn("src_path", _strip_scheme(F.col("file_path")))
        .join(F.broadcast(man), "src_path")
        .select(
            "dataset_serial",
            "channel_idx",
            "slice_idx",
            "time_idx",
            "pos_idx",
            ch_name.alias("channel_name"),
            frame_file_name(
                F.col("channel_idx"),
                F.col("slice_idx"),
                F.col("time_idx"),
                F.col("pos_idx"),
            ).alias("file_name"),
            "sha256",
            F.lit("{}").alias("metadata_json"),
            "storage_dir",
            "payload",
        )
        .persist()  # split once: blob write + catalog insert share it
    )
    try:
        sinks.write_blobs(
            framed.select(
                F.concat_ws("/", "storage_dir", "file_name").alias("file_name"),
                "payload",
            ),
            dest_dir=storage_root,
            overwrite=overwrite,
            backend_factory=backend_factory,
        )
        datasets = man.select(
            "dataset_serial",
            "description",
            F.lit(microscope).alias("microscope"),
            "parent_dataset_id",
            "storage_dir",
            F.lit(gm["bit_depth"]).alias("bit_depth"),
            F.lit(gm["im_width"]).cast("int").alias("im_width"),
            F.lit(gm["im_height"]).cast("int").alias("im_height"),
            F.lit(gm["im_colors"]).cast("int").alias("im_colors"),
            F.lit(global_json).alias("metadata_json"),
        )
        if atomic is not None:
            new_ds, new_fg, new_fr = insert_frames_atomic(
                datasets,
                framed.drop("storage_dir", "payload"),
                atomic.catalog_dir,
                bloom_columns=atomic.bloom_columns,
            )
        else:
            new_ds, new_fg, new_fr = insert_frames(
                datasets,
                framed.drop("storage_dir", "payload"),
                catalog["data_set"],
                catalog["frames_global"],
                catalog["frames"],
                paths,
            )
        return {"data_set": new_ds, "frames_global": new_fg, "frames": new_fr}
    finally:
        framed.unpersist()


def fetch_files(
    spark: SparkSession, storage_dir: str, file_names: list[str], dest_dir: str
) -> None:
    """`download_files` (data_storage.py:243-253) distributed: binaryFile
    read of EXACTLY the requested objects (the source takes an explicit
    path list, so unselected objects are never opened — a subset download
    from a million-frame dataset reads only the subset), written to dest
    via the blob sink. Spark tasks replace the reference's thread pool."""
    paths = [os.path.join(storage_dir, n) for n in file_names]
    blobs = (
        spark.read.format("binaryFile")
        .load(paths)
        .select(
            basename(F.col("path")).alias("file_name"),
            F.col("content").alias("payload"),
        )
    )
    sinks.write_blobs(blobs, dest_dir)


def fetch_files_backend(
    spark: SparkSession,
    storage_dir: str,
    file_names: list[str],
    dest_dir: str,
    backend_factory,
) -> None:
    """`download_file` (s3_storage.py:178-195) distributed through the
    BlobBackend seam: tasks pull their partition's objects via a
    per-partition backend client (the reference's client-per-thread) and
    publish atomically into dest_dir. The filesystem twin is fetch_files
    (binaryFile scan); this one serves object stores, where listing is
    avoided entirely — keys come from the catalog. dest_dir must be
    storage shared across executors (true on local[*] and on a cluster
    writing to a mounted/teamed filesystem)."""
    os.makedirs(dest_dir, exist_ok=True)
    rows = [(f"{storage_dir}/{n}", n) for n in file_names]
    # a LocalTableScan spreads its rows over up to defaultParallelism
    # partitions, so the pulls below still run in parallel
    df = values_df(spark, rows, "key string, file_name string")

    def pull(it) -> None:
        from pyspark import TaskContext

        backend = backend_factory()
        ctx = TaskContext.get()
        attempt = ctx.taskAttemptId() if ctx is not None else os.getpid()
        for row in it:
            data = backend.get(row["key"])
            path = os.path.join(dest_dir, row["file_name"])
            tmp = f"{path}.inprogress.{attempt}"
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, path)

    df.foreachPartition(pull)


def download_dataset(
    spark: SparkSession,
    catalog: dict[str, DataFrame],
    dataset_serial: str,
    dest: str,
    metadata: bool = True,
    download: bool = True,
    positions=None,
    times=None,
    channels=None,
    slices=None,
    storage_root: str | None = None,
    backend_factory=None,
) -> tuple[str, list[str]]:
    """`download_data` (cli/data_downloader.py:106-229): metadata query +
    subset + CSV/JSON sinks + blob fetch, with the reference's exact error
    surface. Returns (storage_dir, file_names).

    `catalog` maps table name → DataFrame (data_set, frames_global, frames,
    file_global). `storage_root` prefixes storage_dir for the blob fetch
    (the reference's mount_point / access_point)."""
    ok = (
        values_df(spark, [(dataset_serial,)], "s string")
        .select(validate_serial(F.col("s")).alias("ok"))
        .collect()[0]["ok"]
    )
    if not ok:
        raise AssertionError(f"Invalid ID: {dataset_serial}")

    dest_dir = os.path.join(dest, dataset_serial)
    os.makedirs(dest_dir, exist_ok=False)  # FileExistsError on rerun — parity

    channels = coerce_channels(channels)
    if not metadata:
        # "You set metadata *and* download to False. You get nothing."
        assert download, "You set metadata *and* download to False. You get nothing."
        from imagingdb_spark.api import get_filenames

        storage_dir, file_names = get_filenames(
            catalog["data_set"], catalog["frames_global"], catalog["frames"],
            catalog["file_global"], dataset_serial,
            positions=positions, times=times, channels=channels, slices=slices,
        )
    else:
        frames_meta = get_frames_meta(
            catalog["data_set"], catalog["frames_global"], catalog["frames"],
            dataset_serial,
        )
        subset = select_frames_subset(
            frames_meta, channels=channels, slices=slices,
            times=times, positions=positions,
        )
        gm = get_global_meta(
            catalog["data_set"], catalog["frames_global"], dataset_serial
        )
        sinks.write_global_meta_json(gm, dest_dir)
        sinks.write_frames_meta_csv(subset, dest_dir)
        storage_dir = gm.select("storage_dir").collect()[0]["storage_dir"]
        rows = subset.select("file_name").orderBy("file_name").collect()
        assert rows, f"No frames in dataset {dataset_serial} match the given constraints"
        file_names = [r["file_name"] for r in rows]

    if download:
        if backend_factory is not None:
            # object-store path (the reference's S3Storage.download_file)
            fetch_files_backend(
                spark, storage_dir, file_names, dest_dir, backend_factory
            )
        else:
            src = (
                os.path.join(storage_root, storage_dir)
                if storage_root
                else storage_dir
            )
            fetch_files(spark, src, file_names, dest_dir)
    return storage_dir, file_names
