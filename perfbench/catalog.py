"""The reference's own workload: upload multi-page TIFF stacks into an
atomic snapshot catalog, replay uploads, look datasets up by serial and
take them down, all on one catalog. One closed-loop client; each cycle is
upload, replay of that upload, two lookups and one takedown.
"""

from __future__ import annotations

import hashlib
import random
import time
from pathlib import Path

import numpy as np

from images import png_pixels, tiff_bytes
from headline import spark_totals

PAGES = 24  # frames per stack
SIDE = 64  # frame width and height in pixels
GRIDS = [(1, 24), (2, 12), (3, 8), (4, 6), (6, 4)]  # (channels, slices)
TABLES = ("data_set", "frames_global", "frames")


def make_stacks(rng: random.Random, n: int, src: Path) -> list[dict]:
    """``n`` datasets with seeded pixels, grids and serials, each written
    as one TIFF stack under ``src``."""
    pix = np.random.default_rng(rng.getrandbits(32))
    out, seen = [], set()
    while len(out) < n:
        serial = "{}-{:04d}-{:02d}-{:02d}-{:02d}-{:02d}-{:02d}-{:04d}".format(
            "".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(3)),
            rng.randint(2000, 2024), rng.randint(1, 12), rng.randint(1, 28),
            rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59),
            rng.randint(0, 9999),
        )
        if serial in seen:
            continue
        seen.add(serial)
        channels, slices = rng.choice(GRIDS)
        pages = pix.integers(0, 4096, (PAGES, SIDE, SIDE), dtype=np.uint16)
        path = src / f"{serial}.tif"
        path.write_bytes(tiff_bytes(pages))
        out.append({"serial": serial, "path": str(path), "pages": pages,
                    "channels": channels, "slices": slices})
    return out


class Catalog:
    """The calls a user of the catalog makes, each one operation."""

    def __init__(self, spark, work: Path):
        from imagingdb_spark.catalog import IMAGING_SCHEMAS

        self.spark = spark
        self.dir = str(work / "catalog")
        self.store = work / "store"
        self.schemas = IMAGING_SCHEMAS

    def version(self) -> int:
        from imagingdb_spark import snapcatalog as C

        vs = C.catalog_versions(self.dir)
        return vs[-1] if vs else 0

    def upload(self, ds: dict) -> None:
        from imagingdb_spark import flows
        from imagingdb_spark.ingest import CatalogTarget

        spark = self.spark
        manifest = spark.createDataFrame(
            [(ds["serial"], ds["path"], "perfbench", "none")],
            "dataset_serial string, file_name string, description string, "
            "parent_dataset_id string",
        )
        empty = {n: spark.createDataFrame([], s) for n, s in self.schemas.items()}
        flows.upload_dataset(
            spark, manifest, empty, storage_root=str(self.store), upload_type="frames",
            global_meta={"im_width": SIDE, "im_height": SIDE, "bit_depth": "uint16",
                         "nbr_channels": ds["channels"], "nbr_slices": ds["slices"]},
            paths=CatalogTarget(self.dir),
        )

    def views(self) -> dict:
        from imagingdb_spark import snapcatalog as C

        commit = C.catalog_manifest(self.dir)
        return {n: C.read_table_at(self.spark, self.dir, commit, n, schema=self.schemas[n])
                for n in (*TABLES, "file_global")}

    def lookup(self, serial: str, tracer=None) -> tuple[list, str, list[str]]:
        """Frames metadata and file names of one dataset, read through one
        pinned catalog commit."""
        from imagingdb_spark import api

        v = self.views()
        t0 = time.perf_counter()
        meta = api.get_frames_meta(v["data_set"], v["frames_global"], v["frames"], serial)
        rows = meta.collect()
        storage_dir, names = api.get_filenames(
            v["data_set"], v["frames_global"], v["frames"], v["file_global"], serial
        )
        if tracer is not None:
            tracer.inner["api.lookup_exec_s"] += time.perf_counter() - t0
            live = sum(len(v[n].inputFiles()) for n in TABLES)
            tracer.inner["api.lookup_files_read"] += len(meta.inputFiles()) / max(live, 1)
        return rows, storage_dir, names

    def takedown(self, serial: str) -> dict:
        from imagingdb_spark import snapcatalog as C

        return C.catalog_delete_dataset(self.spark, self.dir, serial)

    def absent(self, serial: str) -> bool:
        from imagingdb_spark import api

        v = self.views()
        try:
            api.get_filenames(v["data_set"], v["frames_global"], v["frames"],
                              v["file_global"], serial)
        except api.DatasetNotFoundError:
            return True
        return False


def check_lookup(cat: Catalog, ds: dict, rows: list, storage_dir: str, names: list[str]) -> list[str]:
    """Frame count, grid, names, and each stored blob's sha256 and pixels
    against what was uploaded."""
    errs = []
    serial = ds["serial"]
    if len(rows) != PAGES:
        errs.append(f"lookup {serial}: {len(rows)} frames, uploaded {PAGES}")
    want = {}
    for i in range(PAGES):
        c, z = i % ds["channels"], (i // ds["channels"]) % ds["slices"]
        want[f"im_c{c:03d}_z{z:03d}_t000_p000.png"] = i
    if sorted(names) != sorted(want) or names != sorted(names):
        errs.append(f"lookup {serial}: file names differ from the uploaded grid")
    if storage_dir != f"raw_frames/{serial}":
        errs.append(f"lookup {serial}: storage dir {storage_dir}")
    for r in rows:
        page = want.get(r["file_name"])
        blob = (cat.store / storage_dir / r["file_name"]).read_bytes()
        if hashlib.sha256(blob).hexdigest() != r["sha256"]:
            errs.append(f"lookup {serial}: {r['file_name']} sha256 differs from its blob")
        elif page is None or not np.array_equal(png_pixels(blob), ds["pages"][page]):
            errs.append(f"lookup {serial}: {r['file_name']} pixels differ from the upload")
    return errs


def run(ctx) -> dict:
    from imagingdb_spark import sinks
    from imagingdb_spark import snapcatalog as C

    from common import new_files, tree_files

    rng = random.Random(ctx.seed)
    src = ctx.work / "src"
    src.mkdir()
    t_gen = time.perf_counter()
    stacks = make_stacks(rng, ctx.size["datasets"], src)
    ctx.exclude_from_setup(time.perf_counter() - t_gen)
    cat, tracer = Catalog(ctx.spark, ctx.work), ctx.tracer
    errors: list[str] = []

    # warm-up: the first upload and lookup of a session pay the JVM's
    # compilation of every code path they touch
    cat.upload(stacks[0])
    errors += check_lookup(cat, stacks[0], *cat.lookup(stacks[0]["serial"]))
    live = [stacks[0]]
    tracer.wrap(sinks, "write_blobs", "sinks.write_blobs_s")
    tracer.wrap(C, "catalog_commit", "snapcatalog.commit_s")
    tracer.wrap(C, "catalog_manifest", "snapcatalog.manifest_s")
    tracer.wrap(C, "catalog_delete", "snapcatalog.delete_s")
    ctx.setup_done()

    ops: list[dict] = []
    cat_root = Path(cat.dir)

    def op(kind: str, fn, *args):
        before = tree_files(cat_root) if tracer.enabled else None
        rec = {"kind": kind}
        try:
            with tracer.span(kind) as span:
                result = fn(*args)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            rec["failed"] = True
            errors.append(f"{kind}: {type(e).__name__}: {e}")
            ops.append(rec)
            return None
        rec.update(span)
        if before is not None:
            rec["files"], rec["bytes"] = new_files(before, tree_files(cat_root))
        ops.append(rec)
        return result

    t0 = time.perf_counter()
    nxt = 1
    while nxt < len(stacks) and (nxt == 1 or time.perf_counter() - t0 < ctx.seconds):
        ds, old = stacks[nxt], rng.choice(live)
        nxt += 1
        v0 = cat.version()
        op("upload", cat.upload, ds)
        if cat.version() != v0 + 1:
            errors.append(f"upload {ds['serial']}: version {cat.version()}, expected {v0 + 1}")
        op("replay", cat.upload, ds)
        if cat.version() != v0 + 1:
            errors.append(f"replay {ds['serial']}: published version {cat.version()}")
        live.append(ds)
        targets = [ds, old]
        rng.shuffle(targets)
        for t in targets:
            found = op("lookup", cat.lookup, t["serial"], tracer if tracer.enabled else None)
            if found is not None:
                errors += check_lookup(cat, t, *found)
        v1 = cat.version()
        out = op("takedown", cat.takedown, old["serial"])
        if out is not None:
            live.remove(old)
            if out["version"] != v1 + 1 or not cat.absent(old["serial"]):
                errors.append(f"takedown {old['serial']}: still visible")
    measured_s = time.perf_counter() - t0
    tracer.unwrap()

    def times(kind):
        return [o["s"] for o in ops if o["kind"] == kind and "s" in o]

    live_frames = len(live) * PAGES
    disk = sum(tree_files(cat_root).values())
    e2e = {
        "upload_p50_s": (times("upload"), "s"),
        "upload_tail_s": (times("upload"), "s"),
        "replay_p50_s": (times("replay"), "s"),
        "lookup_p50_s": (times("lookup"), "s"),
        "lookup_tail_s": (times("lookup"), "s"),
        "takedown_p50_s": (times("takedown"), "s"),
        "catalog_bytes_per_frame": ([disk / live_frames], "B"),
    }
    layers = catalog_layers(ops, measured_s, ctx.cpus) if tracer.enabled else {}
    return {"ops": ops, "errors": errors, "e2e": e2e, "layers": layers,
            "op_times": [o["s"] for o in ops if "s" in o], "measured_s": measured_s}


def catalog_layers(ops: list[dict], wall_s: float, cpus: int) -> dict:
    import statistics

    def med(kind: str, get) -> float:
        vals = [get(o) for o in ops if o["kind"] == kind and "s" in o]
        return statistics.median(vals) if vals else 0.0

    def inner(key):
        return lambda o: o["inner"].get(key, 0.0)

    total = {"exec_jobs": sum(o.get("jobs", 0) for o in ops)}
    for k in ("tasks", "shuffle_write_bytes", "spill_bytes", "cpu_s", "run_s"):
        total[k] = sum(o.get(k, 0) for o in ops)
    out = {
        "flows.upload.jobs": med("upload", lambda o: o["jobs"]),
        "flows.upload.task_cpu_s": med("upload", lambda o: o["cpu_s"]),
        "sinks.write_blobs_s": med("upload", inner("sinks.write_blobs_s")),
        "snapcatalog.commit_s": med("upload", inner("snapcatalog.commit_s")),
        "snapcatalog.files_written_per_upload": med("upload", lambda o: o["files"]),
        "snapcatalog.bytes_written_per_upload": med("upload", lambda o: o["bytes"]),
        "flows.replay.jobs": med("replay", lambda o: o["jobs"]),
        "snapcatalog.files_written_per_replay": med("replay", lambda o: o["files"]),
        "snapcatalog.manifest_s": med("lookup", inner("snapcatalog.manifest_s")),
        "api.lookup.jobs": med("lookup", lambda o: o["jobs"]),
        "api.lookup_exec_s": med("lookup", inner("api.lookup_exec_s")),
        "api.lookup_files_read_frac": med("lookup", inner("api.lookup_files_read")),
        "snapcatalog.delete_s": med("takedown", inner("snapcatalog.delete_s")),
        "snapcatalog.takedown.jobs": med("takedown", lambda o: o["jobs"]),
        "snapcatalog.commit_bytes": med("takedown", lambda o: o["bytes"]),
    }
    out.update(spark_totals(total, wall_s, cpus))
    return out
