"""The crawl-ingest dedup gate (``streaming.jobs.streaming_dedup_gate``)
over the ``documents`` table, cut into BATCHES files. One closed-loop
client drops the next file once the previous trigger has committed, so
each trigger processes exactly one file against a corpus that grows.
"""

from __future__ import annotations

import os
import statistics
import time

from headline import spark_totals

BATCHES = 12
WARM_TRIGGERS = 2  # the corpus bootstrap and the first incremental trigger


def batch_order(seed: int) -> list[int]:
    """The seed picks where in the rotation of batches the stream starts;
    the pins hold the result of every rotation and prefix."""
    r = seed % BATCHES
    return [(r + i) % BATCHES for i in range(BATCHES)]


def write_batches(sf_dir: str, order: list[int], staging) -> list[tuple[str, int]]:
    """One parquet file per batch (``doc_id % BATCHES``), in ``order``."""
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{sf_dir}/documents.parquet",
                         columns=["doc_id", "text", "lang", "source"])
    key = docs["doc_id"].to_numpy() % BATCHES
    out = []
    for i, b in enumerate(order):
        part = docs.filter(key == b)
        path = staging / f"batch{i:03d}.parquet"
        pq.write_table(part, path)
        out.append((str(path), part.num_rows))
    return out


def table_rows(spark, path) -> int:
    """Rows of a parquet table the gate appends to; 0 before its first append."""
    return spark.read.parquet(str(path)).count() if os.path.isdir(path) else 0


def run(ctx) -> dict:
    from imagingdb_spark.streaming.jobs import DOCS_RAW_SCHEMA, streaming_dedup_gate

    from common import new_files, tree_files

    spark, tracer = ctx.spark, ctx.tracer
    work = ctx.work / "stream"
    staging, incoming = work / "staging", work / "incoming"
    staging.mkdir(parents=True)
    incoming.mkdir()
    rotation = ctx.seed % BATCHES
    t_gen = time.perf_counter()
    files = write_batches(ctx.sf_dir, batch_order(ctx.seed), staging)
    ctx.exclude_from_setup(time.perf_counter() - t_gen)
    pins = ctx.pins["stream"][ctx.sf_name][str(rotation)]

    source = (spark.readStream.schema(DOCS_RAW_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(str(incoming)))
    query = streaming_dedup_gate(source, corpus_path=str(work / "corpus"),
                                 matches_path=str(work / "matches"),
                                 checkpoint_dir=str(work / "ckpt"))
    errors: list[str] = []
    triggers: list[dict] = []

    def written():  # the gate's own output: corpus, indexes, log, checkpoint
        return {k: v for k, v in tree_files(work).items()
                if not k.startswith(("staging", "incoming"))}

    def trigger(i: int) -> dict:
        path, rows = files[i]
        before_ids = tracer.job_ids()
        before_files = written() if tracer.enabled else None
        t0 = time.perf_counter()
        os.rename(path, incoming / os.path.basename(path))
        query.processAllAvailable()
        rec = {"kind": "trigger", "s": time.perf_counter() - t0, "docs": rows}
        p = query.lastProgress
        if p is None or p["batchId"] != i or p["numInputRows"] != rows:
            errors.append(f"trigger {i}: progress {p and (p['batchId'], p['numInputRows'])}, "
                          f"expected ({i}, {rows})")
        else:
            d = p["durationMs"]
            rec["add_batch_s"] = d.get("addBatch", 0) / 1e3
            rec["engine_s"] = (d["triggerExecution"] - d.get("addBatch", 0)) / 1e3
        if tracer.enabled:
            rec.update(tracer.job_counters(tracer.job_ids() - before_ids))
            rec["files"], _ = new_files(before_files, written())
        return rec

    try:
        for i in range(WARM_TRIGGERS):
            trigger(i)
        ctx.setup_done()
        t0 = time.perf_counter()
        i = WARM_TRIGGERS
        while i < len(files) and (i == WARM_TRIGGERS or time.perf_counter() - t0 < ctx.seconds):
            try:
                triggers.append(trigger(i))
            except Exception as e:  # noqa: BLE001 - a failed trigger is counted
                triggers.append({"kind": "trigger", "failed": True})
                errors.append(f"trigger {i}: {type(e).__name__}: {e}")
                break  # the stream is dead; later triggers cannot run
            i += 1
        measured_s = time.perf_counter() - t0
    finally:
        query.stop()

    corpus, matches = table_rows(spark, work / "corpus"), table_rows(spark, work / "matches")
    if not errors and [corpus, matches] != pins[i - 1]:
        errors.append(f"stream after {i} triggers: corpus {corpus}, matches {matches}, "
                      f"pinned {pins[i - 1]}")

    done = [t for t in triggers if "s" in t]
    times = [t["s"] for t in done]
    docs = sum(t["docs"] for t in done)
    e2e = {
        "trigger_p50_s": (times, "s"),
        "trigger_tail_s": (times, "s"),
        "docs_per_s": ([docs / sum(times)] if times else [], "1/s"),
    }
    layers = {}
    if tracer.enabled and done:
        def med(key):
            return statistics.median(t.get(key, 0) for t in done)

        total = {"exec_jobs": sum(t["jobs"] for t in done)}
        for k in ("tasks", "shuffle_write_bytes", "spill_bytes", "cpu_s", "run_s"):
            total[k] = sum(t[k] for t in done)
        layers = {
            "streaming.trigger_jobs": med("jobs"),
            "streaming.add_batch_s": med("add_batch_s"),
            "streaming.engine_s": med("engine_s"),
            "streaming.files_written_per_trigger": med("files"),
            "streaming.shuffle_write_bytes_per_trigger": med("shuffle_write_bytes"),
        }
        layers.update(spark_totals(total, measured_s, ctx.cpus))
    return {"ops": triggers, "errors": errors, "e2e": e2e, "layers": layers,
            "op_times": times, "measured_s": measured_s}
