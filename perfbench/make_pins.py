"""Regenerate ``perfbench/pins.json``, the expected outputs the benchmark
checks on every run.

    python3 perfbench/make_pins.py

- headline: the row count of every ``bench.HEADLINE`` query at each data
  size. Queries with a DuckDB twin (``registry.ORACLE``) are counted by
  DuckDB; the rows-only ones are counted from one Spark run.
- stream: for every rotation of the batch order, the corpus and match-log
  row counts after each trigger, from one run of the gate.

Run it only when the data or a query's meaning changes on purpose, and
say so in the change that does.
"""

from __future__ import annotations

import json
import shutil
import sys
import time

from common import DATA_DIR, ROOT, Session, cpu_count, fresh_run_dir, pin_environment

SIZES = ("sf0.1", "sf0.001")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def headline_pins(spark, sf_dir: str) -> dict:
    import duckdb

    import bench
    from headline import run_to_end
    from imagingdb_spark import registry

    registry.load_all()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    pins = {}
    for i, name in enumerate(bench.HEADLINE):
        if name in registry.ORACLE:
            pins[name] = con.sql(f"SELECT count(*) FROM ({registry.ORACLE[name]})").fetchone()[0]
        else:
            pins[name] = run_to_end(registry.QUERIES[name](spark, sf_dir), f"pin{i}")
            spark.catalog.clearCache()
    return pins


def stream_pins(spark, sf_dir: str, work) -> dict:
    from stream import BATCHES, batch_order, table_rows, write_batches

    from imagingdb_spark.streaming.jobs import DOCS_RAW_SCHEMA, streaming_dedup_gate

    out = {}
    for rotation in range(BATCHES):
        d = work / f"rot{rotation}"
        (d / "staging").mkdir(parents=True)
        (d / "incoming").mkdir()
        files = write_batches(sf_dir, batch_order(rotation), d / "staging")
        source = (spark.readStream.schema(DOCS_RAW_SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(str(d / "incoming")))
        query = streaming_dedup_gate(source, corpus_path=str(d / "corpus"),
                                     matches_path=str(d / "matches"),
                                     checkpoint_dir=str(d / "ckpt"))
        counts = []
        try:
            for path, _ in files:
                shutil.move(path, d / "incoming")
                query.processAllAvailable()
                counts.append([table_rows(spark, d / "corpus"),
                               table_rows(spark, d / "matches")])
        finally:
            query.stop()
        out[str(rotation)] = counts
        print(f"stream {sf_dir} rotation {rotation}: {counts[-1]}", file=sys.stderr)
    return out


def main() -> None:
    run_dir = fresh_run_dir("pins", 0)
    try:
        pin_environment(run_dir, cpu_count())
        session = Session(cpu_count())
        try:
            pins = {"headline": {}, "stream": {}}
            for sf in SIZES:
                t0 = time.perf_counter()
                sf_dir = str(DATA_DIR / sf)
                pins["headline"][sf] = headline_pins(session.spark, sf_dir)
                pins["stream"][sf] = stream_pins(session.spark, sf_dir, run_dir / sf)
                print(f"{sf}: {time.perf_counter() - t0:.0f} s", file=sys.stderr)
        finally:
            session.stop()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    (ROOT / "perfbench" / "pins.json").write_text(json.dumps(pins, indent=1) + "\n")


if __name__ == "__main__":
    main()
