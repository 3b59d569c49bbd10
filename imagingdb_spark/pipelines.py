"""Composed pretraining-data pipeline — the proof that the engine's
LLM-data operators CHAIN, not just run in isolation (SURVEY.md §2.11-2.15
give each stage its own oracle-checked query; this module is the
end-to-end shape a real corpus build runs).

Stage order follows the standard public recipe (Gopher / RefinedWeb /
Dolma family): cheap row-local filters first so every expensive stage
sees a smaller corpus, exact dedup before near-dup so LSH buckets never
fill with byte-identical copies, decontamination after dedup (one
representative per cluster is enough to test), capacity shaping (per-
source caps) last before sharding.

Every stage is the SAME code the registered query runs (quality_flags,
minhash_pairs, connected_components, shingle_frame, capped_hash_rank,
split_col) — the pipeline only wires survivors through semi/anti-joins
on doc_id, so correctness evidence transfers from the per-stage oracle
checks.

Scale notes:
- The survivor set is carried as doc_id semi/anti-joins against the
  shrinking corpus: at 100 TB each stage's verdict table is
  doc-id-sized (16 bytes/row), never corpus-sized, and AQE broadcasts
  it once it fits.
- The audit trail (rows in/out per stage) costs one .count() action per
  stage here — the readable demo form. A production run folds the
  counts into each stage's own aggregates (observe() / accumulators) to
  avoid re-triggering lineage; the pipeline caches the corpus between
  stages so each count reuses, not recomputes, upstream work.
- Stage ordering is a correctness statement, not a preference: keeper
  selection (min doc_id) happens WITHIN the quality-surviving set, so a
  rejected document can never be the reason its duplicates vanish.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from imagingdb_spark.catalog import table, values_df
from imagingdb_spark.operators.dedup import (
    CONTAM_K,
    minhash_pairs,
    shingle_frame,
)
from imagingdb_spark.operators.graph import connected_components
from imagingdb_spark.operators.sampling import capped_hash_rank
from imagingdb_spark.operators.text import quality_flags

PIPELINE_SOURCE_CAP = 40   # max surviving docs per source (Gopher-style)
PIPELINE_SHARDS = 8        # output training shards


@dataclass(frozen=True)
class StageAudit:
    stage: str
    rows_in: int
    rows_out: int


def _semi(corpus: DataFrame, keep_ids: DataFrame) -> DataFrame:
    return corpus.join(keep_ids.select("doc_id"), "doc_id", "semi")


def _anti(corpus: DataFrame, drop_ids: DataFrame) -> DataFrame:
    return corpus.join(drop_ids.select("doc_id"), "doc_id", "anti")


def pretraining_pipeline(
    spark: SparkSession,
    sf_dir: str,
    source_cap: int = PIPELINE_SOURCE_CAP,
    n_shards: int = PIPELINE_SHARDS,
) -> tuple[DataFrame, list[StageAudit]]:
    """documents → quality filter → exact dedup → MinHash near-dup
    clustering → benchmark decontamination → per-source cap → sharded,
    deterministically-ordered training corpus.

    Returns (shards, audit): `shards` is (doc_id, text, lang, source,
    shard, pos_in_shard) — reading shards in (shard, pos_in_shard) order
    is the reproducible global training order (x_shard_shuffle's
    contract); `audit` records rows in/out of every stage.
    """
    audit: list[StageAudit] = []

    def step(name: str, cur: DataFrame, nxt: DataFrame) -> DataFrame:
        n_in = cur.count()
        nxt = nxt.persist()
        audit.append(StageAudit(name, n_in, nxt.count()))
        cur.unpersist()
        return nxt

    docs = table(spark, sf_dir, "documents").persist()

    # 1. quality: Gopher-style row-local rules (x_quality_filter)
    q = quality_flags(docs).filter(F.col("keep"))
    cur = step("quality_filter", docs, _semi(docs, q))

    # 2. exact dedup: content-hash groupBy, min-doc_id keeper
    #    (x_dedup_exact) — losers are anti-joined away
    losers = (
        cur.select(F.sha2("text", 256).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("keeper"), F.collect_list("doc_id").alias("ids"))
        .select(F.explode("ids").alias("doc_id"), "keeper")
        .filter(F.col("doc_id") != F.col("keeper"))
    )
    cur = step("exact_dedup", cur, _anti(cur, losers))

    # 3. near-dup: MinHash+LSH verified pairs (x_dedup_minhash) →
    #    connected components (x_dedup_cluster) → keep the min-id per
    #    cluster (x_dedup_compact)
    pairs = minhash_pairs(cur)
    comp = connected_components(pairs)
    near_losers = comp.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    cur = step("near_dedup", cur, _anti(cur, near_losers))

    # 4. decontamination (x_decontaminate): drop survivors sharing any
    #    CONTAM_K-gram with the held-out benchmark split, and the
    #    benchmark docs themselves
    is_bench = F.col("doc_id") % 97 == 0
    bench_grams = (
        shingle_frame(docs.filter(is_bench), k=CONTAM_K)
        .select(F.explode("shingles").alias("g"))
        .distinct()
    )
    contaminated = (
        shingle_frame(cur.filter(~is_bench), k=CONTAM_K)
        .select("doc_id", F.explode("shingles").alias("g"))
        .join(F.broadcast(bench_grams), "g")
        .select("doc_id")
        .distinct()
    )
    cur = step(
        "decontaminate",
        cur,
        _anti(cur.filter(~is_bench), contaminated),
    )

    # 5. per-source cap (x_source_cap / capped_hash_rank): content-
    #    addressed rank within source, skew-safe prefilter, doc_id
    #    tiebreak for determinism under any hash
    h = F.md5(F.concat(F.lit("cap-"), F.col("doc_id").cast("string")))
    capped = capped_hash_rank(
        cur.select("doc_id", "source"), "source", h, source_cap,
        tiebreak="doc_id",
    )
    cur = step("source_cap", cur, _semi(cur, capped))

    # 6. shard + deterministic order (x_shard_shuffle): content-addressed
    #    hash → shard and in-shard position; reading (shard, pos) is the
    #    reproducible training order
    sh = F.md5(F.concat(F.lit("shard-"), F.col("doc_id").cast("string")))
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy("__h", "doc_id")
    shards = (
        cur.withColumn("__h", sh)
        .withColumn(
            "shard",
            (F.conv(F.substring("__h", 1, 4), 16, 10) % n_shards).cast("int"),
        )
        .withColumn("pos_in_shard", F.row_number().over(w).cast("bigint"))
        .drop("__h", "n_chars")
    )
    docs.unpersist()
    return shards, audit


def _register() -> None:
    from imagingdb_spark.registry import query

    @query("x_pipeline_audit")  # rows-only: composed multi-stage pipeline
    def x_pipeline_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The full pretraining pipeline's stage audit as a query:
        (stage_idx, stage, rows_in, rows_out) for quality filter → exact
        dedup → near-dup clustering → decontamination → source cap.
        Deterministic end-to-end (every stage is content-addressed), so
        the row set doubles as a regression pin on the composed
        behavior: any stage silently passing everything (or nothing)
        shows up as a changed count."""
        _, audit = pretraining_pipeline(spark, sf_dir)
        return values_df(
            spark,
            [(i, a.stage, a.rows_in, a.rows_out) for i, a in enumerate(audit)],
            "stage_idx int, stage string, rows_in long, rows_out long",
        )


_register()
