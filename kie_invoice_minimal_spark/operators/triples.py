"""Triple emission & materialization — SURVEY.md §2.8 (O1/O2).

The reference's ``postprocess_write_info`` (``backend/kie/kie_utils.py:314-340``)
builds, per document and per non-OTHER label, the ' '-join of all member
texts in index order.  Here that fold emits the ``triples`` table
``(subj, pred, obj, conv_id)`` in two forms with one contract:
:func:`materialize_triples`, a grouped aggregation with a deterministic
in-group sort over any mentions table, and :func:`fold_triples_batch`, the
same fold over one Arrow batch that holds whole conversations (the
flagship's Arrow pass, ``plans/pipeline.py``).  The writer partitions by
``(pred, subj_bucket)`` with an explicit salt column for hot subjects
(north rule: skew handled explicitly, not left to AQE alone).

Scale notes: groupBy(conv_id, mention_type) shuffles once on a high-
cardinality composite key — no skew (conversations are bounded).  Skew
appears at WRITE time (hot predicate partitions, hot subjects); the salt
splits a hot subject's rows across SALT_BUCKETS files within its
partition so no single task owns a mega-partition.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rules import OTHER

TRIPLES_SCHEMA_DDL = "subj string, pred string, obj string, conv_id string"
SUBJ_BUCKETS = 64
SALT_BUCKETS = 8


def materialize_triples(mentions: DataFrame) -> DataFrame:
    """(subj, pred, obj, conv_id) with subj = conv_id: obj = surfaces
    ' '-joined in stable (turn_idx, pos, surface) order.  One shuffle (the
    groupBy); the sort is the sort_array of collected structs, not a global
    sort."""
    return (
        mentions.filter(F.col("mention_type") != OTHER)
        # shuffle only what the aggregation needs — span offsets stay behind
        .select("conv_id", "mention_type", "turn_idx", "pos", "surface")
        .groupBy(F.col("conv_id").alias("subj"), F.col("mention_type").alias("pred"))
        .agg(
            F.array_join(
                F.sort_array(
                    F.collect_list(F.struct("turn_idx", "pos", "surface"))
                ).getField("surface"),
                " ",
            ).alias("obj"),
        )
        .select("subj", "pred", "obj", F.col("subj").alias("conv_id"))
    )


def fold_triples_batch(mentions: pa.RecordBatch) -> pa.Table:
    """:func:`materialize_triples` over one in-memory batch of mentions that
    holds every mention of each conversation it touches, none of them OTHER
    (the detector's output): the same (subj, pred, obj, conv_id) rows, with a
    null turn_idx sorting first as in the struct sort."""
    order = pc.sort_indices(
        mentions,
        sort_keys=[
            (c, "ascending")
            for c in ("conv_id", "mention_type", "turn_idx", "pos", "surface")
        ],
        null_placement="at_start",
    )
    groups = (
        pa.Table.from_batches([mentions.take(order)])
        .group_by(["conv_id", "mention_type"], use_threads=False)
        .aggregate([("surface", "list")])
    )
    conv = groups.column("conv_id")
    return pa.table(
        {
            "subj": conv,
            "pred": groups.column("mention_type"),
            "obj": pc.binary_join(groups.column("surface_list"), " "),
            "conv_id": conv,
        }
    )


def with_partition_keys(triples: DataFrame) -> DataFrame:
    """Add the physical layout columns: subj_bucket = hash(subj) % K and a
    deterministic salt spreading hot subjects (hash of the full row — stable,
    no rand())."""
    return triples.withColumn(
        "subj_bucket", F.pmod(F.xxhash64("subj"), F.lit(SUBJ_BUCKETS)).cast("int")
    ).withColumn(
        "salt",
        F.pmod(F.xxhash64("subj", "pred", "obj"), F.lit(SALT_BUCKETS)).cast("int"),
    )


def write_triples(triples: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Materialize partitioned by (pred, subj_bucket); repartition by
    (pred, subj_bucket, salt) first so a hot subject's rows land on
    SALT_BUCKETS tasks instead of one."""
    (
        with_partition_keys(triples)
        .repartition("pred", "subj_bucket", "salt")
        .drop("salt")
        .write.mode(mode)
        .partitionBy("pred", "subj_bucket")
        .parquet(path)
    )


# --- incremental KG maintenance (novel-fact extraction) -----------------------------

KG_INCR_MOD, KG_INCR_REM = 5, 0  # md5-gated conv split: slot 0 = arriving batch


def kg_triples_incremental(spark, sf_dir: str):
    """(subj, pred, obj, conv_id): the NOVEL triples an arriving batch of
    conversations adds to the KG — the daily-maintenance shape (north
    star: resumable, incremental graph materialization).  Conversations
    are md5-gated into batch (slot KG_INCR_REM) vs existing corpus, the
    same deterministic split discipline as dd_incremental
    (dedup.py:836); a batch triple is SUPPRESSED when its FACT
    fingerprint — md5(pred, obj), i.e. the label + ordered surface list,
    independent of which conversation asserted it — already exists in
    the corpus.  On the sf0.01 fixture 160 batch triples reduce to 16
    novel facts (duplicated synthetic conversations assert the same
    facts).

    Scale shape: only 60-bit fact fingerprints cross the anti-join
    shuffle (never the obj strings); the corpus side is
    distinct-fact-sized.  On a real deployment the corpus fingerprint
    table is the KG's fact index (maintained incrementally, bucketed by
    fp) and the anti-join is fp-co-located — no corpus rescan per batch.
    Reference analog: the incremental label-store update,
    scripts/prepare_data.py:100-151."""
    from ..plans.pipeline import extract_triples_df
    from ..sources.transcripts import transcripts_from_documents
    from .text_analysis import mdhash_spark

    trip = extract_triples_df(
        transcripts_from_documents(spark, sf_dir), engine="arrow"
    )
    slot = F.pmod(mdhash_spark(F.col("conv_id")), F.lit(KG_INCR_MOD))
    fp = mdhash_spark(F.concat_ws("\x01", "pred", "obj"))
    t = trip.withColumn("slot", slot).withColumn("fp", fp)
    corpus = t.filter(F.col("slot") != KG_INCR_REM).select("fp").distinct()
    return (
        t.filter(F.col("slot") == KG_INCR_REM)
        .join(corpus, "fp", "left_anti")
        .select("subj", "pred", "obj", "conv_id")
    )


def kg_triples_incremental_sql(triples_sql: str) -> str:
    from .text_analysis import MDHASH_SQL

    fact_fp = MDHASH_SQL("concat_ws(chr(1), pred, obj)")
    conv_fp = MDHASH_SQL("conv_id")
    return f"""
WITH trip AS ({triples_sql}),
fps AS (
  SELECT *, {fact_fp} AS fp, {conv_fp} % {KG_INCR_MOD} AS slot FROM trip
)
SELECT subj, pred, obj, conv_id FROM fps b
WHERE slot = {KG_INCR_REM}
  AND NOT EXISTS (
    SELECT 1 FROM fps c WHERE c.slot <> {KG_INCR_REM} AND c.fp = b.fp
  )
"""
