"""End-to-end KG-construction plan — the flagship query.

transcripts -> (hash exchange on conv_id, sort within partitions) ->
(mapInArrow: vectorized mention detection + span typing, then the triple
fold per conversation), the Spark restatement of the reference's
single-process chain (``scripts/inference_kie.py:183-246``).

The exchange brings each conversation's turns into one partition and the
sort makes them contiguous, so one Python crossing can detect the mentions
of whole conversations and fold them into ``(subj, pred, obj, conv_id)``
(``operators/triples.fold_triples_batch``) without a JVM aggregation:
one shuffle of the turn payload, no per-mention shuffle, no
collect_list.  Arrow batches cut conversations at arbitrary rows, so the
pass holds back each batch's last conversation and prepends it to the next
batch.

engine='native' runs the pure-JVM detector and the groupBy fold
(``operators/triples.materialize_triples``) instead; the output is
identical (tested, including across shuffle-partition counts and Arrow
batch sizes).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from ..operators.mention_detect import detect_batch, detect_mentions_native
from ..operators.triples import TRIPLES_SCHEMA_DDL, fold_triples_batch, materialize_triples


def _whole_conversations(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Re-cut a conv_id-sorted stream of batches so that every conversation
    lies in exactly one output batch: the rows of each batch's last
    conversation are held back and prepended to the next batch.  A null
    conv_id sorts first, so a batch that ends in one holds nothing else."""
    carry = None
    for batch in batches:
        if carry is not None:
            batch = pa.RecordBatch.from_arrays(
                [pa.concat_arrays([c, b]) for c, b in zip(carry.columns, batch.columns)],
                schema=batch.schema,
            )
        if batch.num_rows == 0:
            continue
        conv = batch.column("conv_id")
        last = conv[-1]
        n_last = pc.sum(pc.equal(conv, last)).as_py() if last.is_valid else conv.null_count
        cut = batch.num_rows - n_last
        if cut:
            yield batch.slice(0, cut)
        carry = batch.slice(cut)
    if carry is not None:
        yield carry


def extract_triples_df(transcripts: DataFrame, engine: str = "arrow") -> DataFrame:
    """Conversation-level triples ``(subj, pred, obj, conv_id)`` from raw
    transcripts, with subj = conv_id and obj = the ' '-joined surfaces of one
    mention type in (turn_idx, pos, surface) order.

    engine='arrow' is one hash exchange plus one Arrow pass (the flagship);
    engine='native' is the pure-JVM detector plus the groupBy fold.
    """
    if engine != "arrow":
        return materialize_triples(detect_mentions_native(transcripts))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for turns in _whole_conversations(batches):
            yield from fold_triples_batch(detect_batch(turns)).to_batches()

    return (
        transcripts.select("conv_id", "turn_idx", "text")
        .repartition("conv_id")
        .sortWithinPartitions("conv_id")
        .mapInArrow(run, schema=TRIPLES_SCHEMA_DDL)
    )
