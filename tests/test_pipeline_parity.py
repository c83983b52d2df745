"""The P/R >= 0.95 gate: Spark triples vs the single-process oracle
(BASELINE.md row 1), plus determinism and merge invariants."""

from __future__ import annotations

from kie_invoice_minimal_spark.operators.turn_order import merge_conversation_text
from kie_invoice_minimal_spark.oracle import extract_triples, precision_recall
from kie_invoice_minimal_spark.plans.pipeline import extract_triples_df
from kie_invoice_minimal_spark.sources.transcripts import synth_transcripts

N_TURNS = 2000  # ~400 conversations — parity scale per FIXTURES.md §1


def _golden(spark, n):
    t = synth_transcripts(spark, n)
    turns = [(r.conv_id, r.turn_idx, r.text) for r in t.collect()]
    return {(s, p, o) for (s, p, o, _) in extract_triples(turns)}


def test_precision_recall_gate(spark):
    t = synth_transcripts(spark, N_TURNS)
    got = {
        (r.subj, r.pred, r.obj) for r in extract_triples_df(t, engine="arrow").collect()
    }
    golden = _golden(spark, N_TURNS)
    p, r = precision_recall(got, golden)
    assert p >= 0.95 and r >= 0.95, (p, r)
    # we aim for exact match, not just the gate
    assert p == 1.0 and r == 1.0


def test_engines_agree(spark):
    t = synth_transcripts(spark, 600)
    a = sorted(map(tuple, extract_triples_df(t, "arrow").collect()))
    n = sorted(map(tuple, extract_triples_df(t, "native").collect()))
    assert a == n


def test_determinism(spark):
    t = synth_transcripts(spark, 700)
    one = sorted(map(tuple, extract_triples_df(t).collect()))
    two = sorted(map(tuple, extract_triples_df(t).collect()))
    assert one == two


def test_merge_conversation_text(spark):
    t = synth_transcripts(spark, 100)
    merged = {r.conv_id: (r.conv_text, r.n_turns) for r in merge_conversation_text(t).collect()}
    rows = sorted(
        ((r.conv_id, r.turn_idx, r.text) for r in t.collect()),
    )
    by_conv: dict[str, list[str]] = {}
    for conv_id, _, text in rows:
        by_conv.setdefault(conv_id, []).append(text)
    assert merged == {
        c: (" ".join(txts), len(txts)) for c, txts in by_conv.items()
    }


def test_salt_spreads_hot_subject(spark):
    """Skew handling: a hot subject's triples spread across several salt
    buckets so no single write task owns the whole partition."""
    from kie_invoice_minimal_spark.operators.triples import with_partition_keys

    rows = [("hot-brand", "BRAND", f"obj-{i}", f"conv-{i}") for i in range(200)]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string, conv_id string")
    keyed = with_partition_keys(t)
    salts = keyed.select("salt").distinct().count()
    buckets = keyed.select("subj_bucket").distinct().count()
    assert buckets == 1  # one subject -> one bucket
    assert salts > 1  # ...but many salts within it


def test_triple_write_partition_pruning(spark, tmp_path):
    """The (pred, subj_bucket) layout prunes at read time: a pred filter
    touches only that predicate's files."""
    from pyspark.sql import functions as F

    from kie_invoice_minimal_spark.operators.triples import write_triples
    from kie_invoice_minimal_spark.plans.pipeline import extract_triples_df
    from kie_invoice_minimal_spark.sources.transcripts import synth_transcripts

    out = str(tmp_path / "triples")
    write_triples(extract_triples_df(synth_transcripts(spark, 300)), out)
    back = spark.read.parquet(out).filter(F.col("pred") == "BRAND")
    files = {
        r.f for r in back.select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert files and all("pred=BRAND" in f for f in files)
    # pushdown visible in the plan: partition filter, not a post-scan filter
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "pred=BRAND" in str(files)


def test_golden_file_triples(spark):
    """Frozen golden triples (committed file): guards against the pipeline
    AND the oracle drifting together across refactors."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "golden_triples_100.json")
    with open(path) as f:
        golden = {tuple(x) for x in json.load(f)}
    got = {
        (r.subj, r.pred, r.obj)
        for r in extract_triples_df(synth_transcripts(spark, 100)).collect()
    }
    assert got == golden


def test_flagship_invariant_to_partitions_and_batch_size(spark):
    """The Arrow flagship folds whole conversations per batch, so its output
    must not depend on how the exchange and the Arrow batches cut the input.
    It equals the native detector + groupBy fold over every
    shuffle-partition count x Arrow batch size, on input with a conversation
    longer than every batch, turns given out of order, and null conv_id,
    text and turn_idx."""
    from collections import Counter

    from kie_invoice_minimal_spark.operators.mention_detect import detect_mentions_native
    from kie_invoice_minimal_spark.operators.triples import materialize_triples

    # "~long" sorts after every synthetic conv_id, so with one shuffle
    # partition its turns cover row 10000 and cross the batch boundary at
    # both batch sizes
    n_long = 1500
    long_turns = [
        ("~long", (i * 7919) % n_long, f"VinaMilk NSX: {1 + i % 12}/2023 nang {i}g")
        for i in range(n_long)
    ]
    odd = [
        (None, 0, "VinaMilk 500g"),
        (None, 1, "Nestlé HSD 2/12/2025"),
        ("c-null-text", 0, None),
        ("c-null-text", 1, "VinaMilk Sữa-Tươi"),
        ("c-null-turn", None, "VinaMilk HSD 2/12/2025"),
        ("c-null-turn", 0, "Nestlé VinaMilk"),
        ("c-null-turn", None, "Sữa-Tươi Nestlé"),
    ]
    extra = spark.createDataFrame(
        long_turns + odd, "conv_id string, turn_idx int, text string"
    )
    t = (
        synth_transcripts(spark, 9000)
        .select("conv_id", "turn_idx", "text")
        .unionByName(extra)
        .persist()
    )
    want = Counter(map(tuple, materialize_triples(detect_mentions_native(t)).collect()))
    assert any(subj is None for subj, *_ in want)
    assert ("~long", "BRAND", " ".join(["VinaMilk"] * n_long), "~long") in want

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.adaptive.coalescePartitions.enabled",
    )
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        # no coalescing: the partition count under test is the one that runs
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        for parts in (1, 7, 32):
            for batch in (257, 10000):
                spark.conf.set("spark.sql.shuffle.partitions", str(parts))
                spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch))
                got = Counter(map(tuple, extract_triples_df(t, "arrow").collect()))
                assert got == want, (parts, batch)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        t.unpersist()
