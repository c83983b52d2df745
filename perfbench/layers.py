"""The traced layer pass: each layer's public function called on its own,
inside its own span, over persisted upstream outputs derived from the
workload's seeded keys.

- The detector and triples layers read the workload's whole input.
- The staged layers (checkpoints, entity linking, blocking, scorer,
  connected components, graph analytics) read the canon input size at most.
  On ``canon`` they reuse the traced operation's own build.
- The stream layers drain a backlog of at most ``STREAM_TURNS`` turns,
  staged as parquet files before the drain, through both streaming sinks;
  the drained outputs are checked against their batch equivalents.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

from kie_invoice_minimal_spark.operators import graph_analytics as GA
from kie_invoice_minimal_spark.operators.blocking import candidate_pairs_from_surfaces
from kie_invoice_minimal_spark.operators.connected_components import connected_components
from kie_invoice_minimal_spark.operators.gcn_scorer import accepted_edges, score_candidates
from kie_invoice_minimal_spark.operators.mention_detect import (
    MENTION_SCHEMA,
    detect_mentions_arrow,
    detect_mentions_native,
)
from kie_invoice_minimal_spark.operators.triples import materialize_triples
from kie_invoice_minimal_spark.plans.entity_linking import link_entities
from kie_invoice_minimal_spark.plans.pipeline import extract_triples_df
from kie_invoice_minimal_spark.streaming.stream_pipeline import (
    run_mentions_to_parquet,
    run_novel_facts_to_parquet,
)

import workloads as W
from digest import spark_digest

# read_transcript_stream takes 4 files per trigger: 4*m - 1 data files put
# the first watermark kicker into the last data batch and the second kicker
# into a batch of its own, which closes every data session.
STREAM_FILES = 11
STREAM_TURNS = STREAM_FILES * 1_000
KICK_TEXT = "thuong hieu VinaMilk"


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def util(sp: dict, cores: int) -> float:
    """Executor-run time over the span's wall times its cores."""
    return sp["spark"]["exec_run_ms"] / 1000.0 / ((sp["end"] - sp["start"]) * cores)


def run_layers(spark, tr, wl, work: str) -> tuple:
    """Run every layer once under ``tr``.  Returns the stream check's
    mismatches and a closure that reads the per-layer metrics once
    ``tr.collect()`` has resolved the Spark counters."""
    cores, lo, hi = wl.cores, wl.lo, wl.hi
    out: dict = {}

    with tr.span("transcripts.derive"):
        t = W.derive(spark, lo, hi, cores).persist()
        t.count()
    with tr.span("mention_detect.arrow"):
        m = detect_mentions_arrow(t).persist()
        out["mention_detect.mentions"] = m.count()
    with tr.span("mention_detect.native"):
        W.noop(detect_mentions_native(t))
    with tr.span("triples.materialize"):
        W.noop(materialize_triples(m))
    m.unpersist()
    t.unpersist()

    s_hi = min(hi, lo + W.CANON_TURNS)
    kg = getattr(wl, "kg", None)
    if kg is None:
        kg = W.build_kg(
            spark,
            os.path.join(work, "layers_kg"),
            lambda sp: W.derive(sp, lo, s_hi, cores),
            tr,
        )
        W.graph_ops(W.resolved_mentions(kg["done"]), os.path.join(work, "layers_graph"), tr)
    recs, done = kg["records"], kg["done"]
    for st in W.KG_STAGES:
        out[f"checkpoints.stage_s.{st}"] = kg["outside_s"][st]
    out["checkpoints.write_s"] = sum(recs[s]["wall_write_sec"] for s in W.KG_STAGES)
    out["checkpoints.verify_s"] = sum(recs[s]["wall_verify_sec"] for s in W.KG_STAGES)
    out["checkpoints.unattributed_s"] = sum(
        kg["outside_s"][s] - recs[s]["wall_sec"] for s in W.KG_STAGES
    )
    with tr.span("checkpoints.input_bytes"):
        text_bytes = (
            done["transcripts"].agg(F.sum(F.octet_length("text")).alias("b")).first()["b"]
        )
    out["checkpoints.bytes_per_input_byte"] = (
        sum(dir_bytes(os.path.join(kg["root"], s)) for s in W.KG_STAGES) / text_bytes
    )

    mentions = done["mentions"]
    with tr.span("entity_linking.link"):
        W.noop(link_entities(mentions))
    with tr.span("blocking.surfaces"):
        surf = (
            mentions.filter(F.col("mention_type") == "BRAND")
            .select("surface")
            .distinct()
            .localCheckpoint()
        )
    with tr.span("blocking.pairs"):
        pairs = candidate_pairs_from_surfaces(surf).persist()
        n_pairs = pairs.count()
    with tr.span("gcn_scorer.score"):
        scored = score_candidates(pairs).persist()
        scored.count()
        n_accepted = accepted_edges(scored).count()
    with tr.span("connected_components.input"):
        cc_in = accepted_edges(scored).select(
            F.xxhash64("surface_a").alias("u"), F.xxhash64("surface_b").alias("v")
        ).localCheckpoint()
    stats: dict = {}
    with tr.span("connected_components"):
        W.noop(connected_components(cc_in, stats=stats))
    pairs.unpersist()
    scored.unpersist()
    out["blocking.candidate_pairs"] = n_pairs
    out["gcn_scorer.accept_ratio"] = n_accepted / n_pairs
    out["connected_components.rounds"] = stats["rounds"]
    out["connected_components.input_edges"] = stats["input_edges"]
    out["connected_components.final_edges"] = stats["final_edges"]
    with tr.span("graph_analytics.edges"):
        out["graph_analytics.edges"] = GA.comention_edges(W.resolved_mentions(done)).count()

    st_hi = min(hi, lo + STREAM_TURNS)
    with tr.span("stream_pipeline.stage"):
        in_dir = stage_stream_files(spark, os.path.join(work, "layers_stream_in"), lo, st_hi)
    stream = drain_stream(spark, in_dir, os.path.join(work, "layers_stream"), tr)
    out.update(stream_metrics(stream, st_hi - lo))
    with tr.span("stream_pipeline.check"):
        mismatches = check_stream(spark, stream, lo, st_hi, cores)

    def resolve() -> dict:
        r = dict(out)
        arrow = tr.get("mention_detect.arrow")
        r["mention_detect.arrow_s"] = tr.seconds("mention_detect.arrow")
        r["mention_detect.arrow_exec_s"] = arrow["spark"]["exec_run_ms"] / 1000.0
        r["mention_detect.arrow_util"] = util(arrow, cores)
        r["mention_detect.native_s"] = tr.seconds("mention_detect.native")
        tri = tr.get("triples.materialize")
        r["triples.materialize_s"] = tr.seconds("triples.materialize")
        r["triples.shuffle_bytes"] = tri["spark"]["shuffle_bytes"]
        r["triples.spill_bytes"] = tri["spark"]["spill_bytes"]
        r["triples.stages"] = tri["spark"]["stages"]
        r["transcripts.derive_s"] = tr.seconds("transcripts.derive")
        r["checkpoints.build_s"] = tr.seconds("checkpoints.build")
        r["checkpoints.resume_s"] = tr.seconds("checkpoints.resume")
        r["entity_linking.link_s"] = tr.seconds("entity_linking.link")
        r["blocking.pairs_s"] = tr.seconds("blocking.pairs")
        r["gcn_scorer.score_s"] = tr.seconds("gcn_scorer.score")
        cc = tr.get("connected_components")
        r["connected_components.s"] = tr.seconds("connected_components")
        r["connected_components.jobs"] = cc["spark"]["jobs"]
        r["connected_components.stages"] = cc["spark"]["stages"]
        graph_s = 0.0
        for g in ("pagerank", "lpa", "kcore"):
            s = tr.seconds(f"graph_analytics.{g}")
            r[f"graph_analytics.{g}_s"] = s
            r[f"graph_analytics.{g}_stages"] = tr.get(f"graph_analytics.{g}")["spark"]["stages"]
            graph_s += s
        r["graph_analytics.graph_s"] = graph_s
        return r

    return mismatches, resolve


def stage_stream_files(spark, in_dir: str, lo: int, hi: int) -> str:
    """Write turns [lo, hi) as ``STREAM_FILES`` parquet files plus two
    one-row watermark kicker files, with modification times strictly
    increasing in key order: the file source takes files oldest first, and
    a file read after the watermark passed its turns would drop them as
    late."""
    shutil.rmtree(in_dir, ignore_errors=True)
    per_file = -(-(hi - lo) // STREAM_FILES)
    W.derive(spark, lo, hi, 1).write.option("maxRecordsPerFile", per_file).parquet(in_dir)
    files = sorted(
        os.path.join(in_dir, f) for f in os.listdir(in_dir) if f.endswith(".parquet")
    )
    if len(files) != STREAM_FILES:
        raise RuntimeError(f"staged {len(files)} stream files, expected {STREAM_FILES}")
    # far past every data turn's session end (30 min gap + 10 min watermark)
    kick_ts = F.expr(f"timestamp'2024-01-01 00:00:00' + {hi + 1440} * INTERVAL 1 MINUTE")
    for i in range(2):
        kdir = f"{in_dir}/kick{i}"
        spark.range(1).select(
            F.lit("conv-kick").alias("conv_id"),
            F.lit(i).cast("int").alias("turn_idx"),
            F.lit("user").alias("role"),
            F.lit(KICK_TEXT).alias("text"),
            F.lit(None).cast("string").alias("tool"),
            kick_ts.alias("ts"),
        ).coalesce(1).write.parquet(kdir)
        # the file source lists one directory level: move the kicker up
        (f,) = [f for f in os.listdir(kdir) if f.endswith(".parquet")]
        files.append(f"{in_dir}/kick{i}-{f}")
        os.rename(f"{kdir}/{f}", files[-1])
        shutil.rmtree(kdir)
    base = time.time() - len(files) - 10
    for i, f in enumerate(files):
        os.utime(f, (base + i, base + i))
    return in_dir


def drain_stream(spark, in_dir: str, work_dir: str, tr) -> dict:
    """Drain the staged backlog through the novel-fact sink, then through
    the mention sink; returns the output directories and progress."""
    out = {k: os.path.join(work_dir, k) for k in ("facts", "index", "mentions")}
    with tr.span("stream_pipeline.novel_facts") as sp:
        q = run_novel_facts_to_parquet(
            spark, in_dir, out["facts"], out["index"], os.path.join(work_dir, "ck_facts")
        )
        sp["extra_groups"].append(str(q.runId))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out["facts_progress"] = q.recentProgress
    with tr.span("stream_pipeline.mentions") as sp:
        q = run_mentions_to_parquet(
            spark, in_dir, out["mentions"], os.path.join(work_dir, "ck_mentions")
        )
        sp["extra_groups"].append(str(q.runId))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    out["mentions_s"] = tr.seconds("stream_pipeline.mentions")
    return out


def stream_metrics(stream: dict, turns: int) -> dict:
    progress = stream["facts_progress"]

    def median_ms(key: str) -> float:
        return statistics.median(p.durationMs.get(key, 0) for p in progress)

    batch_ms = [p.durationMs["triggerExecution"] for p in progress]
    state = [sum(op.numRowsTotal for op in p.stateOperators) for p in progress]
    return {
        "stream_pipeline.batches": len(batch_ms),
        "stream_pipeline.batch_p50_ms": statistics.median(batch_ms),
        "stream_pipeline.batch_p90_ms": statistics.quantiles(
            batch_ms, n=10, method="inclusive"
        )[-1],
        "stream_pipeline.add_batch_ms": median_ms("addBatch"),
        "stream_pipeline.query_planning_ms": median_ms("queryPlanning"),
        "stream_pipeline.wal_commit_ms": median_ms("walCommit"),
        "stream_pipeline.state_rows_max": max(state),
        "stream_pipeline.state_rows_final": state[-1],
        "stream_pipeline.index_epochs": sum(
            d.startswith("epoch=") for d in os.listdir(stream["index"])
        ),
        "stream_pipeline.mentions_rows_per_s": turns / stream["mentions_s"],
    }


def check_stream(spark, out: dict, lo: int, hi: int, cores: int) -> list[str]:
    """Stream equals batch: the emitted novel facts are exactly the distinct
    (pred, obj) facts of the batch triples, each emitted once, and the
    mention stream equals the batch detector's output (kicker turns
    included)."""
    turns = W.derive(spark, lo, hi, cores)
    facts = spark.read.parquet(out["facts"]).select("pred", "obj")
    batch_facts = extract_triples_df(turns, engine="arrow").select("pred", "obj").distinct()
    kick = spark.createDataFrame(
        [("conv-kick", i, KICK_TEXT) for i in range(2)],
        "conv_id string, turn_idx int, text string",
    )
    batch_mentions = detect_mentions_arrow(
        turns.select("conv_id", "turn_idx", "text").unionByName(kick)
    )
    cols = [f.name for f in MENTION_SCHEMA.fields]
    pairs = [
        ("novel facts", spark_digest(facts), spark_digest(batch_facts)),
        (
            "mention stream",
            spark_digest(spark.read.parquet(out["mentions"]).select(*cols)),
            spark_digest(batch_mentions.select(*cols)),
        ),
    ]
    return [f"{what}: stream {got} != batch {want}" for what, got, want in pairs if got != want]
