"""The benchmark's workloads.  Each one is a closed loop with one client:
the next operation starts only after the previous one has finished.

Every input is derived from a seeded range of bigint turn keys
(``sources.transcripts.derive_transcripts``), so the DuckDB twins in
``functions/duckdb_oracle.py`` and ``graph_analytics.*_sql`` rebuild the
same rows from the key range alone.  A workload offers:

- ``twins(lo, hi)``: the DuckDB twin of each checked output;
- ``stage()``: build the inputs (untimed, repeated for ``setup_s``);
- ``op(work_dir, tracer)``: one timed operation, returning its wall time;
- ``outputs()``: the last operation's checked outputs, by twin name.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from kie_invoice_minimal_spark.functions import duckdb_oracle as oracle
from kie_invoice_minimal_spark.operators import graph_analytics as GA
from kie_invoice_minimal_spark.plans.entity_linking import entity_resolved_mentions
from kie_invoice_minimal_spark.plans.pipeline import extract_triples_df
from kie_invoice_minimal_spark.sources.checkpoints import kg_pipeline
from kie_invoice_minimal_spark.sources.transcripts import derive_transcripts

# Each seed owns a disjoint block of turn keys.  The modulus keeps every
# derived timestamp (2024-01-01 + k minutes) below year 9999.
KEY_BLOCK = 10**7
SEED_BLOCKS = 400

EXTRACT_TURNS = 300_000
CANON_TURNS = 10_000
KG_STAGES = ("transcripts", "mentions", "entity_map", "triples")


def key_range(seed: int, n: int) -> tuple[int, int]:
    lo = (seed % SEED_BLOCKS) * KEY_BLOCK
    return lo, lo + n


def keys_sql(lo: int, hi: int) -> str:
    return f"SELECT range AS k FROM range({lo}, {hi})"


def derive(spark, lo: int, hi: int, parts: int):
    return derive_transcripts(spark.range(lo, hi, 1, parts).withColumnRenamed("id", "k"))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def build_kg(spark, root: str, provider, tracer) -> dict:
    """kg_pipeline build into a fresh root, then a resume over it.  Each
    stage is also timed from outside: from the previous stage's end (or the
    build's start) to the end of its snapshot write and verify."""
    pipe = kg_pipeline(spark, root, provider)
    ends: dict[str, float] = {}
    write_stage = pipe._write_stage

    def timed_write(name, df):
        back = write_stage(name, df)
        ends[name] = time.time()
        return back

    pipe._write_stage = timed_write
    start = time.time()
    with tracer.span("checkpoints.build"):
        pipe.run(resume=False)
    with tracer.span("checkpoints.resume"):
        done = pipe.run(resume=True)
    outside, prev = {}, start
    for st in KG_STAGES:
        outside[st], prev = ends[st] - prev, ends[st]
    return {
        "root": root,
        "done": done,
        "outside_s": outside,
        "records": {r["stage"]: r for r in pipe.metrics()},
    }


def resolved_mentions(done: dict):
    """Alias-resolved mentions from kg_pipeline snapshots: BRAND surfaces
    rewritten to their canonical surface (canonical_mentions_sql's twin)."""
    m = done["mentions"].drop("mention_id")
    em = done["entity_map"].select("surface", "canonical_surface")
    return (
        entity_resolved_mentions(m, em)
        .withColumn("surface", F.coalesce("canonical_surface", "surface"))
        .drop("canonical_surface")
    )


def graph_ops(res, out: str, tracer) -> None:
    """PageRank, label propagation over lift-pruned edges, and the k-core
    peel over the alias-resolved co-mention graph, each written to ``out``."""
    with tracer.span("graph_analytics.pagerank"):
        GA.pagerank(GA.comention_edges(res)).write.parquet(f"{out}/pagerank")
    with tracer.span("graph_analytics.lpa"):
        pruned = GA.lifted_edges(res).filter(F.col("lift_ppm") >= GA.LPA_PRUNE_PPM)
        GA.label_propagation(pruned).select(
            F.col("node").alias("surface"), F.col("label").alias("community")
        ).write.parquet(f"{out}/lpa")
    with tracer.span("graph_analytics.kcore"):
        GA.kcore_peel(GA.comention_edges(res)).write.parquet(f"{out}/kcore")


class Workload:
    name = ""
    turns = 0
    # untimed warm-up operations: the first operation in a session pays class
    # loading, code generation and Python worker start-up
    warm_ops = 1
    # timed operations in every run, however long they take
    min_ops = 1

    def __init__(self, spark, seed: int, cores: int):
        self.spark, self.cores = spark, cores
        self.lo, self.hi = key_range(seed, self.turns)


class Extract(Workload):
    """The flagship path, extract_triples_df(engine="arrow"), over turns
    persisted in memory; results go to the noop sink."""

    name = "extract"
    turns = EXTRACT_TURNS

    @staticmethod
    def twins(lo: int, hi: int) -> dict[str, str]:
        return {"triples": oracle.triples_sql(keys_sql(lo, hi))}

    def stage(self) -> None:
        if getattr(self, "t", None) is not None:
            self.t.unpersist(blocking=True)
        self.t = derive(self.spark, self.lo, self.hi, self.cores).persist()
        self.t.count()

    def op(self, work_dir: str, tracer) -> float:
        t0 = time.perf_counter()
        with tracer.span("plans.pipeline.extract_triples"):
            noop(extract_triples_df(self.t, engine="arrow"))
        return time.perf_counter() - t0

    def outputs(self) -> dict:
        return {"triples": extract_triples_df(self.t, engine="arrow")}


class Canon(Workload):
    """kg_pipeline build into a fresh root and a resume over it, then
    PageRank, label propagation and k-core over the alias-resolved
    co-mention graph, written to the operation's own directory."""

    name = "canon"
    turns = CANON_TURNS
    # the first operation after the warm-up can still run up to 3 s slower
    # than the next, so every run times two: a run that timed one would not
    # compare with one that timed two
    min_ops = 2

    @staticmethod
    def twins(lo: int, hi: int) -> dict[str, str]:
        keys = keys_sql(lo, hi)
        canon_m = oracle.canonical_mentions_sql(keys)
        return {
            "kg_pipeline triples": (
                f"SELECT subj, pred, obj, conv_id FROM ({oracle.triples_sql(keys)})"
                " UNION ALL SELECT subj, pred, obj, CAST(NULL AS VARCHAR) AS conv_id"
                f" FROM ({oracle.alias_triples_sql(keys)})"
            ),
            "pagerank": GA.pagerank_sql(canon_m),
            "label propagation": GA.communities_sql(canon_m),
            "k-core": GA.kcore_sql(canon_m),
        }

    def provider(self, sp):
        return derive(sp, self.lo, self.hi, self.cores)

    def stage(self) -> None:
        """Nothing to stage: the pipeline's provider derives the turns."""

    def op(self, work_dir: str, tracer) -> float:
        t0 = time.perf_counter()
        self.kg = build_kg(self.spark, os.path.join(work_dir, "kg"), self.provider, tracer)
        self.graph_dir = os.path.join(work_dir, "graph")
        graph_ops(resolved_mentions(self.kg["done"]), self.graph_dir, tracer)
        return time.perf_counter() - t0

    def outputs(self) -> dict:
        read = self.spark.read.parquet
        return {
            "kg_pipeline triples": self.kg["done"]["triples"],
            "pagerank": read(f"{self.graph_dir}/pagerank"),
            "label propagation": read(f"{self.graph_dir}/lpa"),
            "k-core": read(f"{self.graph_dir}/kcore"),
        }


WORKLOADS = {w.name: w for w in (Extract, Canon)}
