"""kg_build: the KG-construction pipeline over a seeded synthetic corpus.

One op is `pipeline.run_pipeline(use_lsh=True)` (the CLI default) into
an empty work dir: extract → link → canonicalize → canonical edges →
nodes + relational tables, every stage a StageTracker boundary.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time

from . import gen
from .eventlog import PY_RUN_MS, PY_SENT_BYTES, total
from .harness import dir_bytes, geomean, median, nproc
from .tracing import duration, job_group, self_seconds, union_seconds

N_FILES = 1000

# stage boundaries run_pipeline writes; the four 70_rel_* tables are
# reported as one stage, 70_rel (the union of their spans)
STAGES = ("10_extract", "20_link", "30_canonicalize", "40_canon_edges", "50_nodes")
REL_STAGES = ("70_rel_entities", "70_rel_entity_mentions",
              "70_rel_numerical_facts", "70_rel_descriptions")
LAYER_STAGES = STAGES + ("70_rel",)
STAGE_FIELDS = ("wall_s", "rows_out", "bytes_written", "jobs", "shuffle_bytes")
SKEW_STAGES = ("10_extract", "40_canon_edges")


def layer_names() -> list[str]:
    names = [f"stage.{s}.{f}" for s in LAYER_STAGES for f in STAGE_FIELDS]
    names += [f"stage.{s}.task_skew" for s in SKEW_STAGES]
    names += ["extract.python_worker_s", "extract.python_bytes_sent",
              "pipeline.tail_overlap", "pipeline.uncovered_s",
              "materialize.dedup_ratio", "triples_per_s", "bytes_per_input_byte"]
    return names


def _stage_members(stage: str) -> tuple[str, ...]:
    return REL_STAGES if stage == "70_rel" else (stage,)


class KgBuild:
    name = "kg_build"
    min_ops = 2

    def __init__(self, work: str, seed: int):
        self.inputs = os.path.join(work, "inputs")
        self.out_dir = os.path.join(work, "kg")
        self.seed = seed
        self.checksum = None  # reference: the warm-up op's canonical triples

    # -- set-up -----------------------------------------------------------
    def generate(self, spark) -> None:
        self.corpus = gen.write_corpus(spark, self.inputs, self.seed, N_FILES, 2 * nproc())

    def load(self, spark) -> None:
        self.repos = spark.read.parquet(self.corpus)
        self.input_bytes = dir_bytes(self.corpus)

    def warmup(self, spark) -> None:
        rec = self.op(spark, "warmup")
        problems = self.check(spark, rec)
        if problems:
            raise RuntimeError(f"warm-up op failed its checks: {problems}")

    def rewarm(self, spark) -> None:
        """Start the new context's Python workers before traced ops."""
        from datacapsule_spark.extract import extract_triples

        extract_triples(self.repos.limit(100)).write.format("noop").mode("overwrite").save()

    # -- one op -------------------------------------------------------------
    def op(self, spark, op_id: str, tracer=None) -> dict:
        from datacapsule_spark.pipeline import run_pipeline

        shutil.rmtree(self.out_dir, ignore_errors=True)
        with tracer.op(op_id) if tracer else contextlib.nullcontext():
            t0 = time.perf_counter()
            out = run_pipeline(spark, self.repos, self.out_dir, use_lsh=True)
            wall = time.perf_counter() - t0
        return {"id": op_id, "wall": wall, "out": out}

    def _boundaries(self, rec: dict) -> None:
        """Per-stage wall (StageTracker's own marker) and rows (its
        footer-derived lineage rows) plus the work dir's size."""
        rec["stage_wall"], rec["rows"] = {}, {}
        for stage in STAGES + REL_STAGES:
            d = os.path.join(self.out_dir, f"stage_{stage}")
            with open(os.path.join(d, "_STAGE_DONE")) as f:
                rec["stage_wall"][stage] = json.load(f)["wall_ms"] / 1000.0
            with open(os.path.join(d, "lineage.jsonl")) as f:
                rec["rows"][stage] = sum(json.loads(line)["output_rows"] for line in f)
        rec["bytes"] = dir_bytes(self.out_dir)
        rec["triples"] = rec["rows"]["40_canon_edges"]

    def check(self, spark, rec: dict) -> list[str]:
        from pyspark.sql import functions as F

        out = rec.pop("out")
        self._boundaries(rec)
        edges, nodes = out["edges"], out["nodes"]
        cmap, triples = out["canonical_map"], out["triples"]
        problems = []
        dup = (edges.groupBy("src", "relation", "dst").count()
               .where("count > 1").limit(1).count())
        if dup:
            problems.append("edges not distinct on (src, relation, dst)")
        ends = edges.select(F.col("src").alias("id")).union(edges.select(F.col("dst").alias("id")))
        dangling = ends.join(nodes.select(F.col("node_id").alias("id")), "id", "left_anti").limit(1).count()
        if dangling:
            problems.append("edge endpoint missing from nodes")
        m1, m2 = cmap.alias("m1"), cmap.alias("m2")
        not_idem = (m1.join(m2, F.col("m1.canonical_id") == F.col("m2.node_id"))
                    .where(F.col("m2.canonical_id") != F.col("m2.node_id")).limit(1).count())
        if not_idem:
            problems.append("canonical map not idempotent")
        cols = sorted(triples.columns)
        row = triples.select(
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
            F.count("*").alias("n"),
        ).collect()[0]
        checksum = (str(row["h"]), row["n"])
        if self.checksum is None:
            self.checksum = checksum
        elif checksum != self.checksum:
            problems.append(f"canonical triples checksum {checksum} != {self.checksum}")
        if row["n"] != rec["triples"]:
            problems.append("canonical triple count differs from the boundary footers")
        return problems

    # -- metrics ------------------------------------------------------------
    def leaf_geomean_s(self, recs: list[dict]) -> float:
        """Geometric mean over the pipeline stages of each stage's
        median wall, as StageTracker records it."""
        return geomean(median(r["stage_wall"][s] for r in recs) for s in STAGES + REL_STAGES)

    def layers(self, traced: list[dict], untraced: list[dict], spans: list[dict], groups: dict) -> dict:
        per_op = [self._op_layers(r, spans, groups) for r in traced]
        out = {name: median(m[name] for m in per_op) for name in per_op[0]}
        out["triples_per_s"] = median(r["triples"] / r["wall"] for r in untraced)
        out["bytes_per_input_byte"] = median(r["bytes"] / self.input_bytes for r in untraced)
        return out

    def _op_layers(self, rec: dict, spans: list[dict], groups: dict) -> dict:
        op = rec["id"]
        mine = [s for s in spans if s["op"] == op]
        op_span = next(s for s in mine if s["kind"] == "op")
        stage_spans = {s["name"]: s for s in mine if s["kind"] == "stage"}
        m = {}
        for stage in LAYER_STAGES:
            members = _stage_members(stage)
            g = total(groups, [job_group(op, "stage", s) for s in members])
            m[f"stage.{stage}.wall_s"] = union_seconds(
                (stage_spans[s]["start"], stage_spans[s]["end"]) for s in members)
            m[f"stage.{stage}.rows_out"] = sum(rec["rows"][s] for s in members)
            m[f"stage.{stage}.bytes_written"] = g.output_bytes
            m[f"stage.{stage}.jobs"] = g.jobs
            m[f"stage.{stage}.shuffle_bytes"] = g.shuffle_write_bytes
            if stage in SKEW_STAGES:
                m[f"stage.{stage}.task_skew"] = g.task_skew()
        extract = total(groups, [job_group(op, "stage", "10_extract")])
        m["extract.python_worker_s"] = extract.sql_metrics.get(PY_RUN_MS, 0) / 1000.0
        m["extract.python_bytes_sent"] = extract.sql_metrics.get(PY_SENT_BYTES, 0)
        tail = [stage_spans[s] for s in ("50_nodes",) + REL_STAGES]
        m["pipeline.tail_overlap"] = sum(map(duration, tail)) / union_seconds(
            (s["start"], s["end"]) for s in tail)
        m["pipeline.uncovered_s"] = self_seconds(op_span, mine)
        m["materialize.dedup_ratio"] = rec["rows"]["40_canon_edges"] / rec["rows"]["10_extract"]
        return m
