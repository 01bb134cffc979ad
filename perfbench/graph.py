"""graph_analytics: one pass over four headline graph leaves.

Each leaf is built and written to the `noop` sink with construction
inside the timing: the iterative operators run their checkpointed
rounds while the DataFrame is being built. The four leaves are one per
loop shape of the iterative graph layers (`traverse` frontier BFS and,
in `operators.graph_stats`, power iteration and peeling) plus one
one-shot join; the other seven headline graph leaves repeat those
shapes and are left out to fit the run budget. The leaves read
the sf0.01 testdata tables (`gen.TABLES_DIR`); the seed draws only the
leaf order of each pass. Every leaf's output is checked against its
`oracle_sql()` twin on DuckDB over the same files.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import random
import time

from . import gen
from .harness import geomean, median
from .tracing import job_group

LEAVES = (
    "graph_bfs_customers_in_region",  # traverse: frontier BFS
    "graph_pagerank_cosupply",  # graph_stats: power iteration
    "graph_kcore_cosupply",  # graph_stats: iterative peeling
    "graph_linkpred_cosupply",  # graph_stats: one-shot join
)
ITERATING = LEAVES[:3]
TABLES = ("region", "nation", "customer", "lineitem")


def layer_names() -> list[str]:
    names = [f"leaf.{n}.{f}" for n in LEAVES for f in ("wall_s", "jobs", "shuffle_bytes")]
    names += [f"leaf.{n}.rounds" for n in ITERATING]
    return names


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class GraphAnalytics:
    name = "graph_analytics"
    min_ops = 2

    def __init__(self, seed: int, root: str):
        self.data = gen.TABLES_DIR
        self.rng = random.Random(seed)
        self.oracle = None
        spec = importlib.util.spec_from_file_location(
            "validate_queries", os.path.join(root, "tools", "validate_queries.py"))
        self.validate = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.validate)

    # -- set-up -----------------------------------------------------------
    def generate(self, spark) -> None:
        pass  # fixed tables; nothing to generate

    def load(self, spark) -> None:
        pass  # the leaves read the table files themselves

    def _pass(self, spark, names, tracer=None) -> tuple[dict, dict]:
        from datacapsule_spark.queries import QUERIES

        walls, dfs = {}, {}
        for name in names:
            with tracer.span("leaf", name) if tracer else contextlib.nullcontext():
                t0 = time.perf_counter()
                dfs[name] = QUERIES[name](spark, self.data)
                _noop(dfs[name])
                walls[name] = time.perf_counter() - t0
        return walls, dfs

    def warmup(self, spark) -> None:
        """One untimed pass: the first call of each leaf compiles its
        plans, so a cold pass takes about twice as long as a warm one."""
        self._pass(spark, LEAVES)

    def rewarm(self, spark) -> None:
        self._pass(spark, LEAVES[:1])

    # -- one op -------------------------------------------------------------
    def op(self, spark, op_id: str, tracer=None) -> dict:
        order = self.rng.sample(LEAVES, len(LEAVES))
        with tracer.op(op_id) if tracer else contextlib.nullcontext():
            t0 = time.perf_counter()
            walls, dfs = self._pass(spark, order, tracer)
            wall = time.perf_counter() - t0
        return {"id": op_id, "wall": wall, "leaf_wall": walls, "dfs": dfs}

    def _oracles(self) -> dict:
        """Row count, column set and norm_hash of every leaf's oracle
        on DuckDB, computed once per run."""
        import duckdb

        from datacapsule_spark.queries import ORACLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        out = {}
        for name in LEAVES:
            odf = con.sql(ORACLES[name]).df()
            out[name] = (len(odf), sorted(c.lower() for c in odf.columns),
                         self.validate.norm_hash(odf))
        con.close()
        return out

    def check(self, spark, rec: dict) -> list[str]:
        if self.oracle is None:
            self.oracle = self._oracles()
        problems = []
        for name, df in rec.pop("dfs").items():
            sdf = df.toPandas()
            got = (len(sdf), sorted(c.lower() for c in sdf.columns), self.validate.norm_hash(sdf))
            if got != self.oracle[name]:
                problems.append(f"{name}: {got[:2]} != oracle {self.oracle[name][:2]}")
        return problems

    # -- metrics ------------------------------------------------------------
    def leaf_geomean_s(self, recs: list[dict]) -> float:
        return geomean(median(r["leaf_wall"][n] for r in recs) for n in LEAVES)

    def layers(self, traced: list[dict], untraced: list[dict], spans: list[dict], groups: dict) -> dict:
        per_op = [self._op_layers(r, spans, groups) for r in traced]
        return {name: median(m[name] for m in per_op) for name in per_op[0]}

    def _op_layers(self, rec: dict, spans: list[dict], groups: dict) -> dict:
        op = rec["id"]
        mine = [s for s in spans if s["op"] == op]
        by_id = {s["id"]: s for s in mine}
        leaf_of = {}  # span id -> enclosing leaf name
        for s in mine:
            p = s
            while p is not None and p["kind"] != "leaf":
                p = by_id.get(p["parent"])
            if p is not None:
                leaf_of[s["id"]] = p["name"]
        m = {}
        for name in LEAVES:
            g = groups.get(job_group(op, "leaf", name))
            m[f"leaf.{name}.wall_s"] = rec["leaf_wall"][name]
            m[f"leaf.{name}.jobs"] = g.jobs if g else 0
            m[f"leaf.{name}.shuffle_bytes"] = g.shuffle_write_bytes if g else 0
        for name in ITERATING:
            m[f"leaf.{name}.rounds"] = sum(
                1 for s in mine if s["kind"] == "checkpoint" and leaf_of.get(s["id"]) == name)
        return m
