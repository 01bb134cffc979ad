"""BENCHMARK.json lists exactly the metrics run.py prints, with their units."""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_per_layer_names_and_units_match_the_traced_run():
    listed = [(m["name"], m["unit"]) for m in spec()["per_layer"]]
    printed = [(n, run.UNITS.get(n.rsplit(".", 1)[-1], "count")) for n in run.layer_names()]
    assert listed == printed


def test_workloads_match_the_runner():
    assert tuple(w["name"] for w in spec()["workloads"]) == run.WORKLOADS


def test_end_to_end_names():
    assert [m["name"] for m in spec()["end_to_end"]] == ["setup_s", "wall_s", "leaf_geomean_s"]


def test_graph_tables_are_the_sf001_testdata_set():
    import pyarrow.parquet as pq

    from perfbench import gen, graph

    rows = {t: pq.ParquetFile(os.path.join(gen.TABLES_DIR, f"{t}.parquet")).metadata.num_rows
            for t in graph.TABLES}
    assert rows == {"region": 5, "nation": 25, "customer": 1500, "lineitem": 60000}
