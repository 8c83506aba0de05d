"""Fast tests of the benchmark itself (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import tables  # noqa: E402
from metrics import LAYERS, QUERY_KEYS  # noqa: E402
from spans import Tracer, self_times  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    b = _benchmark_json()
    assert [m["name"] for m in b["per_layer"]] == list(LAYERS)
    assert len(QUERY_KEYS) == 21 and len(set(QUERY_KEYS)) == 21
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"] + b["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names), [n for n in names if not NAME.fullmatch(n)]
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert all(0 < v <= 0.25 for v in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_query_keys_are_registered_with_an_oracle(tmp_path, monkeypatch):
    # importing the query modules writes a scratch grid
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    from raster2points_spark.registry import load_all

    specs = load_all()
    assert all(specs[k].oracle for k in QUERY_KEYS)


def test_workloads_match_benchmark_json():
    from workloads import WORKLOADS

    assert [w["name"] for w in _benchmark_json()["workloads"]] == list(WORKLOADS)


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    def digests(root, seed):
        files = gen.inputs(str(root), seed, 64)
        return {k: hashlib.sha256(Path(p).read_bytes()).hexdigest() for k, p in files.items()}

    a = digests(tmp_path / "a", 7)
    assert a == digests(tmp_path / "b", 7)
    other = digests(tmp_path / "c", 8)
    assert all(a[k] != other[k] for k in a)
    assert (gen.side_array(7) == gen.side_array(7)).all()
    assert not (gen.side_array(7) == gen.side_array(8)).all()


def test_same_seed_same_corpus_other_seed_other_corpus(tmp_path):
    def digests(root, seed):
        d = Path(tables.corpus(str(root), seed))
        return {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in d.glob("*.parquet")}

    a = digests(tmp_path / "a", 7)
    assert len(a) == 10 and a == digests(tmp_path / "b", 7)
    other = digests(tmp_path / "c", 8)
    # region and nation are fixed dimension tables
    assert {k for k in a if a[k] == other[k]} == {"region.parquet", "nation.parquet"}


def test_generated_arrays_have_the_documented_shape():
    a = gen.arrays(3, 256)
    valid = (a["loss"] != 0).mean()
    assert 0.25 < valid < 0.42
    assert a["loss"].max() <= 23
    assert a["tcd"].max() <= 100
    assert 0.03 < (a["agb"] == gen.AGB_NODATA).mean() < 0.07


def _span(sid, parent, t0, t1):
    return {"id": sid, "parent": parent, "name": f"s{sid}", "t0": t0, "t1": t1}


def test_self_time_subtracts_the_union_of_child_time():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps span 1: counted once
        _span(3, 0, 8.0, 12.0),  # runs past its parent: clipped
        _span(4, 1, 1.5, 2.0),  # grandchild: only span 1 loses it
        _span(5, None, 20.0, 21.0),
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert got[1] == pytest.approx(1.5)
    assert got[2] == pytest.approx(3.0)
    assert got[3] == pytest.approx(4.0)
    assert got[4] == pytest.approx(0.5)
    assert got[5] == pytest.approx(1.0)


def test_tracer_links_nested_spans():
    tr = Tracer()
    with tr.span("op"):
        with tr.span("child"):
            pass
        with tr.span("child"):
            pass
    with tr.span("next"):
        pass
    assert [s["parent"] for s in tr.spans] == [None, 0, 0, None]
    selfs = self_times(tr.spans)
    assert 0 <= selfs[0] <= tr.spans[0]["t1"] - tr.spans[0]["t0"]


def test_run_refuses_a_tree_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tif2csv", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert r.returncode != 0
    assert r.stdout.strip() == ""


def test_csv_check_reads_header_only_parts_and_flags_mispaired_values(tmp_path):
    import numpy as np

    from workloads import Tif2Csv, _sums

    rows = [(110.1, 0.4, 3, 50, None, 900.5), (110.2, 0.3, 4, 60, 12.5, 900.25),
            (110.3, 0.2, 5, 70, 7.25, 900.0)]

    def write(rows):
        header = "lon,lat,val1,val2,val3,area\n"
        body = "".join(",".join("" if v is None else str(v) for v in r) + "\n" for r in rows)
        (tmp_path / "part-00000.csv").write_text(header + body)
        (tmp_path / "part-00001.csv").write_text(header)

    cols = np.array([[np.nan if v is None else v for v in r] for r in rows]).T
    exp = {"points": 3, "sums": _sums(*cols, ~np.isnan(cols[4])), "val3_nulls": 1,
           "box": (110.1, 110.3, 0.2, 0.4)}
    write(rows)
    assert Tif2Csv.check(exp, str(tmp_path))[0] == []
    # val2 of the last two rows swapped: every column sum still matches
    swapped = [rows[0], rows[1][:3] + rows[2][3:4] + rows[1][4:],
               rows[2][:3] + rows[1][3:4] + rows[2][4:]]
    write(swapped)
    problems = Tif2Csv.check(exp, str(tmp_path))[0]
    assert problems and all(p.startswith("sum(") and "*" in p for p in problems)
    assert Tif2Csv.check({**exp, "points": 4}, str(tmp_path))[0][0] == "points 3 != 4"
