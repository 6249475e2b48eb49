"""The benchmark's own tests: seeded inputs, planted counts, span
arithmetic and the BENCHMARK.json contract.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pytest

from perfbench import intake_gen
from perfbench.trace import Span, self_times
from perfbench.workloads import KEY_MODULE, REJECT_SLUG, WORKLOADS

from .conftest import ROOT


def _write(path, seed, n=5_000, fresh=intake_gen.ID_BASE, pool=None):
    return intake_gen.write_intake_csv(str(path), np.random.default_rng(seed), n, fresh, pool)


def test_same_seed_same_bytes_and_counts(tmp_path):
    a = _write(tmp_path / "a.csv", 7, pool=np.arange(10, 2_000))
    b = _write(tmp_path / "b.csv", 7, pool=np.arange(10, 2_000))
    c = _write(tmp_path / "c.csv", 8, pool=np.arange(10, 2_000))
    assert (tmp_path / "a.csv").read_bytes() == (tmp_path / "b.csv").read_bytes()
    assert (a.rows, a.inserted, a.error_counts) == (b.rows, b.inserted, b.error_counts)
    assert np.array_equal(a.inserted_ids, b.inserted_ids)
    assert (tmp_path / "a.csv").read_bytes() != (tmp_path / "c.csv").read_bytes()


def test_every_reject_category_is_planted(tmp_path):
    p = _write(tmp_path / "a.csv", 3, pool=np.arange(10, 2_000))
    assert set(p.error_counts) == set(intake_gen.ERROR_LABELS)
    assert p.inserted + sum(p.error_counts.values()) == p.rows
    text = (tmp_path / "a.csv").read_text()
    assert text.startswith(intake_gen.HEADER + "\n")
    assert '",' in text  # quoted fields holding a comma
    assert len(text.splitlines()) == p.rows + 1


def test_planted_counts_equal_run_upload(spark, tmp_path):
    from streamforge_data_pipeline_spark.plans.ingest import run_upload
    from streamforge_data_pipeline_spark.sources.store import TableStore

    from perfbench.workloads import items_rows

    store = TableStore(str(tmp_path / "store"))
    p = _write(tmp_path / "u0.csv", 11)
    res = run_upload(spark, str(tmp_path / "u0.csv"), store)
    assert p.matches(res), (p, res)
    assert items_rows(store) == p.inserted


@pytest.mark.xfail(
    strict=True,
    reason="run_upload counts errors after its append to items; Spark then "
    "re-reads the grown table, so every row of an upload into a non-empty "
    "store is counted as a duplicate (the rows it inserts are right)",
)
def test_planted_counts_equal_run_upload_into_grown_store(spark, tmp_path):
    from streamforge_data_pipeline_spark.plans.ingest import run_upload
    from streamforge_data_pipeline_spark.sources.store import TableStore

    from perfbench.workloads import items_rows

    store = TableStore(str(tmp_path / "store"))
    first = _write(tmp_path / "u0.csv", 12)
    run_upload(spark, str(tmp_path / "u0.csv"), store)
    second = _write(tmp_path / "u1.csv", 13, fresh=first.next_fresh_id, pool=first.inserted_ids)
    res = run_upload(spark, str(tmp_path / "u1.csv"), store)
    assert items_rows(store) == first.inserted + second.inserted
    assert second.matches(res), (second, res)


def _span(i, parent, start, end):
    return Span(i, parent, f"s{i}", 1, start, end)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 5.0),  # overlaps its sibling: counted once
        _span(4, 1, 8.0, 12.0),  # runs past its parent: clipped
        _span(5, 2, 1.5, 2.0),  # grandchild: only its parent subtracts it
    ]
    got = self_times(spans)
    assert got[1] == pytest.approx(10.0 - 4.0 - 2.0)
    assert got[2] == pytest.approx(3.0 - 0.5)
    assert got[3] == pytest.approx(2.0)
    assert got[4] == pytest.approx(4.0)
    assert got[5] == pytest.approx(0.5)


def test_self_times_of_a_sequential_composition_add_up_to_its_root():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 0.5, 3.0),
        _span(3, 1, 3.0, 7.5),
        _span(4, 3, 4.0, 5.0),
        _span(5, 1, 8.0, 9.0),
    ]
    assert sum(self_times(spans).values()) == pytest.approx(10.0)


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_follows_the_contract():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["command"][:2] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and NAME.match(w["name"])
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
        assert w["name"] in WORKLOADS
    names = [w["name"] for w in spec["workloads"]]
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
        names.append(m["name"])
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        names.append(m["name"])
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
        assert m["better"] in ("lower", "higher")
    assert len(names) == len(set(names))
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert 1 <= len(spec["per_layer"]) <= 128
    assert len(json.dumps(spec)) <= 64 * 1024


def test_per_layer_lists_every_key_and_reject_metric():
    layer = {m["name"] for m in _spec()["per_layer"]}
    for key, module in KEY_MODULE.items():
        assert f"{module}.{key}_s" in layer and f"{module}.{key}.jobs" in layer
    for slug in REJECT_SLUG.values():
        assert f"operators.validate.rejected.{slug}" in layer


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "upload", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0
    assert r.stdout.strip() == ""
