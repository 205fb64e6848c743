"""Tests of the benchmark itself: input determinism, metric names, the
percentile and self-time arithmetic, the compare verdicts, and a tiny
smoke run of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import compare  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from spans import Span, self_times  # noqa: E402

TINY = gen.SIZES["tiny"]
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _digests(folder):
    out = {}
    for dirpath, _, files in os.walk(folder):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, folder)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _write_all(seed, folder):
    gen.analyst_tables(seed, TINY, os.path.join(folder, "analyst"))
    files = gen.ingest_folder(seed, TINY, os.path.join(folder, "ingest"))
    gen.corpus_base(seed, TINY, os.path.join(folder, "corpus"))
    return files


# --- generator ------------------------------------------------------------------


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _write_all(7, tmp_path / "a")
    b = _write_all(7, tmp_path / "b")
    da, db = _digests(tmp_path / "a"), _digests(tmp_path / "b")
    assert da and da == db
    assert [os.path.basename(f.path) for f in a] == [os.path.basename(f.path) for f in b]
    assert [f.schema for f in a] == [f.schema for f in b]


def test_other_seed_gives_other_inputs(tmp_path):
    _write_all(7, tmp_path / "a")
    _write_all(8, tmp_path / "b")
    da, db = _digests(tmp_path / "a"), _digests(tmp_path / "b")
    assert da.keys() == db.keys()
    assert da != db


def test_same_seed_gives_same_op_sequence():
    def analyst(seed):
        it = gen.iter_analyst_rounds(seed, TINY)
        return [[r.sql for r in next(it)] for _ in range(3)]

    def curation(seed):
        it = gen.iter_curation_rounds(seed)
        return [[(op, None if q is None else q.tobytes()) for op, q in next(it)] for _ in range(3)]

    assert analyst(3) == analyst(3) and analyst(3) != analyst(4)
    assert curation(3) == curation(3) and curation(3) != curation(4)


def test_every_round_has_the_same_mix():
    it = gen.iter_analyst_rounds(5, gen.SIZES["full"])
    mixes = [sorted(r.shape for r in next(it)) for _ in range(5)]
    assert all(m == mixes[0] for m in mixes)
    # the notebook's weights: Q1 twice, J1 four times, the rest once
    counts = {shape: mixes[0].count(shape) for shape in set(mixes[0])}
    assert counts.pop("q1") == 2 and counts.pop("j1") == 4
    assert set(counts.values()) == {1} and len(counts) == 13  # q0, q2-q12, forecast
    it = gen.iter_curation_rounds(5)
    assert all(sorted(op for op, _ in next(it)) == sorted(list(gen.CURATION_PLANS) + ["knn"])
               for _ in range(5))


def test_nuts_lookup_shape():
    df = gen.nuts_frame()
    assert len(df) == 459 and df["Code 2021"].is_unique
    l1, l2, l3 = gen.nuts_codes()
    assert (len(l1), len(l2), len(l3)) == (16, 38, 401)


def test_ingest_truth_matches_the_written_files(tmp_path):
    for f in gen.ingest_folder(1, TINY, str(tmp_path)):
        with open(f.path) as fh:
            assert sum(1 for _ in fh) == f.rows + 1
        types = dict(f.schema)
        assert types["Meter_Reading_Wh"] == "bigint" and types["Plant_ID"] == "int"
        assert "Comment_Field" in f.dropped


def test_analyst_table_truth(tmp_path):
    tables = gen.analyst_tables(1, TINY, str(tmp_path))
    plants = dict(tables[gen.PLANTS].schema)
    assert plants["commissioning_date"] == "timestamp" and plants["municipality_code"] == "int"
    assert plants["electrical_capacity"] == "double" and plants["nuts_1_region"] == "string"
    assert len(tables[gen.TIMESERIES].schema) == 40 and tables[gen.TIMESERIES].schema[0] == ("day", "timestamp")
    assert [n for n, _ in tables[gen.NUTS].schema] == [
        "Code_2021", "Country", "NUTS_level_1", "NUTS_level_2", "NUTS_level_3", "NUTS_level"]
    assert tables[gen.NUTS].rows == 459
    assert gen.sanitized("Capacity (MW)") == "Capacity_MW_"


def test_every_ordered_shape_names_its_order_keys():
    for req in next(gen.iter_analyst_rounds(2, gen.SIZES["full"])):
        assert bool(req.order_by) == req.sql.splitlines()[-1].startswith("order by"), req.shape


# --- output checks --------------------------------------------------------------------


def test_frame_mismatch_checks_order_by_columns():
    want = pd.DataFrame({"state": ["a", "b", "c", "d"], "total": [9.0, 7.0, 7.0, 1.0]})
    assert workloads.frame_mismatch(want.copy(), want, ("total",)) is None
    # rows that tie on the ORDER BY column may swap
    tie = want.iloc[[0, 2, 1, 3]].reset_index(drop=True)
    assert workloads.frame_mismatch(tie, want, ("total",)) is None
    # a reordered result is rejected, but passes as a multiset
    flipped = want.iloc[::-1].reset_index(drop=True)
    assert workloads.frame_mismatch(flipped, want, ("total",)) is not None
    assert workloads.frame_mismatch(flipped, want) is None
    # float noise within rtol 1e-9 passes, a wrong value does not
    assert workloads.frame_mismatch(want.assign(total=want.total * (1 + 1e-12)), want, ("total",)) is None
    assert workloads.frame_mismatch(want.assign(total=want.total + 1), want) is not None


# --- metric names -------------------------------------------------------------------


def test_metric_names_and_units_are_well_formed():
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME_RE.match(n) for n in names)
    assert all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])
    assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower" for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


# --- arithmetic -----------------------------------------------------------------------


def test_percentile_matches_numpy_linear():
    rng = np.random.default_rng(0)
    for n in (1, 2, 7, 40, 101):
        xs = list(rng.random(n))
        for q in (0.0, 0.25, 0.5, 0.9, 1.0):
            assert stats.percentile(xs, q) == pytest.approx(float(np.percentile(xs, q * 100)))


def test_highest_reportable_percentile_needs_ten_samples_beyond():
    assert stats.samples_beyond(100, 0.9) == 10
    assert stats.highest_reportable(100) == 0.9
    assert stats.highest_reportable(1001) == 0.99
    assert stats.highest_reportable(40) == 0.5
    assert stats.highest_reportable(10) is None


def test_quartiles_follow_statistics_quantiles():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
    q1, med, q3 = stats.quartiles(xs)
    assert (q1, med, q3) == (2.75, 5.5, 8.25)
    assert stats.relative_spread(xs) == pytest.approx(5.5 / 5.5)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, None, "plans.build", 0.0, 10.0, 0, "ops"),
        Span(1, 0, "sources.tables.load_table", 1.0, 3.0, 0, "ops"),
        Span(2, 0, "operators.dedup.exact_dedup", 2.0, 6.0, 0, "ops"),  # overlaps span 1
        Span(3, 2, "session.apply_confs", 2.5, 3.5, 0, "ops"),
        Span(4, 0, "operators.dedup.minhash_lsh_pairs", 8.0, 12.0, 0, "ops"),  # clipped at 10
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - (5.0 + 2.0))
    assert own[1] == pytest.approx(2.0)
    assert own[2] == pytest.approx(3.0)
    assert own[3] == pytest.approx(1.0)
    assert own[4] == pytest.approx(4.0)


def test_compare_verdicts():
    parent = [100.0, 101, 99, 100, 102, 98, 100, 101, 99, 100]
    faster = [x * 0.8 for x in parent]
    assert compare.verdict(parent, faster, "lower", 0.1)["verdict"] == "gain"
    assert compare.verdict(parent, [x * 1.02 for x in parent], "lower", 0.1)["verdict"] == "no worse"
    assert compare.verdict(parent, [x * 1.3 for x in parent], "lower", 0.1)["verdict"] == "worse"
    noisy = [50.0, 150, 60, 140, 100, 70, 130, 90, 110, 100]
    assert compare.verdict(noisy, [x * 1.05 for x in noisy], "lower", 0.1)["verdict"] == "unresolved"
    assert compare.verdict(parent, faster, "higher", 0.1)["verdict"] == "worse"


# --- smoke runs -----------------------------------------------------------------------


def _run(workload, trace):
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "11",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=240,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    return json.loads(res.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["analyst_sql", "ingest_batch", "curation_corpus"])
def test_tiny_smoke_run(workload):
    out = _run(workload, 0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == {m["name"] for m in _spec()["end_to_end"]}
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_tiny_traced_run_reports_every_layer_metric():
    out = _run("curation_corpus", 1)
    assert out["correct"]
    metrics = out["metrics"]
    assert set(metrics) == {m["name"] for m in _spec()["per_layer"]}
    assert metrics["plans.execute_ms"]["value"] > 0
    assert metrics["plans.jobs"]["value"] > 0
    assert metrics["sources.inflate.inflate_s"]["value"] > 0
    assert os.path.exists(os.path.join(ROOT, ".perfbench_work", "spans", "curation_corpus-seed11.jsonl"))
