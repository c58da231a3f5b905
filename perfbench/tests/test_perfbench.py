"""The benchmark's own tests: seeded inputs, the DuckDB truth against the
generator's bookkeeping, and tiny runs of every workload through the real
harness (these start Spark, about half a minute each).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp

import duckdb
import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import gen, trace, truth, workloads
from perfbench.run import END_TO_END, run

FAULTS = gen.Faults(rate=0.02, hot_keys=2, hot_copies=40)


def _pair(path, seed: int, faults: gen.Faults = FAULTS) -> gen.Pair:
    return gen.make_pair(np.random.default_rng(seed), 3000, faults, str(path))


def _truth(pair: gen.Pair) -> dict[str, int]:
    con = duckdb.connect()
    try:
        return truth.summary_counts(con, pair.src, pair.tgt, gen.TOLERANCE)
    finally:
        con.close()


def test_same_seed_gives_identical_files_and_truth(tmp_path):
    a, b = _pair(tmp_path / "a", 5), _pair(tmp_path / "b", 5)
    assert filecmp.cmp(a.src, b.src, shallow=False)
    assert filecmp.cmp(a.tgt, b.tgt, shallow=False)
    assert a.book == b.book and _truth(a) == _truth(b)

    rows_a = gen.make_fixture(np.random.default_rng(5), str(tmp_path / "fa"), orders=200)
    rows_b = gen.make_fixture(np.random.default_rng(5), str(tmp_path / "fb"), orders=200)
    assert rows_a == rows_b
    for table in rows_a:
        name = f"{table}.parquet"
        assert filecmp.cmp(tmp_path / "fa" / name, tmp_path / "fb" / name, shallow=False)


def test_different_seed_gives_different_files_and_truth(tmp_path):
    a, c = _pair(tmp_path / "a", 5), _pair(tmp_path / "c", 6)
    assert not pq.read_table(a.tgt).equals(pq.read_table(c.tgt))
    assert _truth(a) != _truth(c)


@pytest.mark.parametrize(
    "seed,faults",
    [
        (1, FAULTS),
        (2, gen.Faults(rate=0.05)),
        (3, gen.Faults(rate=0.001, hot_keys=3, hot_copies=200, null_keys=1)),
        (4, gen.Faults(rate=0.01, null_keys=0)),
    ],
)
def test_duckdb_truth_agrees_with_generator_bookkeeping(tmp_path, seed, faults):
    pair = _pair(tmp_path, seed, faults)
    counts = _truth(pair)
    assert truth.cross_check(counts, pair.book) == []
    assert all(counts.values())  # every check sees its injected faults


# --- tiny runs through the harness ------------------------------------------


class TinyPartitions(workloads.ReconPartitions):
    rows = 1000
    min_ops = 1


class TinySweep(workloads.RegistrySweep):
    orders = 200
    min_ops = 1


@pytest.mark.parametrize("cls", [TinyPartitions, TinySweep])
def test_tiny_workload_passes_its_output_checks(tmp_path, cls):
    report, result = run(cls(str(tmp_path)), seed=1, seconds=0, trace=False)
    assert result["correct"] and result["failed"] == 0
    assert report["wrong_ratio"] == 0.0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(END_TO_END)
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize(
    "cls,exercised",
    [
        (TinyPartitions, ("api.summary_s", "cli.main_s", "sink.write_s", "sink.files_written",
                          "catalyst.planning_s", "exec.jobs", "exec.task_s")),
        (TinySweep, ("registry.build_s", "registry.build_jobs", "catalog.load_calls",
                     "catalog.cache_hit_ratio", "artifacts.ensure_s", "streaming.build_s",
                     "udfs.exec_s", "session.metastore_init_s")),
    ],
)
def test_traced_run_reports_every_layer_metric(tmp_path, cls, exercised):
    report, result = run(cls(str(tmp_path)), seed=2, seconds=0, trace=True)
    assert result["correct"]
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert set(metrics) == set(trace.LAYER_METRICS)
    for name in (*exercised, "session.boot_s", "trace.overhead_ratio"):
        assert metrics[name] > 0, name


def test_wrong_result_is_counted_not_passed(tmp_path):
    # a summary at tolerance 0 turns the within-tolerance drift into cell
    # diffs, which the truth (taken at the workload's tolerance) rejects
    wl = TinyPartitions(str(tmp_path), tolerance=0.0)
    report, result = run(wl, seed=3, seconds=0, trace=False)
    assert result["failed"] == 0
    assert not result["correct"]
    assert report["wrong_ratio"] == 1.0
