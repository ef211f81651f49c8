"""Self-tests of the benchmark: ``python -m pytest perfbench -q`` from the repo root.

The smoke runs start Spark, so the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

import gen
import run
import tracing as tr

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def _files(d: str) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(Path(d).glob("*.parquet"))}


def test_same_seed_same_inputs_and_counts(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    for make in (
        lambda root, seed: gen.lowcard_corpus(root, seed, 20_000),
        lambda root, seed: gen.highcard_corpus(root, seed, 20_000, 5_000, row_groups=4),
    ):
        x, y, z = make(a, 7), make(b, 7), make(b, 8)
        assert _files(x.sf_dir) == _files(y.sf_dir)
        assert (x.counts == y.counts).all() and x.counts.sum() == x.tokens == 20_000
        assert x.topk() == y.topk()
        assert _files(x.sf_dir) != _files(z.sf_dir)
    assert _files(gen.fixture_tables(a, 7, 0.001)) == _files(gen.fixture_tables(b, 7, 0.001))


def test_expected_counts_match_written_text(tmp_path):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    c = gen.highcard_corpus(tmp_path, 3, 30_000, 2_000, row_groups=4)
    text = pq.read_table(f"{c.sf_dir}/documents.parquet").column("text")
    words = pc.list_flatten(pc.split_pattern(text, " ")).to_pylist()
    assert len(words) == c.tokens
    from collections import Counter

    got = Counter(words)
    assert got == {str(c.words[i]): int(n) for i, n in enumerate(c.counts) if n}
    assert pq.ParquetFile(f"{c.sf_dir}/documents.parquet").metadata.num_row_groups == 4


def test_metric_names_and_units_match_benchmark_json():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(run.wl.WORKLOADS)
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_result_digest_is_order_insensitive_and_cross_engine():
    from decimal import Decimal

    d = run.wl.digest
    base = d(["b", "a"], [(1, 2.0000000001), (Decimal("3"), 4.5)])
    assert base == d(["a", "b"], [(4.5, 3), (2.0, 1)])  # column and row order, float noise
    assert base != d(["a", "b"], [(4.5, 3), (2.0, 1), (2.0, 1)])  # a duplicate row
    assert base != d(["a", "b"], [(4.5, 3), (2.5, 1)])


def test_tail_percentile():
    assert run.tail([1.0, 2.0, 3.0]) == {"n": 3, "p50": 2.0}
    t = run.tail([float(i) for i in range(40)])
    assert t["tail_pct"] == 75.0 and t["tail_s"] == 29.0  # ten samples (30..39) beyond


def test_event_log_files_rolling_and_plain(tmp_path):
    d = tmp_path / "eventlog_v2_app-1"
    d.mkdir()
    for n in (10, 2, 1):
        (d / f"events_{n}_app-1").write_text("")
    (d / "appstatus_app-1").write_text("")
    assert [p.name for p in tr.event_log_files(tmp_path, "app-1")] == [
        "events_1_app-1",
        "events_2_app-1",
        "events_10_app-1",
    ]
    (tmp_path / "app-2").write_text("")
    assert tr.event_log_files(tmp_path, "app-2") == [tmp_path / "app-2"]


def test_stage_phase_by_plan_node():
    log = tr.EventLog()
    nodes = {
        1: ("Generate", "Generate explode(...)"),
        2: ("HashAggregate", "HashAggregate(keys=[word], functions=[partial_count(1)])"),
        3: ("HashAggregate", "HashAggregate(keys=[word], functions=[count(1)])"),
        4: ("TakeOrderedAndProject", "TakeOrderedAndProject(limit=10)"),
        5: ("Project", "Project"),
    }
    for i, (node, desc) in nodes.items():
        log.acc[i] = tr.PlanMetric(node, desc, "number of output rows", "sum")

    def phase(ids):
        return tr.stage_phase(log, tr.StageRec("k", 0, "collect", acc_ids=set(ids)))

    assert phase({1, 2}) == "map"
    assert phase({2}) == "map"
    assert phase({3, 4}) == "reduce"
    assert phase({5}) == "other"


def _run(*args: str, cwd: Path = HERE.parent) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def test_fails_without_the_engine(tmp_path):
    shutil.copy(HERE.parent / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    res = _run("--workload", "wordcount", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=tmp_path)
    assert res.returncode != 0
    assert '"metrics"' not in res.stdout


@pytest.mark.parametrize("workload", sorted(run.wl.WORKLOADS))
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run(workload, trace):
    res = _run(
        "--workload", workload, "--seed", "5", "--seconds", "0", "--trace", trace,
        "--scale", "0.02", "--setup-samples", "2",
    )
    assert res.returncode == 0, res.stderr[-2000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, res.stdout
    want = run.PER_LAYER if trace == "1" else run.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())
