"""Seed discipline of the benchmark.

The seed may change values and predicate constants only: sizes, op shape
and selectivities must not move, the same seed must give byte-identical
inputs, and a traced run's counts must repeat exactly.

    python3 -m pytest perfbench/tests -q

The last test runs the benchmark four times (about four minutes).
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

from tracer import NullTracer  # noqa: E402
from workloads import MergeIngest, RelationReads  # noqa: E402

SEEDS = (1, 2)


def merge_inputs(seed, path):
    wl = MergeIngest(None, seed, str(path), NullTracer())
    wl.make_inputs()
    return wl


def read_inputs(seed, path):
    wl = RelationReads(None, seed, str(path), NullTracer())
    wl.make_inputs()
    return wl


def selectivities(wl):
    orders = pq.read_table(os.path.join(wl.src, "flat_orders.parquet"))
    out = []
    for v in wl.variants:
        d, k, c = orders["o_orderdate"], orders["o_orderkey"], orders["o_custkey"]
        in_window = pc.and_(pc.greater_equal(d, v["lo"]), pc.less(d, v["hi"]))
        in_range = pc.and_(pc.greater_equal(k, v["k0"]), pc.less(k, v["k0"] + 10_000))
        out.append((
            pc.sum(in_window).as_py(),
            pc.sum(pc.equal(c, v["cust"])).as_py(),
            pc.sum(in_range).as_py(),
            len(v["expect"]["top"]),
        ))
    return out


def test_merge_seed_changes_values_only(tmp_path):
    a, b = (merge_inputs(s, tmp_path / str(s)) for s in SEEDS)
    assert a.n_keys == b.n_keys
    assert (a.lines_per_key == b.lines_per_key).all()
    for i in range(3):
        ba, bb = a.batch(i), b.batch(i)
        assert len(ba) == len(bb) > 0
        # every record carries its key's full line-item list
        assert all(len(r["lineitems"]) == a.lines_per_key[r["o_orderkey"]] for r in ba)
        stale_a = sum(r["updated_at"] < a.cursor for r in ba)
        stale_b = sum(r["updated_at"] < b.cursor for r in bb)
        assert stale_a == stale_b > 0
        assert [r["o_orderkey"] for r in ba] != [r["o_orderkey"] for r in bb]
    assert a.expected != b.expected


def test_read_seed_changes_values_only(tmp_path):
    a, b = (read_inputs(s, tmp_path / str(s)) for s in SEEDS)
    assert a.expected_counts == b.expected_counts
    sa, sb = selectivities(a), selectivities(b)
    assert len(set(sa)) == 1 and sa == sb
    assert [v["lo"] for v in a.variants] != [v["lo"] for v in b.variants]
    for name in os.listdir(a.src):
        size_a = pq.ParquetFile(os.path.join(a.src, name)).metadata.num_rows
        assert size_a == pq.ParquetFile(os.path.join(b.src, name)).metadata.num_rows


def test_same_seed_gives_identical_inputs(tmp_path):
    m1, m2 = merge_inputs(7, tmp_path / "m1"), merge_inputs(7, tmp_path / "m2")
    assert filecmp.cmp(tmp_path / "m1" / "merge_base.parquet", tmp_path / "m2" / "merge_base.parquet",
                       shallow=False)
    for i in range(3):
        assert json.dumps(m1.batch(i)) == json.dumps(m2.batch(i))
    r1, r2 = read_inputs(7, tmp_path / "r1"), read_inputs(7, tmp_path / "r2")
    names = sorted(os.listdir(r1.src))
    assert names == sorted(os.listdir(r2.src))
    _match, mismatch, errors = filecmp.cmpfiles(r1.src, r2.src, names, shallow=False)
    assert not mismatch and not errors
    assert [(v["lo"], v["cust"], v["k0"]) for v in r1.variants] == [
        (v["lo"], v["cust"], v["k0"]) for v in r2.variants
    ]


COUNTS = {
    "merge_ingest": ["spark.jobs", "spark.stages", "store.commits", "normalize.tables_out"],
    "relation_reads": ["spark.jobs", "spark.stages", "dataops.pagerank.construct_jobs"],
}


def traced_run(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", sorted(COUNTS))
def test_traced_counts_repeat(workload):
    first, second = traced_run(workload, 3), traced_run(workload, 3)
    for name in COUNTS[workload]:
        assert first[name] == second[name] > 0, name


def test_benchmark_json_lists_what_run_prints():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.layer_names()
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WARM_OPS)
