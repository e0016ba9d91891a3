"""bench.py's leaf table is the one place a bench leaf is built: its
names are pinned against the recorded suite artifact, BENCH_ONLY /
BENCH_EXPLAIN_DIR select and explain leaves of it, and bench_scaling's
timed query (built from the same spine and geotag) agrees with q1."""

import json
import os
import subprocess
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# 20 copies of sf0.001's 500 docs = 10,000 pages, the fewest round
# count that lands pages in all three regions (2 copies leave gamma empty)
COPIES = 20


@pytest.fixture(scope="module")
def bench_run(spark, sf_dir):
    import bench

    return bench.run(spark, sf_dir, copies=COPIES, parts=4, rounds=1)


def test_leaf_names_match_the_recorded_suite(bench_run):
    with open(os.path.join(_REPO, "BENCH_r07.json")) as fh:
        recorded = list(json.load(fh)["parsed"]["queries"])
    # the two q2 leaves timed join forms that no longer exist
    retired = {"q2_region_assign_explode", "q2b_region_assign_indexed"}
    assert retired <= set(recorded)
    timings, _ = bench_run
    assert list(timings) == [n for n in recorded if n not in retired]


def test_extras_hold_throughput_and_every_region(bench_run):
    from hexspark.ops import REGIONS

    timings, extras = bench_run
    assert extras["pages_per_sec"] == round(
        extras["n_pages"] / timings["q1_region_assign"], 1
    )
    assert set(extras["region_counts"]) == set(REGIONS)


def test_only_and_explain_dir_write_one_plan_per_leaf(spark, sf_dir, tmp_path):
    """``q1`` selects q1_region_assign only (not q10-q19); explaining
    skips the timers, so only the set-up leaves are timed."""
    import bench

    timings, extras = bench.run(
        spark, sf_dir, copies=COPIES, parts=4, rounds=1,
        only="q1,q30", explain_dir=str(tmp_path),
    )
    assert sorted(os.listdir(tmp_path)) == [
        "q1_region_assign.txt", "q30_cap_per_tile.txt",
    ]
    assert len(extras["plans"]) == 2
    assert list(timings) == ["materialize_pages", "build_region_map"]
    assert "BroadcastHashJoin" in (tmp_path / "q1_region_assign.txt").read_text()


def test_scaling_query_matches_bench_q1(spark, sf_dir, bench_run):
    import bench_scaling
    from hexspark import ops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = bench_scaling.flagship_query(
        docs, docs.count(), ops.region_map(spark), copies=COPIES, parts=4
    ).collect()
    assert {r["region"]: r["n_pages"] for r in got} == bench_run[1]["region_counts"]


def test_import_bench_keeps_leaf_imports_lazy():
    """perfbench imports bench for its load/steal helpers: importing it
    must not pull in every operator module the leaves use."""
    code = (
        "import sys, bench; "
        "print(sorted(m for m in sys.modules if m.startswith('hexspark')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=_REPO,
        capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == str(sorted([
        "hexspark", "hexspark.build", "hexspark.cachepool", "hexspark.cells",
        "hexspark.cells_np", "hexspark.constants", "hexspark.dedup",
        "hexspark.embed", "hexspark.geo", "hexspark.join", "hexspark.ops",
        "hexspark.session", "hexspark.synth", "hexspark.text",
    ]))
