#!/usr/bin/env python3
"""hexspark benchmark: one workload, one Spark driver at local[nproc].

    python3 perfbench/run.py --workload assign --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all      # every workload, fresh JVM each
    python3 perfbench/run.py --smoke             # tiny inputs, checks the output

Each run writes its seeded input files, then sets up three times
(session start, region maps, fixed inputs; the first set-up also
launches the JVM), then times passes in a closed loop (one client, each
pass starts when the previous one ends) for ``--seconds``, and at least
``workloads.PASSES`` of them; the first is the cold pass.  Every pass is
checked against a numpy reference.

End-to-end metrics: ``setup_s`` and ``pass_cpu_s``, the median CPU
seconds (user + system) of the process tree per set-up and per timed
pass, and ``peak_rss_mb``.  CPU time leaves out the time the host steals
from the machine's vCPUs: on a shared 4-vCPU VM, set-up wall time moved
by 45% between two batches of runs of the same code, its CPU time by
9-14%.  The last stdout line is the
result JSON; the line before it (``# {...}``) carries the labels and the
unbounded wall-clock figures (``cold_pass_s``, ``wall_s``, ``rows_per_s``,
``resume_s``, ``failed_frac``).

``--trace 1`` traces every pass, reports the per-layer metrics of
BENCHMARK.json, and writes the spans, with Spark's numbers and each
span's formatted plan, to ``.perfbench_out/trace-<workload>-seed<seed>.json``.
End-to-end metrics come from untraced runs only.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("assign", "tiles_pipelines")
SETUPS = 3
CHECKPOINT_STAGES = (
    "pages", "pages_valid", "region_map", "assigned", "region_counts", "tile_rollup",
    "doc_features", "signatures", "dup_pairs", "dup_clusters", "keepers", "corpus_stats",
)
# per-layer span metrics: metric name -> op name in workloads.run_pass
SPAN_METRICS = {
    "geo.encode_s": "geo.encode",
    "join.shallow_s": "join.shallow",
    "join.deep_s": "join.deep",
    "ops.tile_pyramid_s": "ops.tile_pyramid",
    "ops.pyramid_distinct_s": "ops.pyramid_distinct",
    "ops.smooth_s": "ops.smooth",
    "skew.plain_agg_s": "skew.plain_agg",
    "skew.salted_agg_s": "skew.salted_agg",
    "sample.cap_per_tile_s": "sample.cap_per_tile",
    "pipeline.resume_s": "pipeline.resume",
}


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",), default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload on tiny inputs, traced and not, and"
                         " assert every BENCHMARK.json metric is printed with its unit")
    return ap.parse_args(argv)


# ---------------------------------------------------------------------------
# process tree hygiene
# ---------------------------------------------------------------------------

def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_jvm() -> None:
    """Close the py4j gateway JVM and wait for it and its Python workers."""
    from pyspark import SparkContext
    from spans import descendants

    pids = descendants(os.getpid())
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 15
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    while any(_alive(p) for p in pids):
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# one workload in this process
# ---------------------------------------------------------------------------

def _start_session(work: str, cores: int):
    from hexspark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            # a small fixed heap: with 2g, how far G1 grew the heap
            # decided peak_rss_mb (spread 0.26 over five seeds)
            "spark.driver.memory": "1g",
            # -UsePerfData: no /tmp/hsperfdata file; a run writes only
            # inside its checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
            "spark.local.dir": f"{work}/local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    from hexspark import cachepool

    cachepool.clear_all()
    spark.stop()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _measure(args, work: str, cores: int, rss) -> tuple[dict, dict]:
    import workloads as W
    from hexspark import cachepool
    from spans import Tracer, tree_cpu_s

    me = os.getpid()
    inp = W.make_inputs(args.workload, args.seed, args.size)
    docs, docs_dir = W.prepare(inp, work)
    setups, setup_cpu, builds = [], [], []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            _stop_session(spark)
        c0, t0 = tree_cpu_s(me), time.perf_counter()
        spark = _start_session(work, cores)
        st = W.setup(spark, inp, work, cores, docs, docs_dir)
        setups.append(time.perf_counter() - t0)
        setup_cpu.append(tree_cpu_s(me) - c0)
        builds.append(st.region_map_s)

    reg = st.regions.select("cell", "region").toPandas()
    ref = W.reference(inp, reg["cell"].to_numpy(dtype="int64"),
                      reg["region"].to_numpy(dtype=object), st.docs)

    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    tracer = Tracer(spark, run_id, enabled=False)
    attempted = failed = 0

    def op(name, fn):
        t0 = time.perf_counter()
        try:
            with tracer.span(name) as rec:
                df, val = fn()
        except Exception as exc:  # a failed operation, counted below
            traceback.print_exc(file=sys.stderr)
            return exc
        dur = time.perf_counter() - t0
        tracer.keep_plan(rec, df)
        return val, dur

    def one_pass(traced: bool):
        nonlocal attempted, failed
        # outside the timer, as bench.py does: operator-internal persists
        # would turn a repeat pass into cache hits, and garbage from the
        # previous pass would be collected inside this one
        cachepool.clear_all(blocking=True)
        spark.sparkContext._jvm.System.gc()
        tracer.enabled = traced
        with tracer.span("pass"):
            c0, t0 = tree_cpu_s(me), time.perf_counter()
            results = W.run_pass(st, op)
            dt = time.perf_counter() - t0
            cpu = tree_cpu_s(me) - c0
        W.cleanup(st)
        if traced:
            results.update(W.encode_only(st, op))
            tracer.resolve()
        for name, ok in W.check(ref, results):
            attempted += 1
            if not ok:
                failed += 1
                print(f"perfbench: {name} output differs from the reference",
                      file=sys.stderr)
        return dt, results, cpu

    # closed loop: the first timed pass is the cold one; a traced run
    # needs a warm pass too (spark.plan_s is cold minus warm)
    n_min = W.PASSES[args.workload] if not args.trace else max(2, W.PASSES[args.workload])
    passes = []
    deadline = time.perf_counter() + args.seconds
    while time.perf_counter() < deadline or len(passes) < n_min:
        passes.append(one_pass(bool(args.trace)))
    peak_mb = rss.peak / 2**20
    _stop_session(spark)

    (cold_s, cold_res, cold_cpu), warm = passes[0], passes[1:]
    wall = _median([dt for dt, _, _ in passes])
    resume = [r["pipeline.resume"][1] for _, r, _ in passes
              if isinstance(r.get("pipeline.resume"), tuple)]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "rows": inp.rows,
        "cores": cores,
        "passes": len(passes),
        "setup_wall_s_samples": [round(x, 4) for x in setups],
        "setup_cpu_s_samples": [round(x, 2) for x in setup_cpu],
        "pass_cpu_s_samples": [round(c, 2) for _, _, c in passes],
        "failed_frac": failed / max(attempted, 1),
        "resume_s": _median(resume) if resume else None,
        "peak_rss_mb_by_process": [round(b / 2**20) for b in rss.peak_parts],
        "cold_pass_s": cold_s,
        "wall_s": wall,
        "rows_per_s": inp.rows / wall,
        "op_s": {name: round(_median([r[name][1] for _, r, _ in passes
                                      if isinstance(r.get(name), tuple)]), 4)
                 for name in passes[-1][1]},
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
    }
    if not args.trace:
        result["metrics"] = {
            "setup_s": {"value": _median(setup_cpu), "unit": "s"},
            "pass_cpu_s": {"value": _median([c for _, _, c in passes]), "unit": "s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        }
    else:
        result["metrics"] = _layer_metrics(
            tracer, st, builds, cold_res, warm, inp.n_pages)
        tracer.dump(os.path.join(
            ROOT, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json"))
    return result, detail


def _layer_metrics(tracer, st, builds, cold_res, traced, n_pages) -> dict:
    """Per-layer metrics of a traced run.  A layer the workload does not
    call has no span: its times and counts read 0."""
    def warm_durs(op_name):
        return [r[op_name][1] for _, r, _ in traced if isinstance(r.get(op_name), tuple)]

    m: dict[str, tuple[float, str]] = {
        "build.region_map_s": (_median(builds), "s"),
        "build.region_leaves": (st.region_leaves, "count"),
    }
    plan_s = 0.0
    for metric, op_name in SPAN_METRICS.items():
        xs = warm_durs(op_name)
        m[metric] = (_median(xs), "s")
        if xs and isinstance(cold_res.get(op_name), tuple):
            plan_s += cold_res[op_name][1] - _median(xs)
    last = traced[-1][1]
    # spans of the last traced pass (later spans overwrite earlier ones)
    spans = {s["name"]: s for s in tracer.spans if s["parent"] is not None}
    for name in ("join.shallow", "join.deep"):
        res = last.get(name)
        matched = sum(n for n, _ in res[0].values()) if isinstance(res, tuple) else 0
        key = name.split(".")[1]
        m[f"join.{key}_match_frac"] = (matched / n_pages if res else 0.0, "frac")
    deep = spans.get("join.deep", {})
    m["join.python_rows"] = (deep.get("python_rows", 0), "count")
    m["join.broadcast_bytes"] = (deep.get("broadcast_bytes", 0), "B")
    plain, salted = spans.get("skew.plain_agg", {}), spans.get("skew.salted_agg", {})
    m["skew.task_skew"] = (plain.get("hot_stage_skew", 0.0), "ratio")
    m["skew.read_skew"] = (plain.get("hot_read_skew", 0.0), "ratio")
    m["skew.salted_read_skew"] = (salted.get("hot_read_skew", 0.0), "ratio")

    lineage = {}
    for key in ("pipeline.run_pipeline", "pipeline.run_corpus_pipeline"):
        if isinstance(last.get(key), tuple):
            lineage.update(last[key][0][1])
    for stage in CHECKPOINT_STAGES:
        m[f"checkpoint.{stage}_s"] = (lineage.get(stage, {}).get("wall_sec", 0.0), "s")
    m["checkpoint.bytes_written"] = (sum(v.get("bytes", 0) for v in lineage.values()), "B")
    m["checkpoint.rows_written"] = (sum(v.get("rows", 0) for v in lineage.values()), "count")
    m["dedup.dup_pairs_rows"] = (lineage.get("dup_pairs", {}).get("rows", 0), "count")

    pass_ids = [s["id"] for s in tracer.spans if s["name"] == "pass"][1:]
    pass_id = pass_ids[-1]
    leaves = [s for s in tracer.spans if s["parent"] == pass_id]
    for k in ("shuffle_write_bytes", "spill_bytes", "tasks", "failed_tasks"):
        m[f"spark.{k}"] = (sum(s.get(k, 0) for s in leaves), "B" if "bytes" in k else "count")
    m["spark.plan_s"] = (plan_s, "s")
    # tracing's own cost inside a timed pass: the span bookkeeping
    # (job-group calls); Spark's numbers and plans are read after the pass
    m["trace.overhead_s"] = (_median([tracer.overhead_of(pid) for pid in pass_ids]), "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def run_one(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "hexspark", "__init__.py")):
        print("perfbench: hexspark/ not found beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Python workers import hexspark whatever the caller's cwd; scratch
    # space for Spark and Python stays inside the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM

    from bench import _cpu_jiffies, _loadavg, steal_pct_between
    from spans import RssSampler

    # SIGTERM unwinds like Ctrl-C, so the JVM and the work dir are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load0, jiff0 = _loadavg(), _cpu_jiffies()
    try:
        with RssSampler() as rss:
            result, detail = _measure(args, work, cores, rss)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    detail["loadavg_1m"] = load0
    detail["steal_pct"] = steal_pct_between(jiff0, _cpu_jiffies())
    print("# " + json.dumps(detail))
    print(json.dumps(result), flush=True)
    return 0


# ---------------------------------------------------------------------------
# drivers over several workloads (each a fresh process and JVM)
# ---------------------------------------------------------------------------

def _child(workload: str, seed: int, seconds: float, trace: int, size: str):
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--size", size]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise SystemExit(f"perfbench: {workload} (trace {trace}) exited {out.returncode}")
    detail = next((json.loads(ln[2:]) for ln in lines if ln.startswith("# ")), {})
    return json.loads(lines[-1]), detail


def run_all(args) -> int:
    cols = ("setup_s", "cold_pass_s", "wall_s", "pass_cpu_s", "rows_per_s", "peak_rss_mb")
    print(f"{'workload':<16}" + "".join(f"{c:>14}" for c in cols)
          + f"{'failed_frac':>13}{'resume_s':>10}")
    for w in WORKLOADS:
        res, det = _child(w, args.seed, args.seconds, 0, args.size)
        figures = {**det, **{k: v["value"] for k, v in res["metrics"].items()}}
        vals = "".join(f"{figures[c]:>14.4g}" for c in cols)
        resume = det.get("resume_s")
        print(f"{w:<16}{vals}{det['failed_frac']:>13.3g}"
              + (f"{resume:>10.4g}" if resume is not None else f"{'-':>10}"), flush=True)
    units = "  ".join(f"{c}: {u}" for c, u in zip(cols, ("s", "s", "s", "s", "1/s", "MB")))
    print(f"units  {units}  (wall_s: median timed pass; resume_s: tiles_pipelines only)")
    return 0


def smoke(args) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bad = []
    for w in WORKLOADS:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            res, _ = _child(w, args.seed, 1, trace, "smoke")
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            ok = (got == want and res["correct"] and res["attempted"] >= 1
                  and all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()))
            print(f"smoke {w:<10} trace={trace}: {'ok' if ok else 'FAIL'}", flush=True)
            if not ok:
                bad.append((w, trace, sorted(set(want.items()) ^ set(got.items()))))
    for b in bad:
        print("  mismatch:", b)
    return 1 if bad else 0


def main(argv=None) -> int:
    args = _args(argv)
    if args.smoke:
        return smoke(args)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
