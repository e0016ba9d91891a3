"""Checkpoint/resume, storage parity, and streaming-ingest tests."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from hexspark import build as bx
from hexspark import cells_np as cnp
from hexspark import storage
from hexspark.checkpoint import Checkpointer
from hexspark.fixtures import ensure_fixtures


@pytest.fixture(scope="module")
def monaco(spark):
    paths = ensure_fixtures()
    return spark.read.parquet(paths["monaco_res12"]).cache()


def test_checkpoint_resume_and_lineage(spark, tmp_path):
    root = str(tmp_path / "pipe")
    ck = Checkpointer(spark, root)
    calls = {"n": 0}

    def make():
        calls["n"] += 1
        return spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))

    df1 = ck.stage("s1", make)
    assert df1.count() == 100 and calls["n"] == 1
    # resume: second run skips recompute
    df2 = ck.stage("s1", make)
    assert df2.count() == 100 and calls["n"] == 1
    man = ck.manifest("s1")
    assert man["complete"] and man["rows"] == 100
    assert man["n_partitions"] >= 1
    assert all("rows" in p and "bytes" in p for p in man["partitions"])
    # incomplete stage (simulated crash: manifest missing) recomputes
    ck2 = Checkpointer(spark, root)
    os.remove(os.path.join(root, "s1", "_hexspark_manifest.json"))
    ck2.stage("s1", make)
    assert calls["n"] == 2


def _typed_frame(spark):
    """Nested and non-nullable columns: the read-back schema must match
    inference on every level, not just on flat longs."""
    return spark.range(20).select(
        F.col("id"),
        F.lit(1).alias("one"),
        F.array(F.lit(1), F.col("id").cast("int")).alias("arr"),
        F.struct(F.lit("x").alias("s"), F.col("id").alias("i")).alias("st"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.when(F.col("id") % 3 == 0, F.lit("t")).alias("maybe"),
        F.lit(1.5).cast("decimal(10,2)").alias("d"),
        F.timestamp_seconds(F.col("id")).alias("ts"),
    )


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_checkpoint_readback_launches_no_jobs(spark, tmp_path):
    """A resumed stage and a load read back with the manifest's schema:
    no schema-inference job, and the schema (names, types, nullability)
    is what inference gives."""
    root = str(tmp_path / "rb")
    ck = Checkpointer(spark, root)
    fresh = ck.stage("s", lambda: _typed_frame(spark))
    inferred = spark.read.parquet(os.path.join(root, "s")).schema
    assert fresh.schema == inferred
    assert ck.manifest("s")["schema"] == _typed_frame(spark).schema.jsonValue()

    def boom():
        raise AssertionError("a complete stage must not recompute")

    (resumed, loaded), jobs = _jobs_in_group(
        spark, "ck-readback", lambda: (ck.stage("s", boom), ck.load("s"))
    )
    assert jobs == []
    assert resumed.schema == inferred and loaded.schema == inferred
    # the guard can see jobs: using the read-back runs one
    n, jobs = _jobs_in_group(spark, "ck-readback-use", loaded.count)
    assert n == 20 and jobs
    assert sorted(map(tuple, resumed.collect())) == sorted(
        map(tuple, spark.read.parquet(os.path.join(root, "s")).collect())
    )


def test_checkpoint_manifest_without_schema_reads_back(spark, tmp_path):
    """Manifests written before schemas were recorded still resume and
    load, through inference."""
    root = str(tmp_path / "legacy")
    ck = Checkpointer(spark, root)
    want = sorted(map(tuple, ck.stage("s", lambda: _typed_frame(spark)).collect()))
    inferred = spark.read.parquet(os.path.join(root, "s")).schema
    mpath = os.path.join(root, "s", "_hexspark_manifest.json")
    with open(mpath) as f:
        man = json.load(f)
    del man["schema"]
    with open(mpath, "w") as f:
        json.dump(man, f)

    def boom():
        raise AssertionError("a complete stage must not recompute")

    for df in (ck.stage("s", boom), ck.load("s")):
        assert df.schema == inferred
        assert sorted(map(tuple, df.collect())) == want


def test_checkpoint_quarantine_metrics(spark, tmp_path):
    ck = Checkpointer(spark, str(tmp_path / "q"))
    src = spark.createDataFrame([(-5,), (0,), (0x85283473FFFFFFF,)], "cell: long")
    valid, bad = bx.validate_cells(src)
    ck.stage("ingest", lambda: valid, quarantine_fn=lambda: bad)
    man = ck.manifest("ingest")
    assert man["rows"] == 1 and man["quarantined_rows"] == 2


def test_storage_roundtrip_and_iteration_order(spark, monaco, tmp_path):
    built = bx.build_region(monaco, compactor="set")
    path = str(tmp_path / "monaco_region")
    storage.write_region(built, path)
    back = storage.read_region(spark, path)
    assert back.select("cell").exceptAll(built.select("cell")).count() == 0
    assert built.select("cell").exceptAll(back.select("cell")).count() == 0
    # iteration order parity: ascending lo == reference DFS order
    it = [r["cell"] for r in storage.iterate(back).select("cell").collect()]
    los = cnp.lo(np.array(it, dtype=np.int64))
    assert (np.diff(los) > 0).all()
    # and every lookup against storage == in-memory (disktree get parity)
    from hexspark import join as jx

    probes = monaco.select(F.col("cell").alias("probe"))
    mem = jx.get_chained(probes, built, probe_col="probe")
    dsk = jx.get_chained(probes, back, probe_col="probe")
    assert mem.select("probe", "stored_cell").exceptAll(
        dsk.select("probe", "stored_cell")
    ).count() == 0


def test_storage_multifile_region_sink(spark, monaco, tmp_path):
    """n_files>1: range-partitioned sorted files — same content, files
    disjoint on lo (iteration order = file order), parallel writers."""
    import glob

    built = bx.build_region(monaco, compactor="set")
    path = str(tmp_path / "monaco_multi")
    storage.write_region(built, path, n_files=4)
    files = sorted(glob.glob(path + "/part-*.parquet"))
    assert len(files) == 4
    back = storage.read_region(spark, path)
    assert back.select("cell").exceptAll(built.select("cell")).count() == 0
    assert built.select("cell").exceptAll(back.select("cell")).count() == 0
    # per-file lo ranges are disjoint and internally sorted
    import pyarrow.parquet as pq

    ranges = []
    for f in files:
        t = pq.read_table(f, columns=["__lo"])
        los = np.array(t["__lo"], dtype=np.int64)
        if len(los):
            assert (np.diff(los) > 0).all()
            ranges.append((los[0], los[-1]))
    for (a1, b1), (a2, b2) in zip(ranges, ranges[1:]):
        assert b1 < a2


def test_iceberg_sink_gated(spark, monaco):
    with pytest.raises(RuntimeError, match="Iceberg"):
        storage.write_region_iceberg(monaco, "local.db.monaco")


def test_h3idx_and_kepler_roundtrip(spark, monaco, tmp_path):
    p1 = str(tmp_path / "cells.h3idx")
    storage.write_h3idx(monaco, p1)
    back = storage.read_h3idx(spark, p1)
    assert back.exceptAll(monaco).count() == 0 and monaco.exceptAll(back).count() == 0
    p2 = str(tmp_path / "cells.csv")
    storage.write_kepler_csv(monaco, p2)
    back2 = storage.read_kepler_csv(spark, p2)
    assert back2.exceptAll(monaco).count() == 0 and monaco.exceptAll(back2).count() == 0


def test_spark_submit_multi_executor_parity(spark, tmp_path):
    """north_rule 'run via spark-submit --py-files on a multi-executor
    cluster': package hexspark.zip, launch the flagship job through
    spark-submit on local-cluster (two REAL separate executor JVMs —
    code ships via --py-files only), and assert the region counts equal
    the same pipeline computed in-session."""
    import json
    import shutil
    import subprocess

    import pyspark

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if not os.path.exists(submit):
        submit = shutil.which("spark-submit")
    if not submit:
        pytest.skip("spark-submit not available")
    subprocess.run(["bash", "scripts/package.sh"], check=True, cwd=repo,
                   capture_output=True)
    out = subprocess.run(
        [submit, "--master", "local-cluster[2,4,2048]",
         "--py-files", "dist/hexspark.zip",
         "--conf", "spark.sql.shuffle.partitions=8",
         "scripts/submit_smoke_job.py"],
        capture_output=True, text=True, timeout=300, cwd=repo,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")]
    assert lines, (out.stdout[-1000:], out.stderr[-2000:])
    got = json.loads(lines[0][len("RESULT "):])
    assert got["master"].startswith("local-cluster")
    # expected: the identical pipeline in THIS session's JVM
    from hexspark import ops, synth
    from hexspark.geo import grid_encode

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = docs.count()
    pages = spark.range(0, n * 40, 1, 8).select(
        F.col("id").alias("page_key"),
        F.concat(F.lit("l"), (F.col("id") % 4).cast("string")).alias("lang"),
    )
    lat, lon = synth.latlon_from_key(F.col("page_key"))
    pages = pages.withColumn("lat", lat).withColumn("lon", lon).withColumn(
        "cell", grid_encode(F.col("lat"), F.col("lon"), 12)
    )
    want = {
        r["region"]: r["n_pages"]
        for r in ops.region_counts(pages, ops.region_map(spark)).collect()
    }
    assert got["counts"] == want


def test_bucketed_join_plans_no_exchange(spark):
    """write_bucketed: a join between two tables bucketed on the same
    key must plan WITHOUT any Exchange (co-located bucket scan) — the
    shuffle-free repeated-join path at scale."""
    from hexspark import storage

    pages = spark.range(20000).select(
        F.col("id").alias("page_key"),
        (F.col("id") % 64).alias("tile"),
    )
    # a second relation keyed the same way (per-tile weights)
    weights = spark.range(64).select(
        F.col("id").alias("tile"), (F.col("id") * 10).alias("weight")
    )
    storage.write_bucketed(pages, "bt_pages", "tile", n_buckets=8)
    storage.write_bucketed(weights, "bt_weights", "tile", n_buckets=8)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bt_pages").join(spark.table("bt_weights"), on="tile")
        assert joined.count() == 20000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.sql("DROP TABLE IF EXISTS bt_pages")
        spark.sql("DROP TABLE IF EXISTS bt_weights")


def test_stage_bucketed_survives_driver_restart(spark, tmp_path):
    """Cross-process re-entrance of stage_bucketed: the in-memory
    catalog registration dies with the driver while the external stage
    files persist.  Simulated by DROPping the table (external → files
    untouched): the resumed call must re-register the bucket spec over
    the existing files WITHOUT recomputing, and the re-registered table
    must still scan Bucketed: true with no pre-aggregate Exchange."""
    import re

    from hexspark.checkpoint import Checkpointer

    ck = Checkpointer(spark, str(tmp_path / "bwork"))
    src = spark.range(5000).select(
        F.col("id").alias("page_key"), (F.col("id") % 64).alias("tile")
    )
    calls = []

    def build():
        calls.append(1)
        return src

    out1 = ck.stage_bucketed("tiled", build, bucket_col="tile", n_buckets=8)
    rows1 = sorted((r["page_key"], r["tile"]) for r in out1.collect())
    man1 = ck.manifest("tiled")
    tbl = man1["table"]
    assert man1["location"].endswith("/tiled/data")
    assert calls == [1]
    try:
        # catalog death: external table → DROP removes only the entry
        spark.sql(f"DROP TABLE `{tbl}`")
        assert not spark.catalog.tableExists(tbl)
        # re-registration takes its columns from the manifest: no job
        out2, jobs = _jobs_in_group(
            spark, "ck-rebucket",
            lambda: ck.stage_bucketed("tiled", build, bucket_col="tile", n_buckets=8),
        )
        assert jobs == []
        assert calls == [1], "resume must not recompute"
        assert sorted((r["page_key"], r["tile"]) for r in out2.collect()) == rows1
        assert ck.manifest("tiled")["finished_at"] == man1["finished_at"]
        # the re-registered spec still rides the bucket layout
        agg = out2.groupBy("tile").agg(F.count("*").alias("n"))
        agg.collect()
        plan = (
            agg._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        assert "Bucketed: true" in plan, plan[:2000]
        assert not re.search(r"Exchange hashpartitioning\(tile", plan), plan[:2000]
        # changed params → recompute over the same location (overwrite
        # must not trip on the existing external dir)
        out3 = ck.stage_bucketed(
            "tiled", build, bucket_col="tile", n_buckets=8, params={"v": 2}
        )
        assert calls == [1, 1]
        assert sorted((r["page_key"], r["tile"]) for r in out3.collect()) == rows1
    finally:
        spark.sql(f"DROP TABLE IF EXISTS `{tbl}`")


def test_streaming_event_windows(spark, tmp_path):
    """event_window_stats is batch≡stream: the same F.window rollup
    over a watermarked file stream (append mode emits closed windows)
    must be a subset of — and agree with — the batch contract query."""
    from hexspark import streaming as st

    src_dir = str(tmp_path / "esrc")
    events = spark.range(3000).select(
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 11).alias("ts"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("error")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("event_type"),
        (F.col("id") % 100 / 4.0).alias("value"),
    )
    events.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).parquet(src_dir)
    agg = st.event_window_stats(stream.withWatermark("ts", "30 minutes"))
    q = (
        agg.writeStream.format("memory").queryName("ewin")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "eckpt")).start()
    )
    q.awaitTermination(300)
    got = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM ewin").collect()
    }
    want = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in st.event_window_stats(spark.read.parquet(src_dir)).collect()
    }
    assert len(got) > 0
    assert all(want.get(k) == v for k, v in got.items())


def test_streaming_windowed_tile_counts(spark, tmp_path):
    """Watermarked windowed rollup over a file stream == the batch
    window aggregation on the same rows."""
    from hexspark import streaming as st

    src_dir = str(tmp_path / "wsrc")
    pages = spark.range(2000).select(
        F.col("id").alias("page_key"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 3).alias("warc_ts"),
    )
    pages.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema("page_key long, warc_ts timestamp").parquet(src_dir)
    agg = st.windowed_page_counts(stream, watermark="1 minute", window="10 minutes", tile_res=3)
    q = (
        agg.writeStream.format("memory").queryName("wtiles")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "wckpt")).start()
    )
    q.awaitTermination(300)
    got = {
        (r["window_start"], r["tile"]): r["n_pages"]
        for r in spark.sql("SELECT * FROM wtiles").collect()
    }
    # batch reference (append mode emits only closed windows — the last
    # window may be withheld by the watermark, so compare as subset+count)
    from hexspark import cells as cx
    batch = (
        st.encode_stream(spark.read.parquet(src_dir), 3)
        .groupBy(F.window("warc_ts", "10 minutes").alias("w"),
                 cx.to_parent("cell", 3).alias("tile"))
        .agg(F.count("*").alias("n_pages"))
        .select(F.col("w.start").alias("window_start"), "tile", "n_pages")
    )
    want = {
        (r["window_start"], r["tile"]): r["n_pages"] for r in batch.collect()
    }
    assert len(got) > 0
    assert all(want.get(k) == v for k, v in got.items())


def test_streaming_stateful_tile_totals(spark, tmp_path):
    """applyInPandasWithState: running per-tile totals must carry state
    ACROSS micro-batches (maxFilesPerTrigger=1 forces one batch per
    file) and converge to the batch groupBy counts."""
    from hexspark import cells as cx
    from hexspark import streaming as st

    src_dir = str(tmp_path / "ssrc")
    # two appended files sharing locations (page_key = id % 200, so the
    # same geotag keys appear in both micro-batches) → the running
    # total must accumulate across batches
    pages = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 200).alias("page_key"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 7).alias("warc_ts"),
    ).cache()
    cols = ["page_key", "warc_ts"]
    pages.filter(F.col("id") < 500).select(cols).coalesce(1).write.mode("append").parquet(src_dir)
    pages.filter(F.col("id") >= 500).select(cols).coalesce(1).write.mode("append").parquet(src_dir)
    stream = (
        spark.readStream.schema("page_key long, warc_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    totals = st.stateful_tile_totals(stream, tile_res=2)
    q = (
        totals.writeStream.format("memory").queryName("stiles")
        .outputMode("update").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "sckpt")).start()
    )
    q.awaitTermination(300)
    rows = spark.sql("SELECT * FROM stiles").collect()
    assert rows
    # final state per tile = the max running total emitted
    final = {}
    emitted = {}
    for r in rows:
        final[r["tile"]] = max(final.get(r["tile"], 0), r["total_pages"])
        emitted[r["tile"]] = emitted.get(r["tile"], 0) + 1
    batch = (
        st.encode_stream(spark.read.parquet(src_dir), 12)
        .groupBy(cx.to_parent("cell", 2).alias("tile"))
        .agg(F.count("*").alias("n"),
             F.min(F.col("warc_ts").cast("long")).alias("mn"),
             F.max(F.col("warc_ts").cast("long")).alias("mx"))
    )
    want = {r["tile"]: (r["n"], r["mn"], r["mx"]) for r in batch.collect()}
    assert final == {t: v[0] for t, v in want.items()}
    # state genuinely carried across micro-batches: at least one tile
    # was updated in both batches (emitted twice with growing total)
    assert any(n >= 2 for n in emitted.values())
    # first/last event times from the last emission match the batch
    last_by_tile = {}
    for r in rows:
        if r["total_pages"] == final[r["tile"]]:
            last_by_tile[r["tile"]] = (r["first_ts"], r["last_ts"])
    for t, (n, mn, mx) in want.items():
        assert last_by_tile[t] == (mn, mx), t


def test_stream_tile_distinct_folds_batches(spark, tmp_path):
    """foreachBatch sketch fold: per-micro-batch HLL tables merged into
    one persisted table must estimate like sketching the whole input in
    one batch pass, with ids REPEATED across micro-batches counted once
    (union idempotence — the property that makes replays safe)."""
    from hexspark import ops
    from hexspark import streaming as st

    src_dir = str(tmp_path / "dsrc")
    # ids repeat across the two files (id % 300): a correct distinct
    # fold must NOT double-count them
    pages = spark.range(900).select(
        F.col("id"), (F.col("id") % 300).alias("page_key")
    ).cache()
    pages.filter(F.col("id") < 450).select("page_key").coalesce(1).write.mode("append").parquet(src_dir)
    pages.filter(F.col("id") >= 450).select("page_key").coalesce(1).write.mode("append").parquet(src_dir)
    stream = (
        spark.readStream.schema("page_key long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    table_dir = str(tmp_path / "sketches")
    q = st.stream_tile_distinct(
        stream, table_dir, str(tmp_path / "dckpt"), tile_res=2
    )
    q.awaitTermination(300)

    got = st.read_sketch_table(spark, table_dir)
    assert got is not None
    stream_est = {
        (r["z"], r["tile"]): r["n_docs_approx"]
        for r in ops.pyramid_from_sketch_table(got, 2).collect()
    }
    one_pass = {
        (r["z"], r["tile"]): r["n_docs_approx"]
        for r in ops.pyramid_unique_docs_approx(
            st.encode_stream(spark.read.parquet(src_dir), 12),
            2,
            id_col="page_key",
        ).collect()
    }
    assert set(stream_est) == set(one_pass) and len(stream_est) > 3
    for k, v in one_pass.items():
        assert abs(stream_est[k] - v) <= max(2, 0.02 * v), (k, v)
    # distinct, not count: the global total is ~300 (unique page_keys),
    # not ~900 (rows)
    top = sum(v for (z, _), v in stream_est.items() if z == 0)
    assert top < 450, top
    # only the latest generation is kept on disk
    import os

    gens = [d for d in os.listdir(table_dir) if d.startswith("g")]
    assert len(gens) == 1, gens


def test_streaming_region_assign(spark, tmp_path):
    """availableNow micro-batch run of the streaming pipeline over a
    file source; results must equal the batch pipeline on the same rows."""
    from hexspark import ops
    from hexspark import streaming as st

    src_dir = str(tmp_path / "stream_src")
    out: dict[int, list] = {}
    pages = spark.range(500).select(
        F.col("id").alias("page_key"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("warc_ts"),
    )
    pages.write.mode("overwrite").parquet(src_dir)

    regions = ops.region_map(spark).cache()
    regions.count()

    stream = spark.readStream.schema(
        "page_key long, warc_ts timestamp"
    ).parquet(src_dir)

    def sink(df, batch_id):
        out.setdefault(batch_id, []).extend(
            df.filter(F.col("stored_cell").isNotNull())
            .select("page_key", "region").collect()
        )

    q = st.stream_region_assign(
        stream, regions, str(tmp_path / "ckpt"), sink
    )
    q.awaitTermination(300)

    got = {(r["page_key"], r["region"]) for rows in out.values() for r in rows}
    # batch reference
    batch = st.encode_stream(spark.read.parquet(src_dir))
    from hexspark import join as jx

    expected = {
        (r["page_key"], r["region"])
        for r in jx.get_chained(batch, regions, probe_col="cell")
        .select("page_key", "region").collect()
    }
    assert got == expected and len(got) > 0


def test_streaming_dedup_exact(spark, tmp_path):
    """Watermarked streaming dedup: duplicates arriving in LATER
    micro-batches (maxFilesPerTrigger=1) must be dropped by the state
    carried across batches; the surviving fingerprint set equals the
    batch distinct set."""
    from hexspark import streaming as st
    from hexspark.text import fingerprint

    src_dir = str(tmp_path / "dsrc")
    docs = spark.range(400).select(
        F.col("id"),
        # 100 distinct texts, each appearing 4 times spread over both files
        F.concat(F.lit("doc body "), (F.col("id") % 100).cast("string")).alias("text"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("warc_ts"),
    ).cache()
    cols = ["text", "warc_ts"]
    docs.filter(F.col("id") < 200).select(cols).coalesce(1).write.mode("append").parquet(src_dir)
    docs.filter(F.col("id") >= 200).select(cols).coalesce(1).write.mode("append").parquet(src_dir)
    stream = (
        spark.readStream.schema("text string, warc_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    deduped = st.stream_dedup_exact(stream, watermark="10 minutes")
    q = (
        deduped.writeStream.format("memory").queryName("sdedup")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "dckpt")).start()
    )
    q.awaitTermination(300)
    rows = spark.sql("SELECT * FROM sdedup").collect()
    got_fps = [r["fp"] for r in rows]
    want_fps = {
        r["fp"]
        for r in spark.read.parquet(src_dir)
        .select(fingerprint(F.col("text")).alias("fp"))
        .distinct()
        .collect()
    }
    # every distinct fingerprint exactly once — cross-batch dups dropped
    assert sorted(got_fps) == sorted(want_fps)
    assert len(got_fps) == 100


def test_streaming_event_sessions(spark, tmp_path):
    """event_sessions under Structured Streaming: watermarked session
    windows across forced micro-batches must emit exactly the batch
    sessions whose window closed before the final watermark (append
    mode), value-identical to the batch twin."""
    from hexspark.streaming import event_sessions

    src_dir = str(tmp_path / "esrc")
    ev = spark.range(2000).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 7).alias("user_id"),
        # bursts: 5 events 10s apart, then a 2h gap
        F.timestamp_seconds(
            F.lit(1700000000)
            + (F.col("id") / 35).cast("long") * 7200
            + (F.col("id") % 35) * 10
        ).alias("ts"),
    ).cache()
    cols = ["event_id", "user_id", "ts"]
    ev.filter(F.col("id") < 1000).select(cols).coalesce(1).write.mode("append").parquet(src_dir)
    ev.filter(F.col("id") >= 1000).select(cols).coalesce(1).write.mode("append").parquet(src_dir)
    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    sessions = event_sessions(
        stream.withWatermark("ts", "0 seconds"), gap_seconds=1800
    )
    q = (
        sessions.writeStream.format("memory").queryName("ssess")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "esckpt")).start()
    )
    q.awaitTermination(300)
    got = {tuple(r) for r in spark.sql("SELECT * FROM ssess").collect()}
    batch = event_sessions(spark.read.parquet(src_dir), gap_seconds=1800)
    want_all = {tuple(r) for r in batch.collect()}
    # emitted sessions are exact batch sessions; only those still open
    # at the final watermark may be withheld
    assert got <= want_all
    assert len(got) >= len(want_all) - 7  # at most one open session/user
    assert len(got) > 0


def test_docs_jsonl_roundtrip_and_quarantine(spark, tmp_path):
    """write -> read recovers the documents exactly; malformed and
    wrong-typed lines quarantine with the raw line instead of failing
    or silently dropping."""
    from hexspark.storage import read_docs_jsonl, write_docs_jsonl

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "docs_jsonl")
    write_docs_jsonl(docs, out, n_files=2)
    valid, quar = read_docs_jsonl(spark, out)
    assert quar.count() == 0
    a = sorted(map(tuple, docs.collect()))
    b = sorted(map(tuple, valid.select(*docs.columns).collect()))
    assert a == b
    # plant corruption: one broken JSON line, one type mismatch
    with open(f"{out}/zz_bad.json", "w") as fh:
        fh.write('{"doc_id": 1, "text": "ok…\n')
        fh.write('{"doc_id": "not-a-number", "text": "t"}\n')
    valid2, quar2 = read_docs_jsonl(spark, out)
    bad = [r["raw_line"] for r in quar2.collect()]
    assert len(bad) == 2 and all(b for b in bad)
    assert valid2.count() == docs.count()


def test_docs_csv_roundtrip_and_quarantine(spark, tmp_path):
    """CSV twin of the JSONL contract: exact round-trip (including
    quoted commas/newlines in text) and raw-line quarantine for
    mistyped rows."""
    from hexspark.storage import read_docs_csv, write_docs_csv

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # the sf0.001 corpus has no newlines/commas/quotes — plant rows that
    # stress the escape: embedded \n and \r (would shear the line
    # splitter), literal %0A / % (escape-collision candidates), comma,
    # quote
    nasty = spark.createDataFrame(
        [
            (900000001, "line one\nline two\r\nline %0A three", "en", "web", 33),
            (900000002, 'comma, "quoted", 100% done\\', "en", "web", 27),
        ],
        docs.schema,
    )
    docs = docs.unionByName(nasty)
    out = str(tmp_path / "docs_csv")
    write_docs_csv(docs, out, n_files=2)
    valid, quar = read_docs_csv(spark, out)
    assert quar.count() == 0
    a = sorted(map(tuple, docs.collect()))
    b = sorted(map(tuple, valid.select(*docs.columns).collect()))
    assert a == b
    with open(f"{out}/zz_bad.csv", "w") as fh:
        fh.write("not-a-number,text,en,web,5\n")
    valid2, quar2 = read_docs_csv(spark, out)
    assert quar2.count() == 1
    assert valid2.count() == docs.count()
