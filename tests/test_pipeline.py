"""End-to-end resumable pipeline test: run, crash-simulate, resume."""

import json
import os

from pyspark.sql import functions as F

from hexspark.pipeline import run_pipeline


def test_pipeline_runs_and_resumes(spark, sf_dir, tmp_path):
    work = str(tmp_path / "work")
    out = run_pipeline(spark, sf_dir, work, copies=2)
    counts1 = {r["region"]: r["n_pages"] for r in out["region_counts"].collect()}
    assert sum(counts1.values()) > 0
    lineage = out["lineage"]
    assert set(lineage) >= {"pages", "pages_valid", "region_map", "assigned",
                            "region_counts", "tile_rollup"}
    for name, man in lineage.items():
        assert man["complete"] and man["rows"] >= 0 and man["n_partitions"] >= 1
    assert lineage["pages_valid"]["quarantined_rows"] == 0  # all synth cells valid

    # simulate a crash after 'assigned': delete downstream manifests
    for stage in ("region_counts", "tile_rollup"):
        os.remove(os.path.join(work, stage, "_hexspark_manifest.json"))
    # and corrupt upstream data to prove resume does NOT recompute it
    # (if it did, results would change)
    out2 = run_pipeline(spark, sf_dir, work, copies=2)
    counts2 = {r["region"]: r["n_pages"] for r in out2["region_counts"].collect()}
    assert counts2 == counts1

    # full re-run with everything complete touches nothing and agrees
    out3 = run_pipeline(spark, sf_dir, work, copies=2)
    counts3 = {r["region"]: r["n_pages"] for r in out3["region_counts"].collect()}
    assert counts3 == counts1


def test_corpus_pipeline_runs_and_resumes(spark, sf_dir, tmp_path):
    """End-to-end corpus curation (features → simhash pairs → clusters
    → keepers → stats) with checkpoint/resume: second run must read
    every stage back instead of recomputing, outputs identical."""
    from hexspark.pipeline import run_corpus_pipeline

    root = str(tmp_path / "corpus")
    out = run_corpus_pipeline(spark, sf_dir, root)
    stats1 = sorted(tuple(r) for r in out["corpus_stats"].collect())
    assert stats1
    keepers = out["keepers"].collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert 0 < len(keepers) <= n_docs
    # keepers are cluster representatives: id == cluster, unique
    assert all(r["doc_id"] == r["cluster"] for r in keepers)
    assert len({r["doc_id"] for r in keepers}) == len(keepers)
    lin = out["lineage"]
    for st in ("doc_features", "dup_pairs", "dup_clusters", "keepers", "corpus_stats"):
        assert lin[st]["complete"] and lin[st]["rows"] >= 0, st
    # resume: manifests unchanged (no recompute — finished_at identical)
    out2 = run_corpus_pipeline(spark, sf_dir, root)
    stats2 = sorted(tuple(r) for r in out2["corpus_stats"].collect())
    assert stats2 == stats1
    lin2 = out2["lineage"]
    assert {s: lin2[s]["finished_at"] for s in lin2} == {
        s: lin[s]["finished_at"] for s in lin
    }


def test_corpus_pipeline_exact_dup_precollapse(spark, sf_dir, tmp_path):
    """m identical copies of one page must cost the pipeline O(m) pair
    rows (one (rep, member) edge per extra copy), NOT the C(m, 2) rows
    a signature bucket would emit if exact dups reached the near-dup
    miner — and the cluster/keeper outputs must be exactly what mining
    the un-collapsed corpus produces."""
    from pyspark.sql import functions as F

    from hexspark import dedup as ddp
    from hexspark.pipeline import run_corpus_pipeline

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    m = 1000
    copies = (
        spark.range(1, m)
        .crossJoin(docs.filter(F.col("doc_id") == 0).select("text", "lang", "source", "n_chars"))
        .select(
            (F.col("id") + 100_000).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )
    )
    corpus = docs.unionByName(copies)

    out = run_corpus_pipeline(
        spark, sf_dir, str(tmp_path / "precollapse"), docs=corpus
    )
    n_pairs = out["dup_pairs"].count()
    # O(copies): the 999 rep->member edges plus whatever genuine
    # near-dup pairs exist among the 40 distinct docs — nowhere near
    # the ~499,500 pairs of the C(m, 2) blowup
    assert m - 1 <= n_pairs < 3 * m, n_pairs
    # every copy clusters with doc 0, and exactly one keeper survives
    clusters = {r["id"]: r["cluster"] for r in out["dup_clusters"].collect()}
    assert all(clusters[100_000 + i] == 0 for i in range(1, m))
    keeper_ids = {r["doc_id"] for r in out["keepers"].collect()}
    assert 0 in keeper_ids
    assert not any(100_000 + i in keeper_ids for i in range(1, m))
    # ground truth: clusters equal the UN-collapsed miner's clusters
    want = {
        (r["id"], r["cluster"])
        for r in ddp.dup_clusters(
            ddp.simhash_pairs(corpus, max_hamming=3, bits=64),
            all_ids=corpus.select("doc_id"),
        ).collect()
    }
    assert {(k, v) for k, v in clusters.items()} == want


def test_corpus_pipeline_no_exact_dups_equals_uncollapsed(spark, sf_dir, tmp_path):
    """With zero exact duplicates the always-on pre-collapse (anti-join
    plus an empty rep-edge union) must leave pairs, clusters and
    keepers exactly as the un-collapsed miner gives them."""
    from hexspark import dedup as ddp
    from hexspark import text as tx
    from hexspark.pipeline import _doc_features, run_corpus_pipeline, select_keepers

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    firsts = docs.groupBy(tx.fingerprint(F.col("text")).alias("fp")).agg(
        F.min("doc_id").alias("doc_id")
    )
    corpus = docs.join(firsts.select("doc_id"), on="doc_id", how="leftsemi")
    assert corpus.count() == firsts.count()  # no exact dups left

    out = run_corpus_pipeline(spark, sf_dir, str(tmp_path / "nodups"), docs=corpus)
    want_pairs = ddp.simhash_pairs(corpus, max_hamming=3, bits=64)
    assert sorted(map(tuple, out["dup_pairs"].collect())) == sorted(
        map(tuple, want_pairs.collect())
    )
    want_clusters = ddp.dup_clusters(want_pairs, all_ids=corpus.select("doc_id"))
    assert sorted(map(tuple, out["dup_clusters"].collect())) == sorted(
        map(tuple, want_clusters.collect())
    )
    want_keepers = select_keepers(_doc_features(corpus), want_clusters, 0.0)
    cols = ["doc_id", "cluster", "toks", "lang_guess", "quality", "fp"]
    assert sorted(map(tuple, out["keepers"].select(*cols).collect())) == sorted(
        map(tuple, want_keepers.select(*cols).collect())
    )


def test_dup_clusters_driver_path_is_a_local_relation(spark, sf_dir):
    """The driver-side union-find fetches edges through Arrow and builds
    its (id, cluster) table from Arrow: a LocalTableScan, no
    ExistingRDD (a list of Rows would need Python workers to convert)."""
    from hexspark import dedup as ddp

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = ddp.simhash_pairs(docs, max_hamming=3, bits=32)
    assert pairs.count() > 0
    for all_ids in (None, docs.select("doc_id")):
        out = ddp.dup_clusters(pairs, all_ids=all_ids)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_corpus_pipeline_passage_removal(spark, sf_dir, tmp_path):
    """remove_shared_passages=True adds checkpointed passages /
    passage_stats / cleaned_docs stages: planted shared passages are
    mined among KEEPER docs, one copy survives after cleaning, the
    max_df audit row is surfaced, and resume reads the stages back."""
    from pyspark.sql import functions as F

    from hexspark.pipeline import run_corpus_pipeline

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    common = " ".join(f"shared{i}" for i in range(20))
    planted = spark.createDataFrame(
        [
            (900001, f"alpha opening {common} alpha closing words here", "en",
             "web", 60),
            (900002, f"totally other beginning {common} and an ending", "en",
             "web", 61),
        ],
        docs.schema,
    )
    docs = docs.unionByName(planted)
    root = str(tmp_path / "corpus_pass")
    out = run_corpus_pipeline(
        spark, sf_dir, root, docs=docs, remove_shared_passages=True,
        passage_max_df=64,
    )
    spans = out["passages"].collect()
    assert any(
        r["doc_a"] == 900001 and r["doc_b"] == 900002 and r["len_tokens"] >= 20
        for r in spans
    )
    cleaned = out["cleaned_docs"]
    c1 = cleaned.filter(F.col("doc_id") == 900001).first()
    c2 = cleaned.filter(F.col("doc_id") == 900002).first()
    assert c1 is not None and c2 is not None
    # lower doc keeps the passage, higher doc loses exactly it
    assert "shared0" in c1["clean_text"]
    assert "shared0" not in c2["clean_text"]
    assert c2["removed_tokens"] >= 20
    srow = out["passage_stats"].first()
    assert srow["n_capped_grams"] == 0  # synthetic corpus: nothing capped
    lin = out["lineage"]
    for st in ("passages", "passage_stats", "cleaned_docs"):
        assert lin[st]["complete"], st
    # resume: no recompute
    out2 = run_corpus_pipeline(
        spark, sf_dir, root, docs=docs, remove_shared_passages=True,
        passage_max_df=64,
    )
    lin2 = out2["lineage"]
    assert {s: lin2[s]["finished_at"] for s in lin2} == {
        s: lin[s]["finished_at"] for s in lin
    }
    # a tiny cap drops the planted 20-token passage's grams and SAYS so
    # (the audit row is the no-silent-cap contract)
    out3 = run_corpus_pipeline(
        spark, sf_dir, str(tmp_path / "corpus_cap1"), docs=docs,
        remove_shared_passages=True, passage_max_df=1,
    )
    srow3 = out3["passage_stats"].first()
    assert srow3["n_capped_grams"] >= 13  # the 20-token passage's grams
    assert srow3["max_doc_freq"] >= 2


def test_select_keepers_quality_floor(spark):
    """A cluster survives the quality floor as long as ANY member
    passes: the keeper is the min id AMONG qualified members, not the
    canonical min id filtered afterwards (which would drop a whole
    cluster when its lowest-id copy is the low-quality one)."""
    from hexspark.pipeline import select_keepers

    feats = spark.createDataFrame(
        [(1, 10), (2, 90), (3, 95), (7, 5), (9, 80)],
        "doc_id: long, quality: long",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (9, 9)], "id: long, cluster: long"
    )
    out = {(r["doc_id"], r["cluster"])
           for r in select_keepers(feats, clusters, 50).collect()}
    # cluster 1: min-id member (1, q=10) fails the floor → keeper is 2;
    # cluster 7: sole member fails → cluster dropped;
    # cluster 9: singleton passes → kept
    assert out == {(2, 1), (9, 9)}
    # floor 0 keeps the canonical min ids exactly
    out0 = {(r["doc_id"], r["cluster"])
            for r in select_keepers(feats, clusters, 0).collect()}
    assert out0 == {(1, 1), (7, 7), (9, 9)}


def test_nearest_region_planted_two_tiers(spark):
    """Gap-fill assignment: contained pages ring 0; near misses resolve
    in the ring tier, a far miss (beyond max_ring) in the brute
    broadcast-min tier — all must equal a python brute force with the
    same (ring, cell) tie-break."""
    from hexspark import ops
    from hexspark import cells as cx
    from hexspark.geo import cell_to_ij, grid_encode

    NN_RES = 2
    # region anchors + probe points, all lat/lon-driven
    anchors = [("a", 10.0, 10.0), ("b", 10.0, 14.0)]
    regions = spark.createDataFrame(
        anchors, "region string, lat double, lon double"
    ).select(
        grid_encode(F.col("lat"), F.col("lon"), NN_RES).alias("cell"),
        "region",
    )
    pts = [
        (1, 10.0, 10.0),   # inside region a's cell -> contains
        (2, 10.0, 11.2),   # near miss -> ring tier
        (3, -60.0, -150.0) # far miss -> brute tier (beyond max_ring)
    ]
    pages = spark.createDataFrame(
        pts, "page_key long, lat double, lon double"
    ).select(
        "page_key", grid_encode(F.col("lat"), F.col("lon"), 12).alias("cell")
    )
    out = {
        r["page_key"]: (r["region"], r["ring"], r["via"])
        for r in ops.nearest_region(
            pages, regions, nn_res=NN_RES, max_ring=2
        ).collect()
    }

    # python brute force over lattice coords (same metric + tie-break)
    ri, rj = cell_to_ij(F.col("cell"), NN_RES)
    rcells = [
        (r["cell"], r["region"], r["i"], r["j"])
        for r in regions.select(
            "cell", "region", ri.alias("i"), rj.alias("j")
        ).collect()
    ]
    pi, pj = cell_to_ij(cx.to_parent("cell", NN_RES), NN_RES)
    probes = {
        r["page_key"]: (r["p"], r["i"], r["j"])
        for r in pages.select(
            "page_key",
            cx.to_parent("cell", NN_RES).alias("p"),
            pi.alias("i"),
            pj.alias("j"),
        ).collect()
    }
    rcell_set = {c for c, *_ in rcells}
    for key, (p, i, j) in probes.items():
        if p in rcell_set:
            reg = next(g for c, g, *_ in rcells if c == p)
            assert out[key] == (reg, 0, "contains"), key
        else:
            ring, _, reg = min(
                (max(abs(i - ci), abs(j - cj)), c, g)
                for c, g, ci, cj in rcells
            )
            assert out[key] == (reg, ring, "nearest"), key
    # the far point genuinely exercised the brute tier
    far_ring = out[3][1]
    assert far_ring > 2, far_ring


def test_pyramid_unique_docs_planted_and_branches(spark):
    """Distinct rollup: a doc whose pages span sibling tiles must
    count ONCE in the shared parent (sum-rollup would double it), and
    the exploded single-shuffle branch must equal the cascade."""
    from hexspark import ops, synth
    from hexspark import cells as cx

    # two docs sharing THREE res-6 cells: 48 pages collapse to 6
    # distinct (cell, doc) pairs at the base, and every level counts
    # each doc once per tile (a sum-rollup would report 40/8)
    pages = spark.range(48).select(
        synth.cell_from_key(F.col("id") % 3, 6).alias("cell"),
        (F.col("id") < 40).cast("long").alias("doc_id"),
    )
    rows = ops.pyramid_unique_docs(
        pages, 3, explode_max_rows=10**9
    ).collect()
    casc = ops.pyramid_unique_docs(pages, 3, explode_max_rows=0).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, casc))

    # per-level distinct twin via the (independently golden-tested)
    # to_parent expr — here we only check the rollup, not the bit math
    for z in range(4):
        lv = (
            pages.select(
                cx.to_parent("cell", z).alias("tile"), "doc_id"
            )
            .distinct()
            .groupBy("tile")
            .count()
            .collect()
        )
        want = {(r["tile"], r["count"]) for r in lv}
        got = {(r["tile"], r["n_docs"]) for r in rows if r["z"] == z}
        assert got == want, z
    # every level must show deduplication: 48 pages, 2 docs, 3 cells —
    # no level's total may exceed 6, and a tile holding both docs
    # reports 2, never its page count
    for z in range(4):
        lv = [r for r in rows if r["z"] == z]
        assert sum(r["n_docs"] for r in lv) <= 6
        assert max(r["n_docs"] for r in lv) <= 2


def test_pyramid_unique_docs_approx_tracks_exact(spark):
    """HLL-merge pyramid (one pages-scale shuffle, sketches union up
    the levels) stays within tolerance of the exact set-reduction on
    every (z, tile)."""
    from hexspark import ops, synth

    pages = spark.range(30000).select(
        synth.cell_from_key(F.col("id"), 6).alias("cell"),
        (F.col("id") % 1117).alias("doc_id"),
    )
    exact = {
        (r["z"], r["tile"]): r["n_docs"]
        for r in ops.pyramid_unique_docs(pages, 2).collect()
    }
    approx = {
        (r["z"], r["tile"]): r["n_docs_approx"]
        for r in ops.pyramid_unique_docs_approx(pages, 2, lg_k=14).collect()
    }
    assert set(exact) == set(approx) and len(exact) > 3
    for k, d in exact.items():
        ad = approx[k]
        assert abs(ad - d) <= max(3, 0.1 * d), (k, d, ad)


def test_sketch_table_incremental_merge(spark):
    """Incremental distinct rollup: per-batch sketch tables folded with
    merge_sketch_tables must estimate like sketching the union in one
    pass — old pages never re-scanned."""
    from hexspark import ops, synth

    all_pages = spark.range(24000).select(
        synth.cell_from_key(F.col("id"), 6).alias("cell"),
        (F.col("id") % 913).alias("doc_id"),
        (F.col("id") % 2).alias("batch"),
    )
    one_pass = {
        (r["z"], r["tile"]): r["n_docs_approx"]
        for r in ops.pyramid_unique_docs_approx(all_pages, 2).collect()
    }
    b0 = ops.tile_sketch_table(all_pages.filter("batch = 0"), 2)
    b1 = ops.tile_sketch_table(all_pages.filter("batch = 1"), 2)
    merged = ops.merge_sketch_tables(b0, b1)
    incr = {
        (r["z"], r["tile"]): r["n_docs_approx"]
        for r in ops.pyramid_from_sketch_table(merged, 2).collect()
    }
    assert set(incr) == set(one_pass) and len(incr) > 3
    for k, v in one_pass.items():
        assert abs(incr[k] - v) <= max(2, 0.02 * v), (k, v, incr[k])


def test_tile_pyramid_branches_agree(spark, sf_dir):
    """tile_pyramid is cardinality-probed: the single-shuffle explode
    rollup (small pyramids) and the cascaded child rollup (tile
    cardinality near page cardinality) must emit identical levels."""
    from hexspark import ops
    from hexspark.pages import synth_pages

    pages = synth_pages(spark, sf_dir, copies=2, res=12, with_html=False)
    a = sorted(
        tuple(r)
        for r in ops.tile_pyramid(pages, 5, explode_max_rows=10**9).collect()
    )
    b = sorted(
        tuple(r)
        for r in ops.tile_pyramid(pages, 5, explode_max_rows=0).collect()
    )
    assert a == b and a
    zs = {r[0] for r in a}
    assert zs == set(range(6))
    # every level's total equals the page count
    total = {z: sum(r[2] for r in a if r[0] == z) for z in zs}
    assert len(set(total.values())) == 1


def test_corpus_append_equals_union(spark, sf_dir, tmp_path):
    """Incremental ingest: two successive run_corpus_append calls over
    corpus slices must produce keepers IDENTICAL to one
    run_corpus_pipeline over the union, WITHOUT recomputing any base
    stage (signatures/pairs manifests untouched), and refuse miner
    config drift."""
    import pytest

    from hexspark.checkpoint import Checkpointer
    from hexspark.pipeline import run_corpus_append, run_corpus_pipeline

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.filter(F.col("doc_id") < 300)
    mid = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400))
    tail = docs.filter(F.col("doc_id") >= 400)

    inc_root = str(tmp_path / "inc")
    out_base = run_corpus_pipeline(
        spark, sf_dir, inc_root, docs=base, min_quality=30
    )
    sig_done = out_base["lineage"]["signatures"]["finished_at"]
    pairs_done = out_base["lineage"]["dup_pairs"]["finished_at"]

    out_a1 = run_corpus_append(spark, mid, inc_root, min_quality=30)
    assert out_a1["gen"] == 1
    out_a2 = run_corpus_append(spark, tail, inc_root, min_quality=30)
    assert out_a2["gen"] == 2

    ck = Checkpointer(spark, inc_root)
    assert ck.manifest("signatures")["finished_at"] == sig_done
    assert ck.manifest("dup_pairs")["finished_at"] == pairs_done

    out_full = run_corpus_pipeline(
        spark, sf_dir, str(tmp_path / "full"), docs=docs, min_quality=30
    )
    k_inc = sorted(
        (r["doc_id"], r["cluster"]) for r in out_a2["keepers"].collect()
    )
    k_full = sorted(
        (r["doc_id"], r["cluster"]) for r in out_full["keepers"].collect()
    )
    assert k_inc == k_full and k_inc
    # delta mining yields only pairs touching the appended slice
    assert all(
        r["idb"] >= 400 for r in out_a2["dup_pairs_delta"].collect()
    )
    # stats roll up over the union
    n_stats = sum(r["n_docs"] for r in out_a2["corpus_stats"].collect())
    assert n_stats == len(k_inc)

    # guard rails: miner drift and missing base both refuse
    with pytest.raises(ValueError, match="drift"):
        run_corpus_append(spark, tail, inc_root, max_hamming=2)
    with pytest.raises(ValueError, match="incomplete"):
        run_corpus_append(spark, tail, str(tmp_path / "nothing"))


def test_corpus_pipeline_minhash_miner(spark, sf_dir, tmp_path):
    """pair_miner='minhash': banded-LSH pairs drive the same cluster →
    keeper chain (policy pluggability); planted exact + near dups
    cluster, the unique doc survives, and switching miners on one work
    dir recomputes (params invalidation)."""
    from hexspark.pipeline import run_corpus_pipeline

    s1 = ("the quick brown fox jumps over the lazy dog while the rain "
          "falls softly on the quiet town square tonight")
    s2 = ("meanwhile the harbor lights flicker as boats drift slowly "
          "past the old stone pier at dusk in autumn")
    docs = spark.createDataFrame(
        [
            (1, f"{s1} {s2}", "en"),
            (2, f"{s1} {s2}", "en"),            # exact dup of 1
            (3, f"{s1} extra {s2}", "en"),      # near dup (insertion)
            (4, "completely different prose about spark query planning"
                " catalyst shuffles and adaptive execution stages", "en"),
        ],
        "doc_id: long, text: string, lang: string",
    )
    root = str(tmp_path / "mh")
    out = run_corpus_pipeline(
        spark, sf_dir, root, docs=docs, pair_miner="minhash"
    )
    pairs = {(r["ida"], r["idb"]) for r in out["dup_pairs"].collect()}
    assert (1, 2) in pairs and (1, 3) in pairs
    keepers = sorted(r["doc_id"] for r in out["keepers"].collect())
    assert keepers == [1, 4]
    assert out["lineage"]["signatures"]["params"]["pair_miner"] == "minhash"
    # same work dir, simhash miner → signature/pair stages recompute
    out2 = run_corpus_pipeline(spark, sf_dir, root, docs=docs)
    assert out2["lineage"]["signatures"]["params"]["pair_miner"] == "simhash"
    assert sorted(r["doc_id"] for r in out2["keepers"].collect()) == [1, 4]


def test_select_keepers_mega_cluster_plan(spark):
    """Planted mega-cluster (one cluster ≫ all others, the boilerplate
    pathology of crawl dedup): keeper selection must aggregate with a
    map-side partial min — never a window over partitionBy(cluster),
    whose single per-cluster reducer sort is the 100-TB straggler."""
    from hexspark.pipeline import select_keepers

    n = 5000
    feats = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(50.0).alias("quality")
    )
    clusters = spark.range(n).select(
        F.col("id"),
        F.when(F.col("id") < n - 100, F.lit(0))
        .otherwise(F.col("id")).cast("long").alias("cluster"),
    )
    out = select_keepers(feats, clusters, 0.0)
    rows = {(r["doc_id"], r["cluster"]) for r in out.collect()}
    assert (0, 0) in rows and len(rows) == 101
    plan = (
        out._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "Window" not in plan, plan[:3000]
    assert "partial_min" in plan, plan[:3000]


def test_pipeline_bucketed_tiles_no_exchange(spark, sf_dir, tmp_path):
    """bucket_tiles: the pages_tiled stage materializes hash-bucketed on
    the tile prefix, the downstream rollup's ONLY shuffle is the final
    region-cardinality aggregate (tile groupBy rides the bucket layout,
    containment join broadcasts), and output matches the unbucketed
    pipeline exactly."""
    import re

    from hexspark import ops

    tbl = None
    try:
        out = run_pipeline(spark, sf_dir, str(tmp_path / "wb"),
                           copies=2, bucket_tiles=8)
        roll1 = {(r["region"], r["n_tiles"], r["n_pages"])
                 for r in out["tile_rollup"].collect()}
        out2 = run_pipeline(spark, sf_dir, str(tmp_path / "plain"), copies=2)
        roll2 = {(r["region"], r["n_tiles"], r["n_pages"])
                 for r in out2["tile_rollup"].collect()}
        assert roll1 == roll2 and roll1
        lin = out["lineage"]
        assert lin["pages_tiled"]["bucket_col"] == "tile"
        assert lin["pages_tiled"]["n_buckets"] == 8
        assert lin["pages_tiled"]["rows"] == lin["pages_valid"]["rows"]
        # catalog name is namespaced per work dir (the catalog is
        # session-global; a bare stage name would let two pipelines
        # clobber each other's bucketed tables)
        tbl = lin["pages_tiled"]["table"]
        assert tbl.startswith("pages_tiled_") and tbl != "pages_tiled"

        # executed-plan assert on the pipeline's second join: re-drive
        # the rollup over the bucketed table and count real shuffles
        roll = ops.tile_region_rollup_pretiled(
            spark.table(tbl), out["regions"]
        )
        roll.collect()
        # AQE's toString repeats the tree as "== Initial Plan ==" —
        # assert on the executed final section only
        plan = (
            roll._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        assert "Bucketed: true" in plan, plan[:3000]
        shuffles = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
        assert len(shuffles) == 1 and shuffles[0].startswith("region"), plan[:3000]

        # resume: bucketed stage is read back, not rebuilt
        out3 = run_pipeline(spark, sf_dir, str(tmp_path / "wb"),
                            copies=2, bucket_tiles=8)
        assert out3["lineage"]["pages_tiled"]["finished_at"] == \
            lin["pages_tiled"]["finished_at"]
    finally:
        if tbl:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_corpus_pipeline_sampled_stage(spark, sf_dir, tmp_path):
    """sample_bps inserts a deterministic downsample between keepers
    and stats: membership is a pure doc_id function, so a re-run (and
    a resume) reproduces the identical sampled corpus."""
    from hexspark.pipeline import run_corpus_pipeline
    from hexspark.sample import sample_hash

    root = str(tmp_path / "cs")
    # first run WITHOUT sampling on the same work dir: the later
    # sampled run must RECOMPUTE corpus_stats (its input wiring
    # changed keepers→sampled), not read back the unsampled stats
    out0 = run_corpus_pipeline(spark, sf_dir, root)
    stats0 = {r["lang_guess"]: r["n_docs"] for r in out0["corpus_stats"].collect()}

    out = run_corpus_pipeline(spark, sf_dir, root, sample_bps=5000)
    stats1 = {r["lang_guess"]: r["n_docs"] for r in out["corpus_stats"].collect()}
    assert sum(stats1.values()) < sum(stats0.values())
    assert sum(stats1.values()) == out["sampled"].count()
    keep = {r["doc_id"] for r in out["keepers"].collect()}
    samp = {r["doc_id"] for r in out["sampled"].collect()}
    assert samp < keep and samp
    # exact membership law, not just a rate
    draws = {
        r["doc_id"]: r["d"]
        for r in out["keepers"].select(
            "doc_id", sample_hash(F.col("doc_id")).alias("d")
        ).collect()
    }
    assert samp == {k for k, d in draws.items() if d < 5000}
    assert out["lineage"]["sampled"]["complete"]
    assert out["lineage"]["corpus_stats"]["inputs"] == ["sampled"]
    # resume reproduces it byte-for-byte
    out2 = run_corpus_pipeline(spark, sf_dir, root, sample_bps=5000)
    assert {r["doc_id"] for r in out2["sampled"].collect()} == samp
    # TRANSITIVE invalidation: changing sample_bps must recompute the
    # downstream stats too (params propagate through the chain), not
    # resume stats wired to the old rate
    out3 = run_corpus_pipeline(spark, sf_dir, root, sample_bps=1000)
    s3 = {r["doc_id"] for r in out3["sampled"].collect()}
    assert s3 < samp
    n3 = sum(r["n_docs"] for r in out3["corpus_stats"].collect())
    assert n3 == len(s3) != len(samp)
    # lineage reflects THIS run's wiring only: after an unsampled
    # re-run on the same root the leftover sampled manifest is not
    # reported as an active stage
    out4 = run_corpus_pipeline(spark, sf_dir, root)
    assert "sampled" not in out4["lineage"]
    n4 = sum(r["n_docs"] for r in out4["corpus_stats"].collect())
    assert n4 == len(keep)
