"""Per-query isolation + plan-capture harness for the optimization round.

NOT the frozen driver bench (bench.py) — this mirrors its query
construction exactly but lets one query be run/explained in isolation:

    python bench_extra.py --only q28,q33 --rounds 3
    python bench_extra.py --only q28 --explain plans/r07/shared_passages_before.txt

Timings here use the same cachepool-clear + System.gc methodology as
bench.py so numbers are comparable; plan dumps are `.explain("formatted")`
of the exact DataFrame the bench action consumes.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from hexspark import ops  # noqa: E402
from hexspark import build as bx  # noqa: E402
from hexspark import cells as cx  # noqa: E402
from hexspark import synth  # noqa: E402
from hexspark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
COPIES = int(os.environ.get("BENCH_COPIES", "4000"))


def build_queries(spark):
    """name -> (df_builder, action) mirroring bench.py's run()."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()
    dim = docs.select("doc_id", "lang")
    raw = (
        spark.range(0, n_docs * COPIES, 1, int(CPUS) * 2)
        .select(F.col("id").alias("page_key"), (F.col("id") % n_docs).alias("doc_id"))
        .join(F.broadcast(dim), on="doc_id")
        .drop("doc_id")
        .persist()
    )
    raw.count()
    regions = ops.region_map(spark).persist()
    regions.count()

    def geotagged():
        lat, lon = synth.latlon_from_key(F.col("page_key"))
        from hexspark.geo import grid_encode

        return (
            raw.withColumn("lat", lat).withColumn("lon", lon)
            .withColumn("cell", grid_encode(F.col("lat"), F.col("lon"), 12))
        )

    pages = geotagged()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")

    Q = {}

    Q["q1_region_assign"] = (lambda: ops.region_counts(pages, regions), "collect")
    Q["q3_tile_rollup"] = (
        lambda: ops.tile_region_rollup(pages, regions, 6), "collect")

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    cells = li.select(synth.cell_from_key(F.col("l_partkey"), 8).alias("cell"))
    Q["q4_build_compact"] = (
        lambda: bx.build_region(cells, compactor="set"), "count")

    from hexspark.dedup import dedup_exact
    Q["q6_dedup_exact"] = (lambda: dedup_exact(docs), "count")

    from hexspark.embed import ann_topk_brute
    Q["q7_ann_topk"] = (lambda: ann_topk_brute(emb, q, 10), "count")

    import numpy as np
    from hexspark.geo import grid_encode, grid_encode_np, knn_rings

    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    clat, clon = synth.latlon_from_key(F.col("c_custkey"))
    stored9 = (
        cust.select(clat.alias("lat"), clon.alias("lon"))
        .select(grid_encode(F.col("lat"), F.col("lon"), 5).alias("cell"))
        .distinct()
    )
    pk = np.arange(20, dtype=np.int64) * 977
    plat, plon = (pk % 140) - 70.0, (pk % 320) - 160.0
    probes9 = spark.createDataFrame(
        [(int(c),) for c in np.unique(grid_encode_np(plat.astype(float), plon.astype(float), 5))],
        "probe: long",
    )
    Q["q9_knn_rings"] = (
        lambda: knn_rings(stored9, probes9, k=5, max_ring=60, res=5), "count")

    from hexspark.geo import polyfill_hier
    poly = [(30.0, -10.0), (45.0, -5.0), (44.0, 15.0), (32.0, 12.0)]
    Q["q10_polyfill_hier"] = (lambda: polyfill_hier(spark, poly, 7), "count")

    from hexspark.embed import ann_topk_lsh, embedding_dups
    Q["q11_embed_dups_lsh"] = (
        lambda: embedding_dups(emb, 0.3, dim=64, n_planes=8, n_tables=4), "count")
    Q["q12_ann_lsh"] = (
        lambda: ann_topk_lsh(emb, q, 10, dim=64, n_planes=8, n_tables=4), "count")

    Q["q14_tile_pyramid"] = (lambda: ops.tile_pyramid(pages, 6), "count")

    def _top_domains():
        with_url = pages.withColumn(
            "url",
            F.concat(
                F.lit("https://s"), (F.col("page_key") % 97).cast("string"),
                F.lit(".example.org/doc/"), F.col("page_key").cast("string"),
            ),
        )
        return ops.top_domains_per_region(with_url, regions, k=5)

    Q["q16_top_domains"] = (_top_domains, "count")

    from hexspark import text as hx_text

    def _pii():
        txt = F.concat(
            F.lit("contact user"), F.col("page_key").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("page_key") % 256).cast("string"),
            F.lit(" lang "), F.col("lang"),
        )
        red, ne, ni, nph = hx_text.pii_scrub_with_counts(txt)
        return pages.select(
            (ne + ni + nph).alias("n"), F.length(red).alias("l")
        ).agg(F.sum("n"), F.sum("l"))

    Q["q18_pii_scrub"] = (_pii, "collect")

    from hexspark.geo import distance_join

    def _distance_join():
        probes = pages.filter(F.col("page_key") % 199 == 0).select(
            F.col("page_key").alias("probe_id"),
            F.col("lat").alias("plat"), F.col("lon").alias("plon"),
        )
        return distance_join(
            probes, pages, 0.5, probe_key="probe_id", point_key="page_key",
            probe_cols=("plat", "plon"), point_cols=("lat", "lon"),
        )

    Q["q19_distance_join"] = (_distance_join, "count")

    from hexspark.text import (
        linear_classifier_score, synth_clf_weights, unigram_surprisal,
    )
    Q["q22_surprisal"] = (lambda: unigram_surprisal(docs), "count")
    clf_w = synth_clf_weights(spark)
    Q["q23_classifier"] = (lambda: linear_classifier_score(docs, clf_w), "count")

    from hexspark.ops import hotspot_tiles, smooth_tiles

    def _tiles():
        return pages.groupBy(
            cx.to_parent("cell", 4).alias("tile")
        ).agg(F.count("*").alias("n_pages"))

    Q["q24_tile_smooth"] = (lambda: smooth_tiles(_tiles(), 2, 4), "count")
    Q["q25_tile_hotspot"] = (lambda: hotspot_tiles(_tiles(), 2, 4), "count")

    from hexspark.text import importance_weights

    def _dsir():
        target = docs.filter(F.col("doc_id") % 10 == 0)
        return importance_weights(docs, target)

    Q["q27_importance"] = (_dsir, "count")

    from hexspark.text import shared_passages
    Q["q28_shared_passages"] = (
        lambda: shared_passages(docs, n=8, min_len=16), "count")

    from hexspark.embed import semantic_dedup
    Q["q29_semantic_dedup"] = (
        lambda: semantic_dedup(emb, 0.35, n_centroids=8, quantizer="first_k")
        .filter(~F.col("kept")), "count")

    from hexspark.sample import cap_per_tile
    Q["q30_cap_per_tile"] = (lambda: cap_per_tile(pages, k=3, tile_res=4), "count")

    from hexspark.sample import group_quantile_filter
    from hexspark.text import (
        char_entropy, contaminated_docs_fuzzy, quality_score,
    )
    Q["q31_char_entropy"] = (lambda: char_entropy(docs), "count")
    Q["q32_quantile_filter"] = (
        lambda: group_quantile_filter(
            docs, quality_score(F.col("text")), 5000, "source"
        ), "count")

    def _fuzzy():
        ev = docs.filter(F.col("doc_id") % 50 == 0)
        return contaminated_docs_fuzzy(docs, ev, 40)

    Q["q33_decontam_fuzzy"] = (_fuzzy, "count")

    pages_docs = pages.withColumn("doc_id", F.col("page_key") % F.lit(n_docs))
    Q["q34_pyramid_distinct"] = (
        lambda: ops.pyramid_unique_docs(pages_docs, 2), "count")
    Q["q35_pyramid_distinct_hll"] = (
        lambda: ops.pyramid_unique_docs_approx(pages_docs, 2, lg_k=10), "count")

    import shutil
    import tempfile
    from hexspark.pipeline import run_corpus_pipeline

    def _corpus_pipeline():
        wd = tempfile.mkdtemp(prefix="hexbench_corpus_")
        try:
            out = run_corpus_pipeline(spark, SF_DIR, wd)
            out["corpus_stats"].count()
        finally:
            shutil.rmtree(wd, ignore_errors=True)

    Q["q15_corpus_pipeline"] = (_corpus_pipeline, "run")
    return Q


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default="", help="comma list of query names (prefix ok)")
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--explain", default="", help="dump formatted plan to this path (single query)")
    ap.add_argument("--explain-dir", default="", help="dump every selected query's plan to <dir>/<name>.txt and skip timing")
    ap.add_argument("--noop", action="store_true", help="use noop sink instead of count/collect")
    args = ap.parse_args()

    spark = get_spark("hexspark-bench-extra", master=f"local[{CPUS}]",
                      shuffle_partitions=max(int(CPUS), 8))
    spark.sparkContext.setLogLevel("ERROR")
    qs = build_queries(spark)
    want = [s for s in args.only.split(",") if s]
    names = [n for n in qs if not want or any(n.startswith(w) for w in want)]

    from hexspark import cachepool

    if args.explain_dir:
        os.makedirs(args.explain_dir, exist_ok=True)
        jvm = spark._jvm
        mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        for name in names:
            fn, action = qs[name]
            if action == "run":
                continue
            df = fn()
            txt = df._jdf.queryExecution().explainString(mode)
            path = os.path.join(args.explain_dir, f"{name}.txt")
            with open(path, "w") as fh:
                fh.write(txt)
            print(f"wrote {path}", file=sys.stderr)
        spark.stop()
        return

    results = {}
    for name in names:
        fn, action = qs[name]
        spark.sparkContext.setJobDescription(name)
        if args.explain and action != "run":
            df = fn()
            jvm = spark._jvm
            mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            txt = df._jdf.queryExecution().explainString(mode)
            with open(args.explain, "w") as fh:
                fh.write(txt)
            print(f"wrote plan for {name} -> {args.explain}", file=sys.stderr)
        best = None
        for _ in range(max(1, args.rounds)):
            cachepool.clear_all(blocking=True)
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            if action == "run":
                fn()
            else:
                df = fn()
                if args.noop:
                    df.write.format("noop").mode("overwrite").save()
                elif action == "collect":
                    df.collect()
                else:
                    df.count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        results[name] = round(best, 3)
        print(f"{name}: {results[name]}", file=sys.stderr)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
