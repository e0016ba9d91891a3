"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an engine operator from SURVEY.md §2 run
over the driver's parquet tables; ``oracle_sql()`` returns the DuckDB
twin generated from the same formulas (hexspark.oracles).  Column
names/aliases match pairwise so the driver's order-insensitive value
hash compares like-for-like.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hexspark import build as bx
from hexspark import cells as cx
from hexspark import join as jx
from hexspark import ops, oracles, synth
from hexspark import text as tx
from hexspark import dedup as dd
from hexspark.embed import (
    ann_topk_brute, dd_ann_topk_brute, dd_ann_topk_ivf, dd_ann_topk_lsh,
    dd_embedding_dups, dd_semantic_dedup,
)
from hexspark.geo import distance_join, knn_join, pip_column
from hexspark.multimodal import (
    dd_media_features, dd_media_resize, extract_features, synth_media,
)
from hexspark.pages import synth_pages
from hexspark.temporal import (
    asof_join, range_join, rolling_stats, synth_intervals,
)

COPIES = 2
PAGE_RES = 12
TILE_RES = 2
ROLLUP_TILE_RES = 6
KNN_K = 3


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_cell_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = synth.cell_from_key(F.col("o_orderkey"), 9)
    return _orders(spark, sf_dir).select(
        F.col("o_orderkey").alias("key"),
        c.alias("cell"),
        cx.res(c).alias("res"),
        cx.base_cell(c).alias("base"),
        cx.to_parent(c, 4).alias("parent4"),
        cx.lo(c).alias("lo"),
        cx.hi(c).alias("hi"),
    )


def _partkey_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lineitem(spark, sf_dir).select(
        synth.cell_from_key(F.col("l_partkey"), 6).alias("cell")
    )


def q_build_compact_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bx.build_region(_partkey_set(spark, sf_dir), compactor="set")


def q_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = bx.build_region(_partkey_set(spark, sf_dir), compactor="set")
    probes = _orders(spark, sf_dir).select(
        F.col("o_orderkey").alias("key"),
        synth.cell_from_key(F.col("o_orderkey"), 12).alias("cell"),
    )
    return jx.contains(probes, region).select("key", "contained")


def q_get_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = bx.build_region(
        _lineitem(spark, sf_dir).select(
            synth.cell_from_key(F.col("l_partkey"), 6).alias("cell"),
            F.col("l_suppkey").alias("supp"),
        ),
        value_col="supp",
        compactor="none",
        dedupe_policy="min",
    )
    probes = _orders(spark, sf_dir).select(
        F.col("o_orderkey").alias("key"),
        synth.cell_from_key(F.col("o_orderkey"), 12).alias("cell"),
    )
    return jx.get_chained(probes, region).select("key", "stored_cell", "supp")


def q_region_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = synth_pages(spark, sf_dir, copies=COPIES, res=PAGE_RES, with_html=False)
    regions = ops.region_map(spark)
    return ops.region_counts(pages, regions)


def q_region_unique_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: dedup fingerprints × spatial containment per region."""
    pages = synth_pages(spark, sf_dir, copies=COPIES, res=PAGE_RES, with_html=False)
    regions = ops.region_map(spark)
    slim = pages.select("cell", tx.fingerprint(F.col("text")).alias("fp"))
    assigned = jx.get_chained(slim, regions, probe_col="cell")
    return assigned.groupBy("region").agg(
        F.count_distinct("fp").alias("n_unique_docs"),
        F.count("*").alias("n_pages"),
    )


def q_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = synth_pages(spark, sf_dir, copies=COPIES, res=PAGE_RES, with_html=False)
    return ops.tile_stats(pages, TILE_RES)


PYRAMID_RES = 4


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zoom pyramid: all tile levels 0..PYRAMID_RES in one pages-scale
    shuffle, coarser levels rolled up from children's counts (the
    DuckDB twin aggregates each level directly — equal by the
    to_parent nesting invariant)."""
    pages = synth_pages(spark, sf_dir, copies=COPIES, res=PAGE_RES, with_html=False)
    return ops.tile_pyramid(pages, PYRAMID_RES)


XYZ_TILE_RES = 4


def q_tile_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster export: tile cells as (z, x, y) lattice coordinates."""
    from hexspark.geo import cell_to_ij

    pages = synth_pages(spark, sf_dir, copies=COPIES, res=PAGE_RES, with_html=False)
    tiles = pages.groupBy(
        cx.to_parent("cell", XYZ_TILE_RES).alias("tile")
    ).agg(F.count("*").alias("n_pages"))
    x, y = cell_to_ij(F.col("tile"), XYZ_TILE_RES)
    return tiles.select(
        F.lit(XYZ_TILE_RES).cast("long").alias("z"),
        x.alias("x"),
        y.alias("y"),
        "tile",
        "n_pages",
    )


SMOOTH_K = 2


TRACE_RES = 6
TRACE_SALT = 777_777


def q_trace_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory rasterization: straight segments between
    deterministic supplier-key endpoints traced to the res-6 cells
    they traverse with path ordering (geo.trace_cells — half-pitch
    sampling, one bounded explode + combinable min)."""
    from hexspark.geo import trace_cells

    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    lat1, lon1 = synth.latlon_from_key(F.col("s_suppkey"))
    lat2, lon2 = synth.latlon_from_key(F.col("s_suppkey") + TRACE_SALT)
    segs = sup.select(
        F.col("s_suppkey").alias("seg_id"),
        lat1.alias("lat1"), lon1.alias("lon1"),
        lat2.alias("lat2"), lon2.alias("lon2"),
    )
    return trace_cells(segs, TRACE_RES)


def _dd_trace() -> str:
    from hexspark.geo import dd_trace_cells

    la1, lo1 = synth.dd_latlon_from_key("s_suppkey")
    la2, lo2 = synth.dd_latlon_from_key(f"(s_suppkey + {TRACE_SALT})")
    segs = f"""
        SELECT s_suppkey AS seg_id, {la1} AS lat1, {lo1} AS lon1,
               {la2} AS lat2, {lo2} AS lon2
        FROM supplier
    """
    return dd_trace_cells(segs, TRACE_RES)


def q_tile_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-ring focal smoothing of the tile raster: per occupied tile,
    the page-count sum and occupied-neighbor count over its Chebyshev
    2-ring (ops.smooth_tiles — scatter/gather sparse convolution, one
    bounded explode on the tile relation, never pages-scale)."""
    pages = synth_pages(spark, sf_dir, copies=COPIES, res=PAGE_RES, with_html=False)
    tiles = pages.groupBy(
        cx.to_parent("cell", XYZ_TILE_RES).alias("tile")
    ).agg(F.count("*").alias("n_pages"))
    return ops.smooth_tiles(tiles, k=SMOOTH_K, res=XYZ_TILE_RES)


def q_tile_hotspot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hotspot flags over the 2-ring smoothed raster: neighborhood
    mean vs global mean in exact integer arithmetic
    (ops.hotspot_tiles — smooth_tiles plus one broadcast global agg)."""
    pages = synth_pages(spark, sf_dir, copies=COPIES, res=PAGE_RES, with_html=False)
    tiles = pages.groupBy(
        cx.to_parent("cell", XYZ_TILE_RES).alias("tile")
    ).agg(F.count("*").alias("n_pages"))
    return ops.hotspot_tiles(tiles, k=SMOOTH_K, res=XYZ_TILE_RES)


def q_tile_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = synth_pages(spark, sf_dir, copies=COPIES, res=PAGE_RES, with_html=False)
    regions = ops.region_map(spark)
    return ops.tile_region_rollup(pages, regions, ROLLUP_TILE_RES).select(
        "region", "n_tiles", F.col("n_pages").cast("long").alias("n_pages")
    )


def q_subtree_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = bx.build_region(
        _lineitem(spark, sf_dir).select(
            synth.cell_from_key(F.col("l_partkey"), 8).alias("cell"),
            F.col("l_linenumber").alias("qty"),
        ),
        value_col="qty",
        compactor="none",
        dedupe_policy="sum",
    )
    probes = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .select(
            cx.to_parent(synth.cell_from_key(F.col("s_suppkey"), 8), 2).alias("probe")
        )
        .distinct()
    )
    return jx.subtree_agg(
        region,
        probes,
        [
            F.sum("qty").cast("long").alias("total_qty"),
            F.count("*").alias("n_leaves"),
        ],
        probe_col="probe",
    )


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = synth_pages(
        spark, sf_dir, copies=COPIES, res=PAGE_RES, with_html=False
    ).select("page_key", "lat", "lon")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    alat, alon = synth.latlon_from_key(F.col("n_nationkey") * 7919 + 13)
    anchors = nation.filter(F.col("n_nationkey") < 5).select(
        F.col("n_nationkey").alias("anchor_id"), alat.alias("alat"), alon.alias("alon")
    )
    out = knn_join(pages, anchors, KNN_K, metric="sq")
    return out.select(
        "anchor_id", F.col("rank").cast("long").alias("rank"), "page_key"
    )


DIST_JOIN_RADIUS = 8.5  # degrees (sq metric); ~90 pairs at the test SFs
ASOF_TOL_HOURS = 6


def q_asof_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase gains the latest click <= its ts by the
    same user, within ASOF_TOL_HOURS (temporal.asof_join — one shuffle,
    running-last window over the tagged union)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    build = ev.filter(F.col("event_type") == "click")
    out = asof_join(probes, build, tolerance=f"'{ASOF_TOL_HOURS}' HOUR")
    # epoch-micro bigints (oracle convention: no raw timestamps in the
    # driver's pandas-hash compare — see dd_event_sessions' strftime)
    return out.select(
        "event_id", "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("ts_m").cast("timestamp")).alias("ts_m_us"),
        "event_id_m", "value_m",
    )


def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean unigram surprisal (text.unigram_surprisal, self-LM)
    — the exact-integer perplexity-proxy quality signal."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tx.unigram_surprisal(docs)


ROLLING_WINDOW_S = 86400  # 24 hours


def q_shared_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-doc repeated passages >= 16 tokens
    (text.shared_passages — inverted-index gram join + diagonal
    gaps-and-islands; the distributed exact-substring-dedup pass)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tx.shared_passages(docs, n=8, min_len=16)


FUNNEL_STEPS = ("view", "click", "purchase")


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel per user: earliest strictly-
    after completion epoch per stage, stage_reached count
    (temporal.funnel — every shuffle keys on user; per-stage volume is
    that event type only, integer-micros comparisons throughout)."""
    from hexspark.temporal import funnel

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel(events, FUNNEL_STEPS)


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention matrix over events: users cohorted by first-
    activity week, active-user counts per (cohort, week offset)
    (temporal.retention_cohorts — one events-scale distinct, co-keyed
    join, tiny final rollup)."""
    from hexspark.temporal import retention_cohorts

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return retention_cohorts(events)


QUANTILE_P_BPS = 5000  # per-source median gate


def q_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-quantile gate: keep documents scoring at or
    above their source's median quality (sample.group_quantile_filter,
    mode='exact'; approx_percentile is the documented corpus-scale
    path)."""
    from hexspark.sample import group_quantile_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return group_quantile_filter(
        docs, tx.quality_score(F.col("text")), QUANTILE_P_BPS, "source"
    ).select("doc_id", "source", "score", "group_thr")


def _dd_retention() -> str:
    from hexspark.temporal import dd_retention_cohorts

    return dd_retention_cohorts()


def _dd_funnel() -> str:
    from hexspark.temporal import dd_funnel

    return dd_funnel(FUNNEL_STEPS)


def _dd_quantile_filter() -> str:
    from hexspark.sample import dd_group_quantile_filter

    return dd_group_quantile_filter(
        "doc_id, source, score, group_thr",
        "documents",
        tx.dd_quality_score("text"),
        QUANTILE_P_BPS,
        "source",
    )


FUZZY_EVAL_MOD = 50   # deterministic eval set: doc_id % 50 == 0
FUZZY_THRESHOLD = 40  # jaccard_pct


def q_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination: training docs whose shingle Jaccard vs
    any eval doc (deterministic doc_id % 50 == 0 subset) reaches 40%
    (text.contaminated_docs_fuzzy — per-row set sizes, broadcast eval
    gram join; corpus never shuffles for the join)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = docs.filter(F.col("doc_id") % FUZZY_EVAL_MOD == 0)
    return tx.contaminated_docs_fuzzy(docs, ev, FUZZY_THRESHOLD)


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL interchange round-trip: documents → range-partitioned
    JSONL shards → schema-enforced quarantining reader
    (storage.write_docs_jsonl / read_docs_jsonl); the oracle is the
    documents table itself."""
    import tempfile as _tempfile

    from hexspark.storage import read_docs_jsonl, write_docs_jsonl

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wd = _tempfile.mkdtemp(prefix="hexjsonl_")
    write_docs_jsonl(docs, wd, n_files=4)
    valid, _ = read_docs_jsonl(spark, wd)
    return valid.select("doc_id", "text", "lang", "source", "n_chars")


WARC_N_DOCS = 50


def q_warc_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingestion round-trip: wrap the first 50 documents as HTTP
    response records in a per-record-gzipped archive (Common Crawl's
    layout), read it back with warc.read_warc (binaryFile +
    mapInPandas record parser) and shape to documents via
    warc.docs_from_warc (native tag-strip).  The oracle reproduces the
    expected (h64(url), url, normalized text) straight from the
    documents table."""
    import html as _html
    import os as _os
    import tempfile as _tempfile

    from hexspark.warc import build_warc_bytes, docs_from_warc, read_warc

    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < WARC_N_DOCS)
        .select("doc_id", "text")
        .collect()
    )
    records = []
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        body = (
            "<html><body><p>"
            + _html.escape(r["text"], quote=False)
            + "</p></body></html>"
        ).encode()
        http = (
            f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
        ).encode() + body
        records.append(
            ("response", f"http://synth.test/{r['doc_id']}", http)
        )
    wd = _tempfile.mkdtemp(prefix="hexwarc_")
    with open(_os.path.join(wd, "part.warc.gz"), "wb") as fh:
        fh.write(build_warc_bytes(records, gzip_members=True))
    return docs_from_warc(read_warc(spark, wd))


def _dd_warc_pipeline() -> str:
    from hexspark.dedup import dd_h64

    url = "'http://synth.test/' || CAST(doc_id AS VARCHAR)"
    return f"""
        SELECT {dd_h64(url)} AS doc_id, {url} AS url,
               TRIM(regexp_replace(text, '\\s+', ' ', 'g')) AS text
        FROM documents WHERE doc_id < {WARC_N_DOCS}
    """


def q_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty vs all lower-keyed docs
    (text.novelty_scores — combinable min-owner per gram + equi-join
    back; the ordering-aware redundancy diagnostic)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tx.novelty_scores(docs)


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document in exact
    fixed-point integer bits (text.char_entropy — 36 native
    length/replace counts + the fp16 log2 primitive; zero explode,
    zero shuffle, one codegen projection over the scan)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tx.char_entropy(docs)


DSIR_TARGET_MOD = 10  # deterministic target subset: doc_id % 10 == 0


def q_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection: rank every document by the hashed
    n-gram log-likelihood ratio between a target LM (the deterministic
    doc_id % 10 == 0 subset) and the raw LM, in exact integer bits
    (text.importance_weights — one pooled explode, LMs bounded by the
    bucket count)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = docs.filter(F.col("doc_id") % DSIR_TARGET_MOD == 0)
    return tx.importance_weights(docs, target)


PROJ_DIM = 16  # 64 -> 16 JL compression


def q_project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64->16 (seeded-literal
    matrix, shuffle-free codegen map; embed.project_embeddings),
    exploded to (vec_id, pos, component) scalars for the hash gate."""
    from hexspark.embed import project_embeddings

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    proj = project_embeddings(emb, dim=64, out_dim=PROJ_DIM)
    return proj.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "component")
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), "component")


def _dd_project() -> str:
    from hexspark.embed import dd_project_embeddings

    inner = dd_project_embeddings(64, PROJ_DIM)
    return f"""
        SELECT vec_id, CAST(i AS BIGINT) AS pos,
               embedding[CAST(i AS INT)] AS component
        FROM ({inner}) p, LATERAL (
            SELECT UNNEST(RANGE(1, {PROJ_DIM} + 1))
        ) t(i)
    """


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: nearest-centroid assign
    ('first_k' deterministic quantizer so DuckDB can replay it), exact
    rounded cosine only within each cluster, keep the lowest-keyed
    member of each near-dup group (embed.semantic_dedup)."""
    from hexspark.embed import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semantic_dedup(
        emb, DUP_THRESHOLD, n_centroids=IVF_CENTROIDS, quantizer="first_k"
    )


def q_remove_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup APPLY pass: mine cross-doc passages >= 16
    tokens, then cut each from the higher-keyed doc so one copy
    survives (text.remove_passages — spans groupBy + corpus left join
    + native filter/exists HOF; corpus never shuffles)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spans = tx.shared_passages(docs, n=8, min_len=16)
    return tx.remove_passages(docs, spans)


def q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-24h same-user count and value sum
    (temporal.rolling_stats — native range-frame window over exact
    epoch micros; one shuffle on the key)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return rolling_stats(ev, window="24 hours")


def q_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear classifier inference over documents
    (text.linear_classifier_score with the deterministic synth model)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tx.linear_classifier_score(docs, tx.synth_clf_weights(spark))


def q_range_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: events falling inside deterministic
    supplier maintenance windows (temporal.range_join — chunked
    candidate cover + exact timestamp refine; events never shuffle)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = range_join(synth_intervals(spark, sf_dir), ev)
    return out.select(
        "window_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )


def q_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius join: every page within DIST_JOIN_RADIUS degrees of each
    nation anchor (geo.distance_join — grid-stencil candidates + exact
    sq refine; the oracle is an independent brute-force cross join)."""
    pages = synth_pages(
        spark, sf_dir, copies=COPIES, res=PAGE_RES, with_html=False
    ).select("page_key", "lat", "lon")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    alat, alon = synth.latlon_from_key(F.col("n_nationkey") * 7919 + 13)
    anchors = nation.select(
        F.col("n_nationkey").alias("anchor_id"), alat.alias("alat"), alon.alias("alon")
    )
    return distance_join(
        anchors, pages, DIST_JOIN_RADIUS,
        probe_key="anchor_id", point_key="page_key",
        probe_cols=("alat", "alon"), point_cols=("lat", "lon"),
    )


DIST_WRAP_RADIUS = 2.0  # degrees; anchors straddle the antimeridian


def q_distance_join_wrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Antimeridian radius join: anchors planted on both sides of ±180°
    pair with pages across the seam (geo.distance_join wrap_lon=True —
    stencil modulo ni + sq_dist_wrapped refine; the oracle is a brute
    cross join with the wrapped metric)."""
    pages = synth_pages(
        spark, sf_dir, copies=COPIES, res=PAGE_RES, with_html=False
    ).select("page_key", "lat", "lon")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    alat, _ = synth.latlon_from_key(F.col("n_nationkey") * 7919 + 13)
    alon = synth.anchor_wrap_lon(F.col("n_nationkey"))
    anchors = nation.select(
        F.col("n_nationkey").alias("anchor_id"),
        alat.alias("alat"), alon.alias("alon"),
    )
    return distance_join(
        anchors, pages, DIST_WRAP_RADIUS,
        probe_key="anchor_id", point_key="page_key",
        probe_cols=("alat", "alon"), point_cols=("lat", "lon"),
        wrap_lon=True,
    )


def q_asof_events_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_asof_events through the hot-key pre-split path
    (split_seconds=6h): the (key, chunk)-partitioned window + carry-
    forward stitch must be row-identical to the unsplit form, so it
    shares asof_events' oracle verbatim."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    build = ev.filter(F.col("event_type") == "click")
    out = asof_join(
        probes, build, tolerance=f"'{ASOF_TOL_HOURS}' HOUR",
        split_seconds=6 * 3600,
    )
    return out.select(
        "event_id", "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("ts_m").cast("timestamp")).alias("ts_m_us"),
        "event_id_m", "value_m",
    )


DONUT_EXT = [(10.0, 20.0), (10.0, 30.0), (20.0, 30.0), (20.0, 20.0)]
DONUT_HOLE = [(13.0, 23.0), (13.0, 27.0), (17.0, 27.0), (17.0, 23.0)]
DONUT_RES = 6


def q_polyfill_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donut polyfill: exterior ContainsCentroid fill minus the
    interior ring's fill (geo.polyfill holes= — h3o polyfill semantics,
    /root/reference/src/iteration.rs:349-371)."""
    from hexspark.geo import polyfill

    return polyfill(spark, DONUT_EXT, DONUT_RES, holes=[DONUT_HOLE])


def q_capped_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared-passage cap's audit row (text.capped_gram_stats):
    how many grams a max_df cap silences and the highest doc frequency
    — the pipeline's no-silent-cap contract."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tx.capped_gram_stats(docs, n=8, max_df=1)


def q_nearest_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill assignment: contained pages keep their region (ring 0);
    offshore pages take the nearest region cell's region under the
    lattice Chebyshev metric (ops.nearest_region — ring-search tier +
    brute broadcast-min tier, both min-(ring, cell) deterministic)."""
    pages = synth_pages(
        spark, sf_dir, copies=COPIES, res=PAGE_RES, with_html=False
    ).select("page_key", "cell")
    regions = ops.region_map(spark)
    return ops.nearest_region(pages, regions).select(
        "page_key", "region", "ring", "via"
    )


def q_pyramid_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical distinct rollup: distinct docs per tile at EVERY
    zoom level 0..PYRAMID_RES from one pages-scale distinct
    (ops.pyramid_unique_docs — distinct sets reduce up the pyramid;
    counts can't)."""
    pages = synth_pages(
        spark, sf_dir, copies=COPIES, res=PAGE_RES, with_html=False
    ).select("cell", "doc_id")
    return ops.pyramid_unique_docs(pages, PYRAMID_RES)


def q_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = synth_pages(spark, sf_dir, copies=COPIES, res=PAGE_RES, with_html=False)
    inside = pip_column(F.col("lat"), F.col("lon"), ops.REGIONS["alpha"])
    return pages.filter(inside).groupBy("lang").agg(F.count("*").alias("n_pages"))


def q_cell_hex(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = synth.cell_from_key(F.col("o_orderkey"), 7)
    return _orders(spark, sf_dir).select(
        F.col("o_orderkey").alias("key"),
        cx.to_hex(c).alias("hexform"),
        cx.from_hex(cx.to_hex(c)).alias("parsed"),
    )


def q_descendants(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = bx.dedupe_cells(
        _lineitem(spark, sf_dir).select(
            synth.cell_from_key(F.col("l_partkey"), 6).alias("cell")
        )
    )
    probes = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .select(
            cx.to_parent(synth.cell_from_key(F.col("s_suppkey"), 6), 2).alias("probe")
        )
        .distinct()
    )
    out = jx.descendants_join(region, probes, probe_col="probe")
    return out.select("probe", "cell", cx.lo("cell").alias("lo"))


def q_uncompact(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .select(synth.cell_from_key(F.col("s_suppkey"), 4).alias("cell"))
        .distinct()
    )
    return bx.uncompact_df(src, 6)


def q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("toks"),
        tx.word_count(F.col("text")).alias("words"),
        tx.lang_id(F.col("text")).alias("lang_guess"),
        tx.quality_score(F.col("text")).alias("quality"),
        tx.fingerprint(F.col("text")).alias("fp"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dd.dedup_exact(docs)


JACCARD_PCT = 60
JACCARD_CAP_PCT = 50
JACCARD_MAX_DF = 3


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dd.jaccard_pairs(docs, threshold_pct=JACCARD_PCT, n=3)


def q_jaccard_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list-capped jaccard (the exact-join scale guard): the
    intersection join sees only shingles with document frequency ≤
    max_df; the DuckDB twin applies the identical cap, so the capped
    semantics themselves are hash-gated (not just the default path)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dd.jaccard_pairs(
        docs, threshold_pct=JACCARD_CAP_PCT, n=3, max_df=JACCARD_MAX_DF
    )


ANN_K = 5
ANN_QUERIES = 8


def _ann_oracle() -> str:
    return (
        "SELECT query_id, rank, vec_id FROM ("
        + dd_ann_topk_brute(ANN_K, ANN_QUERIES)
        + ")"
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < ANN_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ann_topk_brute(emb, q, ANN_K).select("query_id", "rank", "vec_id")


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = dd.minhash_signature(docs, num_hashes=16, n=3)
    return dd.lsh_candidates(sigs, bands=4, rows_per_band=4)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dd.simhash(docs, bits=32)


SIMHASH_MAX_HAMMING = 3


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pair mining: block-bucket join (exact by
    pigeonhole) + popcount re-check; DuckDB twin applies the identical
    blocks, so the full pipeline is hash-gated."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dd.simhash_pairs(docs, max_hamming=SIMHASH_MAX_HAMMING, bits=32)


def q_simhash_pairs64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-width (64-bit) simhash pair mining: 32-bit signatures
    saturate with birthday collisions around 10^5 docs (on this corpus:
    1192 32-bit pairs vs 21 64-bit — the excess is collision noise), so
    64 is the Manku crawl-scale width.  Bits 60..63 ride a second
    domain-separated md5 draw and bit 63 packs as the BIGINT sign bit —
    both engines share the two's-complement encoding, so the pipeline
    stays hash-gated end to end."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dd.simhash_pairs(docs, max_hamming=SIMHASH_MAX_HAMMING, bits=64)


INCR_SPLIT = 350
INCR_MIN_QUALITY = 30


def q_incremental_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest equivalence, oracle-gated: the corpus is
    split (doc_id < {split} = base, rest = append); the append is
    deduped via DELTA pair mining only (old signatures read as-is,
    block bucket join probed with the delta's blocks — new↔new and
    new↔old pairs, never old↔old recompute), then global clustering +
    qualified-min keeper selection.  The DuckDB oracle is one run over
    the UNION — the equivalence the incremental path must preserve.
    The checkpointed form of the same flow is
    :func:`hexspark.pipeline.run_corpus_append` (tested in
    tests/test_pipeline.py)."""
    from hexspark.pipeline import select_keepers

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.filter(F.col("doc_id") < INCR_SPLIT)
    new = docs.filter(F.col("doc_id") >= INCR_SPLIT)
    sigs_old = dd.simhash(base, bits=64)
    pairs_old = dd.simhash_pairs_from_sigs(
        sigs_old, max_hamming=SIMHASH_MAX_HAMMING, bits=64
    )
    sigs_new = dd.simhash(new, bits=64)
    delta = dd.simhash_pairs_from_sigs(
        sigs_old.unionByName(sigs_new),
        max_hamming=SIMHASH_MAX_HAMMING, bits=64, delta=sigs_new,
    )
    clusters = dd.dup_clusters(
        pairs_old.unionByName(delta), all_ids=docs.select("doc_id")
    )
    feats = docs.select(
        "doc_id", tx.quality_score(F.col("text")).alias("quality")
    )
    keep = select_keepers(feats, clusters, INCR_MIN_QUALITY)
    return keep.select("doc_id", "cluster", "quality")


def _dd_incremental_keepers() -> str:
    """Union-run truth for :func:`q_incremental_keepers`: 64-bit pairs
    over ALL documents → transitive closure → min qualified id per
    cluster."""
    clus = dd.dd_dup_clusters(
        dd.dd_simhash_pairs(SIMHASH_MAX_HAMMING, 64),
        include_all_from="doc_id AS id FROM documents",
    )
    q = tx.dd_quality_score("text")
    return f"""
        WITH clus AS (SELECT * FROM ({clus})),
        qual AS (
            SELECT d.doc_id, c.cluster, {q} AS quality
            FROM documents d JOIN clus c ON d.doc_id = c.id
            WHERE {q} >= {INCR_MIN_QUALITY}
        ),
        k AS (SELECT cluster, MIN(doc_id) AS doc_id FROM qual GROUP BY 1)
        SELECT qual.doc_id, qual.cluster, qual.quality
        FROM qual JOIN k
          ON qual.cluster = k.cluster AND qual.doc_id = k.doc_id
    """


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the simhash near-dup pairs → keeper
    assignment (cluster = min doc id in component, singletons included)
    vs the DuckDB recursive-transitive-closure twin."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dd.simhash_pairs(docs, max_hamming=SIMHASH_MAX_HAMMING, bits=32)
    return dd.dup_clusters(pairs, all_ids=docs.select("doc_id"))


IVF_CENTROIDS = 8
IVF_NPROBE = 3


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gated IVF ANN: the 'first_k' quantizer is deterministic
    and SQL-portable, so assignment, probe lists, and re-rank all have
    DuckDB twins (hexspark.embed.dd_ann_topk_ivf).  The KMeans
    quantizer stays the production default; its nprobe=all==brute
    equivalence is tested in tests/test_text_dedup.py."""
    from hexspark.embed import ann_topk_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < ANN_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ann_topk_ivf(
        emb, q, ANN_K, n_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE,
        quantizer="first_k",
    ).select("query_id", "rank", "vec_id")


LSH_PLANES = 6
LSH_TABLES = 3


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gated hyperplane-LSH ANN: the seeded plane literals are
    emitted verbatim into the DuckDB twin, and the sign tests run on
    rounded dots, so both engines derive bit-identical buckets and the
    whole bucketed-join + re-rank pipeline is hash-checkable."""
    from hexspark.embed import ann_topk_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < ANN_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ann_topk_lsh(
        emb, q, ANN_K, dim=64, n_planes=LSH_PLANES, n_tables=LSH_TABLES
    ).select("query_id", "rank", "vec_id")


KNN_RINGS_K = 5
KNN_RINGS_MAX = 120
KNN_RINGS_RES = 5
# three probe locations — per-probe ranking exercised, not just one
KNN_RINGS_PROBES = ((0.0, 0.0), (35.0, 12.0), (-40.0, -100.0))


def q_knn_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gated ring-metric kNN: Spark-side ring-disk expansion
    from a probe DataFrame (3 probes, per-probe rank) vs the DuckDB
    Chebyshev-distance twin."""
    import numpy as np

    from hexspark.geo import grid_encode, grid_encode_np, knn_rings

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    lat, lon = synth.latlon_from_key(F.col("c_custkey"))
    stored = (
        cust.select(lat.alias("lat"), lon.alias("lon"))
        .select(grid_encode(F.col("lat"), F.col("lon"), KNN_RINGS_RES).alias("cell"))
        .distinct()
    )
    lats = np.array([p[0] for p in KNN_RINGS_PROBES])
    lons = np.array([p[1] for p in KNN_RINGS_PROBES])
    pcells = np.unique(grid_encode_np(lats, lons, KNN_RINGS_RES))
    probes = spark.createDataFrame([(int(c),) for c in pcells], "probe: long")
    return knn_rings(
        stored, probes, k=KNN_RINGS_K, max_ring=KNN_RINGS_MAX, res=KNN_RINGS_RES
    )


# the synthetic embeddings have no planted duplicates (max pairwise
# cosine ~0.51), so the contract query mines the top similarity band;
# the LSH scale path's recall on true near-dups (sim>=0.9) is measured
# in tests with planted perturbed copies
DUP_THRESHOLD = 0.35


def q_embed_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine similarity-pair mining (exact form — the LSH
    scale path's recall is measured against it in tests)."""
    from hexspark.embed import embedding_dups

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_dups(emb, DUP_THRESHOLD, dim=64, exact=True)


SESSION_GAP_S = 1800


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization (session_window) vs the gaps-and-islands
    DuckDB twin — exact boundary semantics hash-gated."""
    from hexspark.streaming import event_sessions

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return event_sessions(events, gap_seconds=SESSION_GAP_S)


def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup over the events table — the batch twin of
    the streaming path (same F.window primitive as
    streaming.windowed_page_counts)."""
    from hexspark.streaming import event_window_stats

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return event_window_stats(events, window="1 hour")


POLYFILL_HIER_RES = 5


def q_polyfill_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-to-fine polyfill (a driver-side cover refined from res 0,
    expanded to res in Spark) vs the DuckDB flat centroid-enumeration
    oracle."""
    from hexspark.geo import polyfill

    return polyfill(spark, ops.REGIONS["alpha"], POLYFILL_HIER_RES)


RESIZE_W, RESIZE_H = 64, 32


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize plumbing (binary payload → Arrow-batched
    resample stub → media table with new dims): the SQL-portable
    columns (identity, kind, dims, resized byte size) are oracle-gated;
    the pixel plane is covered by the Spark-side determinism test."""
    from hexspark.multimodal import resize_media

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = synth_media(docs, kind="image")
    # codec=None pins the stub kernel: the synth payloads aren't real
    # images, so the oracle must not pick up a host-installed PIL/cv2
    resized = resize_media(media, RESIZE_W, RESIZE_H, codec=None)
    return resized.select(
        "media_id", "kind", "width", "height",
        F.length("payload").cast("int").alias("n_bytes"),
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing (binary payload → Arrow-batched feature
    extraction): the SQL-portable columns are oracle-gated; the stub
    codec's feature vector is covered by a Spark-side determinism test
    (tests/test_text_dedup.py)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = synth_media(docs, kind="image")
    # codec=None: synth payloads aren't decodable images (see q_media_resize)
    return extract_features(media, dim=16, codec=None).select(
        "media_id", "kind", "n_bytes"
    )


def _dd_rolling_stats() -> str:
    from hexspark.temporal import dd_rolling_stats

    return dd_rolling_stats(ROLLING_WINDOW_S)


def _dd_event_windows() -> str:
    from hexspark.streaming import dd_event_window_stats

    return dd_event_window_stats(hours=1)


def _dd_event_sessions() -> str:
    from hexspark.streaming import dd_event_sessions

    return dd_event_sessions(SESSION_GAP_S)


def _dd_event_quantiles() -> str:
    from hexspark.streaming import dd_event_value_quantiles

    return dd_event_value_quantiles()


def _dd_cap_per_tile() -> str:
    from hexspark.pages import dd_pages_cte
    from hexspark.sample import dd_cap_per_tile

    return dd_cap_per_tile(
        dd_pages_cte(COPIES, PAGE_RES), TILE_CAP_K, TILE_CAP_RES
    )


def _dd_cap_per_domain() -> str:
    from hexspark.pages import dd_pages_cte
    from hexspark.sample import dd_cap_per_domain

    return dd_cap_per_domain(dd_pages_cte(COPIES, PAGE_RES), DOMAIN_CAP_K)


def _setops_ab(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Spark twin of oracles.dd_setops_ab_srcs: the shared
    overlapping-sets fixture (setops.synth_overlapping_sets) built
    from supplier keys — B holds coarser parents, finer children, and
    fresh disjoint cells relative to A, exercising every branch of the
    set algebra."""
    from hexspark.oracles import SETOPS_FRESH_OFFSET, SETOPS_RES_A
    from hexspark.setops import synth_overlapping_sets

    keys = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("k")
    )
    return synth_overlapping_sets(keys, SETOPS_RES_A, SETOPS_FRESH_OFFSET)


TOP_DOMAINS_K = 3
SAMPLE_RATE_BPS = 1000
SAMPLE_STRATA_BPS = {"en": 500, "de": 2500}
NGRAM_N = 2
NGRAM_K = 25


ANN_REGION = "alpha"
DOMAIN_CAP_K = 2
TFIDF_K = 10


def q_cap_per_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition control: at most K pages per domain, deterministic
    lowest-draw selection, two-phase top-k (never one reducer per
    mega-domain)."""
    from hexspark.sample import cap_per_domain

    pages = synth_pages(spark, sf_dir, copies=COPIES, res=PAGE_RES, with_html=False)
    return cap_per_domain(pages, k=DOMAIN_CAP_K)


TILE_CAP_K = 3
TILE_CAP_RES = 4


def q_cap_per_tile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial density cap: at most K pages per res-4 tile — the
    spatially balanced subset selector (sample.cap_per_tile, same
    deterministic two-phase top-k shape as the domain cap, keyed on
    the tile)."""
    from hexspark.sample import cap_per_tile

    pages = synth_pages(spark, sf_dir, copies=COPIES, res=PAGE_RES, with_html=False)
    return cap_per_tile(pages, k=TILE_CAP_K, tile_res=TILE_CAP_RES)


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinguishing terms by exact-integer linear
    tf-idf (explode → combinable counts → broadcast df → two-phase
    top-k)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tx.tfidf_top_terms(docs, k=TFIDF_K)


def q_ann_in_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial × similarity composite: exact cosine top-k restricted to
    documents with at least one page inside a vector region — the
    'find similar documents FROM this geography' query.  Shape: pages
    prune to (key, cell) before the broadcast containment join, the
    in-region doc-id set semi-joins the embedding corpus through the
    SIZE-PROBED switch (hexspark.embed.restrict_to_ids: the id set is
    persisted + counted — small sets broadcast so the corpus never
    shuffles, a region spanning more ids than a broadcast can hold
    falls back to the shuffled semi-join instead of OOMing the
    driver), then the two-phase top-k tail."""
    from hexspark.embed import ann_topk_brute, restrict_to_ids

    pages = synth_pages(spark, sf_dir, copies=COPIES, res=PAGE_RES, with_html=False)
    regions = ops.region_map(spark)
    assigned = jx.get_chained(
        pages.select("page_key", "cell"), regions, probe_col="cell"
    ).filter(F.col("region") == ANN_REGION)
    # page_key = doc_id * COPIES + copy → integer DIV (exact, no
    # float round-trip) recovers the document id
    doc_ids = assigned.select(
        F.expr(f"page_key DIV {COPIES}").alias("vec_id")
    ).distinct()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = restrict_to_ids(emb, doc_ids, on="vec_id")
    q = emb.filter(F.col("vec_id") < ANN_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ann_topk_brute(corpus, q, ANN_K).select("query_id", "rank", "vec_id")


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-URL canonicalization over deterministic messy variants
    (upper-cased scheme+host, fragment, default port, bare host) —
    variant formulas keyed by page_key % 4, mirrored in the oracle."""
    pages = synth_pages(spark, sf_dir, copies=COPIES, res=PAGE_RES, with_html=False)
    dom = tx.domain_of(F.col("url"))
    pk = F.col("page_key")
    raw = (
        F.when(pk % 4 == 0,
               F.concat(F.lit("HTTPS://"), F.upper(dom), F.lit("/CasePath")))
        .when(pk % 4 == 1, F.concat(F.col("url"), F.lit("#frag")))
        .when(pk % 4 == 2, F.concat(F.lit("https://"), dom, F.lit(":443/p")))
        .otherwise(F.concat(F.lit("https://"), dom))
    )
    return pages.select(
        pk.alias("page_key"), tx.url_normalize(raw).alias("norm_url")
    )


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top word bigrams (explode → map-side-combine count →
    TakeOrdered tail)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tx.top_ngrams(docs, n=NGRAM_N, k=NGRAM_K)


def q_top_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial × web-curation composite: top crawl domains per vector
    region (broadcast containment join + two-phase top-k)."""
    pages = synth_pages(spark, sf_dir, copies=COPIES, res=PAGE_RES, with_html=False)
    regions = ops.region_map(spark)
    return ops.top_domains_per_region(pages, regions, k=TOP_DOMAINS_K)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-independent per-stratum sampling (hexspark.sample):
    Lehmer key-hash draw vs per-language basis-point rates — exact
    integer arithmetic, bit-equal across engines."""
    from hexspark.sample import deterministic_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return deterministic_sample(
        docs.select("doc_id", "lang"),
        "doc_id",
        rate_bps=SAMPLE_RATE_BPS,
        strata_col="lang",
        strata_bps=SAMPLE_STRATA_BPS,
    )


def q_event_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type value quantiles (linear-interpolation order
    statistic — definitionally identical to DuckDB quantile_cont)."""
    from hexspark.streaming import event_value_quantiles

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return event_value_quantiles(events)


def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compacted-set intersection (hexspark.setops): closed-form join
    algebra vs the oracle's uncompact→INTERSECT→recompact definition."""
    from hexspark.setops import set_intersect

    a, b = _setops_ab(spark, sf_dir)
    return set_intersect(a, b)


def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hexspark.setops import set_union

    a, b = _setops_ab(spark, sf_dir)
    return set_union(a, b)


def q_set_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hexspark.setops import set_difference

    a, b = _setops_ab(spark, sf_dir)
    return set_difference(a, b)


DECON_N = 4
DECON_EVAL_PRED = "doc_id % 29 = 3"  # deterministic eval/benchmark slice


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word
    4-gram with the eval slice (broadcast eval grams; corpus never
    shuffles for the join)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = docs.filter(F.expr(DECON_EVAL_PRED))
    train = docs.filter(~F.expr(DECON_EVAL_PRED))
    return tx.contaminated_docs(train, ev, n=DECON_N)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII counting + redaction over deterministically PII-salted text
    (emails / IPv4s / phone numbers appended by doc_id % 4 — variant
    formulas mirrored in the oracle; %4==3 rows stay clean so the
    zero path is hash-gated too)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    ds = did.cast("string")
    raw = (
        F.when(did % 4 == 0,
               F.concat(F.col("text"), F.lit(" contact user"), ds,
                        F.lit("@example.com now")))
        .when(did % 4 == 1,
              F.concat(F.col("text"), F.lit(" from 10."), (did % 256).cast("string"),
                       F.lit(".0."), (did % 200).cast("string")))
        .when(did % 4 == 2,
              F.concat(F.col("text"), F.lit(" call +1-555-"),
                       (1000 + did % 9000).cast("string")))
        .otherwise(F.col("text"))
    )
    red, n_emails, n_ips, n_phones = tx.pii_scrub_with_counts(raw)
    return docs.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_phones.alias("n_phones"),
        red.alias("redacted"),
    )


def _dd_pii_scrub() -> str:
    raw = (
        "(CASE"
        " WHEN doc_id % 4 = 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'"
        " WHEN doc_id % 4 = 1 THEN text || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 200 AS VARCHAR)"
        " WHEN doc_id % 4 = 2 THEN text || ' call +1-555-' || CAST(1000 + doc_id % 9000 AS VARCHAR)"
        " ELSE text END)"
    )
    red = tx.dd_pii_redact(raw)
    # one redaction pass in a CTE, counts derived from the redacted
    # string — same single-sweep shape as the Spark twin
    ne, ni, np_ = tx.dd_pii_scrub_with_counts("redacted")
    return (
        f"WITH scrubbed AS (SELECT doc_id, {red} AS redacted FROM documents)"
        f" SELECT doc_id, {ne} AS n_emails, {ni} AS n_ips,"
        f" {np_} AS n_phones, redacted FROM scrubbed"
    )


REP_N = 2


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-doc repetition quality signals (duplicate-gram
    and top-gram basis points)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tx.repetition_stats(docs, n=REP_N)


PACK_BUDGET = 512
PACK_SHARDS = 8


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (concat-then-chunk pretraining
    assembly), sharded by a salted Lehmer draw so no global-order
    reducer exists."""
    from hexspark.sample import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_sequences(
        docs,
        key_col="doc_id",
        tokens_col=tx.token_count(F.col("text")),
        budget=PACK_BUDGET,
        shards=PACK_SHARDS,
    )


def _dd_pack_sequences() -> str:
    from hexspark.sample import dd_pack_sequences

    return dd_pack_sequences(
        "SELECT doc_id, text FROM documents",
        key="doc_id",
        toks_expr=tx.dd_token_count("text"),
        budget=PACK_BUDGET,
        shards=PACK_SHARDS,
    )


BLOCKED_DOMAINS = [
    "src3.example.org", "src11.example.org", "src17.example.org"
]


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist anti-join (broadcast; corpus never shuffles
    for the filter), rolled up to per-domain surviving page counts."""
    from hexspark.sample import filter_blocklist

    pages = synth_pages(spark, sf_dir, copies=COPIES, res=PAGE_RES, with_html=False)
    blocked = spark.createDataFrame(
        [(d,) for d in BLOCKED_DOMAINS], ["domain"]
    )
    kept = filter_blocklist(pages, blocked)
    return kept.groupBy("domain").agg(F.count("*").alias("n_pages"))


def _dd_blocklist_filter() -> str:
    dom = tx.dd_domain_of("url")
    blocked = ", ".join(f"'{d}'" for d in BLOCKED_DOMAINS)
    from hexspark.pages import dd_pages_cte

    return f"""
        WITH pages AS ({dd_pages_cte(COPIES, PAGE_RES)})
        SELECT {dom} AS domain, COUNT(*) AS n_pages
        FROM pages
        WHERE {dom} NOT IN ({blocked})
        GROUP BY 1
    """


MIX_WEIGHTS = {"web": 7000, "books": 2000, "code": 1000}


def q_mix_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus mixing: docs carry a synthetic domain
    (doc_id % 4 → web/books/code/junk) and a real token count; the
    targets ask for 70/20/10 web/books/code, so web (only ~25% of the
    mass) is the binding group (kept in full), books/code downsample
    hard, and 'junk' — present in the corpus, absent from the weights —
    must vanish entirely."""
    from hexspark.sample import mix_by_token_budget

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    m4 = F.col("doc_id") % 4
    grp = (
        F.when(m4 == 0, F.lit("web"))
        .when(m4 == 1, F.lit("books"))
        .when(m4 == 2, F.lit("code"))
        .otherwise(F.lit("junk"))
    )
    src = docs.select(
        "doc_id",
        grp.alias("grp"),
        tx.token_count(F.col("text")).alias("toks"),
    )
    return mix_by_token_budget(src, "doc_id", "grp", "toks", MIX_WEIGHTS)


def _dd_mix_corpus() -> str:
    from hexspark.sample import dd_mix_by_token_budget

    grp = (
        "(CASE doc_id % 4 WHEN 0 THEN 'web' WHEN 1 THEN 'books'"
        " WHEN 2 THEN 'code' ELSE 'junk' END)"
    )
    return dd_mix_by_token_budget(
        "grp, d.doc_id AS doc_id, d.toks AS toks",
        f"(SELECT doc_id, {tx.dd_token_count('text')} AS toks"
        " FROM documents)",
        "d.doc_id",
        grp,
        "toks",
        MIX_WEIGHTS,
    )


BOILER_MAX_DF = 30


def q_remove_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate-line removal over deterministically salted
    multi-line docs: every doc gets a header (shared cookie banner for
    doc_id%3==0, else a unique 'hdr <id>' line), its unique body, and a
    footer (shared copyright for doc_id%2==0, else one of seven 'tail
    <k>' lines, each in ~36 docs).  With max_doc_freq=30 the banner,
    the copyright AND the tail classes are boilerplate; headers and
    bodies survive — so kept/removed counts vary per doc and both the
    broadcast membership join and the ordered rebuild are hash-gated."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    raw = F.concat_ws(
        "\n",
        F.when(did % 3 == 0, F.lit("COOKIE NOTICE accept all cookies"))
        .otherwise(F.concat(F.lit("hdr "), did.cast("string"))),
        F.col("text"),
        F.when(did % 2 == 0, F.lit("copyright example footer"))
        .otherwise(F.concat(F.lit("tail "), (did % 7).cast("string"))),
    )
    salted = docs.select("doc_id", raw.alias("text"))
    return tx.remove_boilerplate_lines(
        salted, "doc_id", "text", max_doc_freq=BOILER_MAX_DF
    )


def _dd_remove_boilerplate() -> str:
    raw = (
        "concat_ws(chr(10),"
        " CASE WHEN doc_id % 3 = 0 THEN 'COOKIE NOTICE accept all cookies'"
        " ELSE 'hdr ' || CAST(doc_id AS VARCHAR) END,"
        " text,"
        " CASE WHEN doc_id % 2 = 0 THEN 'copyright example footer'"
        " ELSE 'tail ' || CAST(doc_id % 7 AS VARCHAR) END)"
    )
    return tx.dd_remove_boilerplate_lines(raw, BOILER_MAX_DF)


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: pages geotagged → cell-encoded → region-assigned → counts."""
    sf_dir = "/root/testdata/sf0.001"
    pages = synth_pages(spark, sf_dir, copies=4, res=PAGE_RES, with_html=True)
    regions = ops.region_map(spark)
    return ops.region_counts(pages, regions)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ROTATION: the driver verifies only the FIRST 50 entries (dict order).
    # Policy: least-recently-driver-checked first.  Round 6 window =
    #   positions 1-8:   the 8 queries that had NEVER had a driver row
    #                    (added late in r5, parked past the window),
    #   positions 9-27:  the 19 queries last driver-green in r4,
    #   positions 28-31: the 4 queries NEW in r6 (never checked),
    #   positions 32-50: the longest-unrotated of the r5-green set.
    # The entries past position 50 were all driver-green in r5
    # (CORRECTNESS_r05.json) and stay parity-gated locally
    # (tests/test_oracle_parity.py).  Rotate each round.
    # r7 rotation candidates (never driver-checked or pushed out in
    # r6): pyramid_unique, nearest_region, remove_passages,
    # semantic_dedup, project_embeddings, importance_weights.
    return {
        # -- never driver-checked before r6 (r5 additions, positions 69-77) --
        "cap_per_tile": q_cap_per_tile,
        "decontaminate": q_decontaminate,
        "pii_scrub": q_pii_scrub,
        "repetition_stats": q_repetition_stats,
        "pack_sequences": q_pack_sequences,
        "blocklist_filter": q_blocklist_filter,
        "remove_boilerplate": q_remove_boilerplate,
        "mix_corpus": q_mix_corpus,
        # -- last driver-green in r4, unwindowed in r5 --
        "ann_lsh": q_ann_lsh,
        "knn_rings": q_knn_rings,
        "media_features": q_media_features,
        "media_resize": q_media_resize,
        "embed_dups": q_embed_dups,
        "polyfill_hier": q_polyfill_hier,
        "event_windows": q_event_windows,
        "event_sessions": q_event_sessions,
        "set_intersect": q_set_intersect,
        "set_union": q_set_union,
        "set_difference": q_set_difference,
        "top_domains": q_top_domains,
        "stratified_sample": q_stratified_sample,
        "event_quantiles": q_event_quantiles,
        "url_normalize": q_url_normalize,
        "top_ngrams": q_top_ngrams,
        "ann_in_region": q_ann_in_region,
        "cap_per_domain": q_cap_per_domain,
        "tfidf_terms": q_tfidf_terms,
        # -- new in r6 (never driver-checked) --
        "distance_join_wrap": q_distance_join_wrap,
        "asof_events_split": q_asof_events_split,
        "polyfill_holes": q_polyfill_holes,
        "capped_grams": q_capped_grams,
        # -- r5-green rotation (driver-green in CORRECTNESS_r05) --
        "cell_ops": q_cell_ops,
        "build_compact_set": q_build_compact_set,
        "contains": q_contains,
        "get_value": q_get_value,
        "region_counts": q_region_counts,
        "region_unique_docs": q_region_unique_docs,
        "tile_stats": q_tile_stats,
        "tile_xyz": q_tile_xyz,
        "tile_pyramid": q_tile_pyramid,
        "tile_region_rollup": q_tile_region_rollup,
        "subtree_sum": q_subtree_sum,
        "knn": q_knn,
        "distance_join": q_distance_join,
        "asof_events": q_asof_events,
        "range_events": q_range_events,
        "unigram_surprisal": q_unigram_surprisal,
        "classifier_score": q_classifier_score,
        "rolling_stats": q_rolling_stats,
        "shared_passages": q_shared_passages,
        # ---------------- driver window ends here (position 50) ----------
        "remove_passages": q_remove_passages,
        "semantic_dedup": q_semantic_dedup,
        "project_embeddings": q_project_embeddings,
        "importance_weights": q_importance_weights,
        "char_entropy": q_char_entropy,
        "novelty": q_novelty,
        "decontaminate_fuzzy": q_decontaminate_fuzzy,
        "warc_pipeline": q_warc_pipeline,
        "jsonl_roundtrip": q_jsonl_roundtrip,
        "tile_smooth": q_tile_smooth,
        "tile_hotspot": q_tile_hotspot,
        "trace_cells": q_trace_cells,
        "retention_cohorts": q_retention_cohorts,
        "funnel": q_funnel,
        "quantile_filter": q_quantile_filter,
        "point_in_polygon": q_point_in_polygon,
        "cell_hex": q_cell_hex,
        "descendants": q_descendants,
        "uncompact": q_uncompact,
        "text_features": q_text_features,
        "dedup_exact": q_dedup_exact,
        "jaccard_pairs": q_jaccard_pairs,
        "jaccard_pairs_capped": q_jaccard_pairs_capped,
        "ann_topk": q_ann_topk,
        "minhash_lsh": q_minhash_lsh,
        "simhash": q_simhash,
        "simhash_pairs": q_simhash_pairs,
        "simhash_pairs64": q_simhash_pairs64,
        "incremental_keepers": q_incremental_keepers,
        "dup_clusters": q_dup_clusters,
        "ann_ivf": q_ann_ivf,
        # -- new in r6 after the window was fixed: rotate in next round --
        "pyramid_unique": q_pyramid_unique,
        "nearest_region": q_nearest_region,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "cell_ops": oracles.q_cell_ops(),
        "build_compact_set": oracles.q_build_compact_set(),
        "contains": oracles.q_contains(),
        "get_value": oracles.q_get_value(),
        "region_counts": oracles.q_region_counts(
            ops.REGIONS, ops.REGION_RES, COPIES, PAGE_RES
        ),
        "region_unique_docs": oracles.q_region_unique_docs(
            ops.REGIONS, ops.REGION_RES, COPIES, PAGE_RES
        ),
        "tile_stats": oracles.q_tile_stats(COPIES, PAGE_RES, TILE_RES),
        "tile_xyz": oracles.q_tile_xyz(COPIES, PAGE_RES, XYZ_TILE_RES),
        "tile_pyramid": oracles.q_tile_pyramid(COPIES, PAGE_RES, PYRAMID_RES),
        "tile_region_rollup": oracles.q_tile_region_rollup(
            ops.REGIONS, ops.REGION_RES, COPIES, PAGE_RES, ROLLUP_TILE_RES
        ),
        "subtree_sum": oracles.q_subtree_sum(),
        "knn": oracles.q_knn(KNN_K, COPIES, PAGE_RES),
        "distance_join": oracles.q_distance_join(DIST_JOIN_RADIUS, COPIES, PAGE_RES),
        "asof_events": oracles.q_asof_events(ASOF_TOL_HOURS),
        "range_events": oracles.q_range_events(),
        "unigram_surprisal": tx.dd_unigram_surprisal(),
        "classifier_score": tx.dd_linear_classifier_score(),
        "rolling_stats": _dd_rolling_stats(),
        "shared_passages": tx.dd_shared_passages(8, 16),
        "remove_passages": tx.dd_remove_passages(8, 16),
        "semantic_dedup": dd_semantic_dedup(DUP_THRESHOLD, IVF_CENTROIDS),
        "project_embeddings": _dd_project(),
        "importance_weights": tx.dd_importance_weights(DSIR_TARGET_MOD),
        "char_entropy": tx.dd_char_entropy(),
        "novelty": tx.dd_novelty_scores(),
        "decontaminate_fuzzy": tx.dd_contaminated_docs_fuzzy(
            f"doc_id % {FUZZY_EVAL_MOD} = 0", FUZZY_THRESHOLD
        ),
        "warc_pipeline": _dd_warc_pipeline(),
        "jsonl_roundtrip": (
            "SELECT doc_id, text, lang, source, n_chars FROM documents"
        ),
        "tile_smooth": oracles.q_tile_smooth(COPIES, PAGE_RES, XYZ_TILE_RES, SMOOTH_K),
        "tile_hotspot": oracles.q_tile_hotspot(COPIES, PAGE_RES, XYZ_TILE_RES, SMOOTH_K),
        "trace_cells": _dd_trace(),
        "retention_cohorts": _dd_retention(),
        "funnel": _dd_funnel(),
        "quantile_filter": _dd_quantile_filter(),
        "point_in_polygon": oracles.q_point_in_polygon(ops.REGIONS, COPIES, PAGE_RES),
        "cell_hex": oracles.q_cell_hex(),
        "descendants": oracles.q_descendants(),
        "uncompact": oracles.q_uncompact(),
        "text_features": oracles.q_text_features(),
        "dedup_exact": dd.dd_dedup_exact(),
        "jaccard_pairs": dd.dd_jaccard_pairs(JACCARD_PCT, 3),
        "jaccard_pairs_capped": dd.dd_jaccard_pairs(
            JACCARD_CAP_PCT, 3, JACCARD_MAX_DF
        ),
        "ann_topk": _ann_oracle(),
        "minhash_lsh": dd.dd_lsh_candidates(bands=4, rows_per_band=4, n=3),
        "simhash": dd.dd_simhash(bits=32),
        "simhash_pairs": dd.dd_simhash_pairs(SIMHASH_MAX_HAMMING, 32),
        "simhash_pairs64": dd.dd_simhash_pairs(SIMHASH_MAX_HAMMING, 64),
        "incremental_keepers": _dd_incremental_keepers(),
        "dup_clusters": dd.dd_dup_clusters(
            dd.dd_simhash_pairs(SIMHASH_MAX_HAMMING, 32),
            include_all_from="doc_id AS id FROM documents",
        ),
        "ann_ivf": (
            "SELECT query_id, rank, vec_id FROM ("
            + dd_ann_topk_ivf(ANN_K, ANN_QUERIES, IVF_CENTROIDS, IVF_NPROBE)
            + ")"
        ),
        "ann_lsh": (
            "SELECT query_id, rank, vec_id FROM ("
            + dd_ann_topk_lsh(ANN_K, ANN_QUERIES, 64, LSH_PLANES, LSH_TABLES)
            + ")"
        ),
        "knn_rings": oracles.q_knn_rings(
            KNN_RINGS_K, KNN_RINGS_MAX, KNN_RINGS_RES, KNN_RINGS_PROBES
        ),
        "media_features": dd_media_features(kind="image"),
        "media_resize": dd_media_resize(RESIZE_W, RESIZE_H, kind="image"),
        "embed_dups": dd_embedding_dups(DUP_THRESHOLD),
        "polyfill_hier": (
            "SELECT cell FROM ("
            + oracles.dd_polyfill_cte(
                ops.REGIONS["alpha"], POLYFILL_HIER_RES, "alpha"
            )
            + ")"
        ),
        "event_windows": _dd_event_windows(),
        "event_sessions": _dd_event_sessions(),
        "set_intersect": oracles.q_set_op("INTERSECT"),
        "set_union": oracles.q_set_op("UNION"),
        "set_difference": oracles.q_set_op("EXCEPT"),
        "top_domains": oracles.q_top_domains(
            ops.REGIONS, ops.REGION_RES, COPIES, PAGE_RES, TOP_DOMAINS_K
        ),
        "stratified_sample": oracles.q_stratified_sample(
            SAMPLE_RATE_BPS, SAMPLE_STRATA_BPS
        ),
        "event_quantiles": _dd_event_quantiles(),
        "url_normalize": oracles.q_url_normalize(COPIES, PAGE_RES),
        "top_ngrams": oracles.q_top_ngrams(NGRAM_N, NGRAM_K),
        "ann_in_region": oracles.q_ann_in_region(
            ops.REGIONS, ops.REGION_RES, COPIES, PAGE_RES,
            ANN_REGION, ANN_K, ANN_QUERIES,
        ),
        "cap_per_domain": _dd_cap_per_domain(),
        "cap_per_tile": _dd_cap_per_tile(),
        "tfidf_terms": tx.dd_tfidf_top_terms(TFIDF_K),
        "decontaminate": tx.dd_contaminated_docs(DECON_EVAL_PRED, DECON_N),
        "pii_scrub": _dd_pii_scrub(),
        "repetition_stats": tx.dd_repetition_stats(REP_N),
        "pack_sequences": _dd_pack_sequences(),
        "blocklist_filter": _dd_blocklist_filter(),
        "remove_boilerplate": _dd_remove_boilerplate(),
        "mix_corpus": _dd_mix_corpus(),
        "distance_join_wrap": oracles.q_distance_join_wrap(
            DIST_WRAP_RADIUS, COPIES, PAGE_RES
        ),
        # identical oracle to asof_events by design: the split path
        # must be row-identical to the unsplit window form
        "asof_events_split": oracles.q_asof_events(ASOF_TOL_HOURS),
        "polyfill_holes": (
            "SELECT cell FROM ("
            + oracles.dd_polyfill_cte(DONUT_EXT, DONUT_RES, "d")
            + ") WHERE cell NOT IN (SELECT cell FROM ("
            + oracles.dd_polyfill_cte(DONUT_HOLE, DONUT_RES, "h")
            + "))"
        ),
        "capped_grams": tx.dd_capped_gram_stats(n=8, max_df=1),
        "pyramid_unique": oracles.q_pyramid_unique(COPIES, PAGE_RES, PYRAMID_RES),
        "nearest_region": oracles.q_nearest_region(
            ops.REGIONS, ops.REGION_RES, COPIES, PAGE_RES
        ),
    }
