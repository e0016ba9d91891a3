"""The resumable end-to-end pipeline driver.

Chains every flagship stage through the Checkpointer so a crashed or
re-submitted run resumes at the first incomplete stage with full
per-partition lineage (north_rule: "resumable from checkpoint with
per-partition lineage + metrics"):

    ingest(pages) ──┬─> quarantine (invalid cells)
                    └─> encode ─> assign ─> region_counts
    region build ───────────────────^            tile rollup

Run on a cluster:  spark-submit --py-files dist/hexspark.zip \
    -c 'from hexspark.pipeline import run_pipeline; ...'
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import build as bx
from . import cells as cx
from . import join as jx
from . import ops
from .checkpoint import Checkpointer
from .pages import synth_pages


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    copies: int = 2,
    page_res: int = 12,
    tile_res: int = 6,
    bucket_tiles: int = 0,
) -> dict[str, DataFrame]:
    """Run (or resume) the full spatial pipeline; returns stage outputs.

    ``bucket_tiles > 0`` inserts a ``pages_tiled`` stage materialized as
    a table hash-bucketed on the tile prefix (that many buckets): the
    downstream tile rollup then groups on the stored bucket key and
    joins regions by broadcast, so its executed plan carries NO
    Exchange until the final region-cardinality aggregate — the posture
    for a pages-scale table fanned out to many tile-keyed queries.
    Output is identical to the unbucketed path (asserted in tests)."""
    ck = Checkpointer(spark, work_dir)

    # params are TRANSITIVE: each stage records its own knobs PLUS every
    # ancestor's (a copies change must invalidate region_counts even
    # though region_counts' direct inputs are unchanged — _resume_ok
    # only compares the recorded dict, it cannot see through the DAG)
    p_pages = {"copies": copies, "page_res": page_res}
    p_tiles = {**p_pages, "tile_res": tile_res, "bucket_tiles": bucket_tiles}

    pages = ck.stage(
        "pages",
        lambda: synth_pages(spark, sf_dir, copies=copies, res=page_res, with_html=False),
        params=p_pages,
    )

    # quarantine stage: split valid/invalid probe cells, count both.
    # validate_cells (not a bare ~is_valid filter) so NULL cells land
    # in quarantine instead of vanishing from both outputs
    valid = ck.stage(
        "pages_valid",
        lambda: bx.validate_cells(pages)[0],
        inputs=["pages"],
        quarantine_fn=lambda: bx.validate_cells(pages)[1],
        params=p_pages,
    )

    regions = ck.stage("region_map", lambda: ops.region_map(spark))

    assigned = ck.stage(
        "assigned",
        lambda: jx.get_chained(
            valid.select("page_key", "cell", "lang"), regions, probe_col="cell"
        ),
        inputs=["pages_valid", "region_map"],
        params=p_pages,
    )

    counts = ck.stage(
        "region_counts",
        lambda: assigned.groupBy("region").agg(
            F.count("*").alias("n_pages"),
            F.count_distinct("lang").alias("n_langs"),
        ),
        inputs=["assigned"],
        params=p_pages,
    )

    out: dict[str, DataFrame] = {}
    if bucket_tiles:
        tiled = ck.stage_bucketed(
            "pages_tiled",
            lambda: valid.select(
                "page_key", "lang", cx.to_parent("cell", tile_res).alias("tile")
            ),
            bucket_col="tile",
            n_buckets=bucket_tiles,
            inputs=["pages_valid"],
            params=p_tiles,
        )
        out["pages_tiled"] = tiled
        tiles = ck.stage(
            "tile_rollup",
            lambda: ops.tile_region_rollup_pretiled(tiled, regions),
            inputs=["pages_tiled", "region_map"],
            params=p_tiles,
        )
    else:
        tiles = ck.stage(
            "tile_rollup",
            lambda: ops.tile_region_rollup(valid, regions, tile_res),
            inputs=["pages_valid", "region_map"],
            params=p_tiles,
        )

    active = {"pages", "pages_valid", "region_map", "assigned",
              "region_counts", "tile_rollup"} | set(out)
    out.update({
        "pages": pages,
        "valid": valid,
        "regions": regions,
        "assigned": assigned,
        "region_counts": counts,
        "tile_rollup": tiles,
        # only THIS run's wiring: a leftover manifest from a previous
        # configuration (e.g. pages_tiled after a bucketed run) must
        # not surface as an active stage
        "lineage": {k: v for k, v in ck.lineage().items() if k in active},  # type: ignore[dict-item]
    })
    return out


def select_keepers(
    feats: DataFrame, clusters: DataFrame, min_quality: float
) -> DataFrame:
    """One keeper per dup cluster: the min-``doc_id`` member AMONG those
    at/above the quality floor.  A cluster survives as long as ANY
    member passes — filtering after canonical min-id assignment would
    drop a whole cluster whenever its lowest-id copy happened to be the
    low-quality one.  ``feats`` needs (doc_id, quality, ...); ``clusters``
    is the (id, cluster) output of :func:`hexspark.dedup.dup_clusters`.

    Shape: ``groupBy(cluster).min`` + semi-join-back, NOT a
    ``min().over(partitionBy(cluster))`` window.  A window min has no
    map-side combine — every qualified row shuffles keyed by cluster
    and ONE reducer sorts each cluster, and crawl dedup has
    pathological mega-clusters (millions of copies of boilerplate)
    that make that reducer a straggler at 100 TB.  The groupBy
    combines map-side (a 10^8-row cluster collapses to one row per
    map task before the shuffle), and the semi-join-back keys on
    (doc_id, cluster) — nearly unique, so no skew regardless of
    cluster shape; AQE broadcasts the keeper relation when it fits
    (NOT hint-forced: at corpus scale there is ~one keeper per unique
    document, far past broadcast size)."""
    qualified = feats.join(
        clusters.withColumnRenamed("id", "doc_id"), on="doc_id"
    ).filter(F.col("quality") >= min_quality)
    keeper_ids = qualified.groupBy("cluster").agg(
        F.min("doc_id").alias("doc_id")
    )
    return qualified.join(keeper_ids, on=["doc_id", "cluster"], how="leftsemi")


# minhash miner knobs (fixed here so base and append runs can never
# silently disagree on the signature scheme)
MINHASH_BANDS = 4
MINHASH_ROWS = 4
MINHASH_SHINGLE_N = 3


def _doc_features(docs: DataFrame) -> DataFrame:
    """The per-document feature projection (shared by base + append
    runs — BOTH must derive features with the same formulas or the
    keeper quality floor would mean different things per generation)."""
    from . import text as tx
    from .skew import widen_input

    return widen_input(docs).select(
        "doc_id",
        tx.token_count(F.col("text")).alias("toks"),
        tx.lang_id(F.col("text")).alias("lang_guess"),
        tx.quality_score(F.col("text")).alias("quality"),
        tx.fingerprint(F.col("text")).alias("fp"),
    )


def _miner_params(
    pair_miner: str, bits: int, max_hamming: int
) -> "tuple[dict, dict]":
    """(signature-stage params, pair-stage params) for a miner config —
    recorded transitively so any knob change invalidates downstream."""
    if pair_miner == "simhash":
        p_sig = {"pair_miner": "simhash", "bits": bits}
        p_pairs = {**p_sig, "max_hamming": max_hamming}
    elif pair_miner == "minhash":
        p_sig = {
            "pair_miner": "minhash",
            "num_hashes": MINHASH_BANDS * MINHASH_ROWS,
            "shingle_n": MINHASH_SHINGLE_N,
        }
        p_pairs = {**p_sig, "bands": MINHASH_BANDS, "rows_per_band": MINHASH_ROWS}
    else:
        raise ValueError(f"unknown pair_miner {pair_miner!r}")
    return p_sig, p_pairs


def run_corpus_pipeline(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    max_hamming: int = 3,
    min_quality: float = 0.0,
    sample_bps: int = 0,
    strata_bps: "dict[str, int] | None" = None,
    bits: int = 64,
    pair_miner: str = "simhash",
    docs: "DataFrame | None" = None,
    remove_shared_passages: bool = False,
    passage_n: int = 8,
    passage_min_len: int = 16,
    passage_max_df: "int | None" = 128,
) -> dict[str, DataFrame]:
    """Run (or resume) the training-corpus curation pipeline end to end
    — the dedup analogue of :func:`run_pipeline`, every stage
    checkpointed with per-partition lineage:

    1. ``doc_features``  — tokens / lang / quality / fingerprint (raw
       ``text`` deliberately NOT checkpointed — no downstream stage
       reads it, and it is the heaviest column of the source table)
    2. ``signatures``    — the near-dup signature table (64-bit simhash
       by default; ``pair_miner='minhash'`` swaps in MinHash signatures,
       which catch token re-orderings simhash misses).  Checkpointed in
       its own right: pair mining never recomputes signatures, and an
       incremental append (:func:`run_corpus_append`) bucket-joins its
       new documents against THIS table instead of re-signing the corpus
    3. ``dup_pairs``     — near-dup pairs mined from the signatures
       (simhash: Hamming-budget block join; minhash: banded LSH buckets)
    4. ``dup_clusters``  — connected components → cluster/keeper ids
    5. ``keepers``       — one doc per cluster: the min-id member
       AMONG those above the quality floor (a cluster survives as long
       as ANY member passes the floor — filtering after canonical
       min-id assignment would drop a whole cluster whenever its
       lowest-id copy happened to be the low-quality one)
    6. ``sampled``       — optional (``sample_bps > 0``): deterministic
       per-stratum downsample of the keepers (hexspark.sample — the
       language-rebalancing step; layout-independent, so a resumed or
       re-run pipeline reproduces the identical corpus)
    7. ``corpus_stats``  — per-language keeper counts + token totals
       (with the pre-dedup counts for the reduction ratio)
    8. optional (``remove_shared_passages=True``) exact substring
       dedup over the surviving docs:
       ``passages``      — maximal cross-doc shared spans
       (text.shared_passages at ``passage_n``/``passage_min_len``,
       CAPPED at ``passage_max_df`` — at web scale ultra-common grams
       are boilerplate and an uncapped inverted index fans out on
       them; the cap is never silent:
       ``passage_stats``  — one row (n_capped_grams, max_doc_freq)
       from text.capped_gram_stats, same frequency definition as the
       cap, logged on build), and
       ``cleaned_docs``  — remove_passages applied (one copy of each
       shared span survives corpus-wide).  Pass
       ``passage_max_df=None`` to run the exact oracle form instead.

    ``bits=64`` is the production simhash width: 32-bit signatures
    saturate with birthday collisions around 10^5 documents (measured
    on the synthetic corpus: 1192 32-bit pairs vs 21 64-bit pairs over
    500 docs — the excess is pure collision noise).  ``docs`` overrides
    the default ``{sf_dir}/documents.parquet`` read (tests and append
    equivalence use a filtered slice)."""
    from . import dedup as ddp

    ck = Checkpointer(spark, work_dir)
    if docs is None:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # transitive params (see run_pipeline): a max_hamming / bits /
    # miner change must invalidate clusters/keepers/stats too
    p_sig, p_pairs = _miner_params(pair_miner, bits, max_hamming)
    p_keep = {**p_pairs, "min_quality": min_quality}
    p_samp = {**p_keep, "sample_bps": sample_bps, "strata_bps": strata_bps}

    feats = ck.stage("doc_features", lambda: _doc_features(docs))

    # Exact duplicates collapse to ONE representative BEFORE signature
    # mining.  Identical documents share identical signatures, so every
    # pair-miner bucket holding m exact copies would emit C(m, 2) pairs
    # — a crawl corpus is ~30-50% exact dups and one boilerplate page
    # with 10^6 copies alone would emit 5*10^11 rows into dup_pairs.
    # Instead: group on the fingerprint doc_features already computes,
    # sign/mine only the min-id representative of each group, and carry
    # one (rep, member) edge per extra copy — the duplicates stay
    # connected THROUGH their representative, so dup_clusters (and
    # therefore keepers) are provably identical while dup_pairs stays
    # O(copies), not O(copies^2).  The edge relation is output-scale
    # (one row per collapsed copy) and rides the pair schema with
    # hamming 0 (identical text => identical signature).
    rep_edges = (
        feats.select("doc_id", "fp")
        .join(
            feats.groupBy("fp").agg(F.min("doc_id").alias("ida")),
            on="fp",
        )
        .filter(F.col("doc_id") != F.col("ida"))
        .select(
            "ida",
            F.col("doc_id").alias("idb"),
            F.lit(0).cast("long").alias("hamming"),
        )
    )
    # NOT its own checkpoint stage: it is a two-aggregate derivation of
    # the doc_features checkpoint (deterministic, output-scale), and a
    # stage's fixed write/read/manifest cost would exceed recomputing
    # it on resume.  The anti-join and the union always run, with no
    # probe job to skip them: with no exact dups the edge relation is
    # empty and the pairs come out unchanged, and on a resume the
    # read-back stages never need to know.
    rep_docs = docs.join(
        F.broadcast(rep_edges.select(F.col("idb").alias("doc_id"))),
        on="doc_id",
        how="left_anti",
    )

    if pair_miner == "simhash":
        sig_fn = lambda: ddp.simhash(rep_docs, bits=bits)  # noqa: E731
        pair_fn = lambda: ddp.simhash_pairs_from_sigs(  # noqa: E731
            sigs, max_hamming=max_hamming, bits=bits
        ).unionByName(rep_edges)
    else:
        sig_fn = lambda: ddp.minhash_signature(  # noqa: E731
            rep_docs, num_hashes=MINHASH_BANDS * MINHASH_ROWS, n=MINHASH_SHINGLE_N
        )
        pair_fn = lambda: ddp.lsh_candidates(  # noqa: E731
            sigs, bands=MINHASH_BANDS, rows_per_band=MINHASH_ROWS
        ).unionByName(rep_edges.select("ida", "idb"))

    sigs = ck.stage(
        "signatures", sig_fn, inputs=["doc_features"], params=p_sig
    )
    pairs = ck.stage(
        "dup_pairs",
        pair_fn,
        inputs=["signatures", "doc_features"],
        params=p_pairs,
    )

    clusters = ck.stage(
        "dup_clusters",
        lambda: ddp.dup_clusters(pairs, all_ids=docs.select("doc_id")),
        inputs=["dup_pairs"],
        params=p_pairs,
    )

    keepers = ck.stage(
        "keepers",
        lambda: select_keepers(feats, clusters, min_quality),
        inputs=["doc_features", "dup_clusters"],
        params=p_keep,
    )

    out: dict[str, DataFrame] = {}
    final = keepers
    stats_inputs = ["keepers"]
    if sample_bps > 0:
        from .sample import deterministic_sample

        final = ck.stage(
            "sampled",
            lambda: deterministic_sample(
                keepers, "doc_id", rate_bps=sample_bps,
                strata_col="lang_guess", strata_bps=strata_bps,
            ),
            inputs=["keepers"],
            params=p_samp,
        )
        out["sampled"] = final
        stats_inputs = ["sampled"]

    stats = ck.stage(
        "corpus_stats",
        lambda: final.groupBy("lang_guess").agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").alias("total_toks"),
        ),
        inputs=stats_inputs,
        params=p_samp if sample_bps > 0 else p_keep,
    )

    if remove_shared_passages:
        import logging

        from .text import (
            capped_gram_stats,
            gram_doc_freq,
            remove_passages,
            shared_passages,
        )

        p_pass = {
            **(p_samp if sample_bps > 0 else p_keep),
            "passage_n": passage_n,
            "passage_min_len": passage_min_len,
            "passage_max_df": passage_max_df,
        }
        survivors = final
        keeper_docs = docs.join(
            survivors.select("doc_id"), "doc_id", "semi"
        )
        # the docs-scale gram explode + COUNT(DISTINCT doc) agg runs
        # ONCE: both the cap inside shared_passages and the audit row
        # consume this checkpointed relation
        gfreq = ck.stage(
            "gram_freq",
            lambda: gram_doc_freq(keeper_docs, n=passage_n),
            inputs=stats_inputs,
            params=p_pass,
        )
        spans = ck.stage(
            "passages",
            lambda: shared_passages(
                keeper_docs, n=passage_n, min_len=passage_min_len,
                max_df=passage_max_df, gram_freq=gfreq,
            ),
            inputs=stats_inputs + ["gram_freq"],
            params=p_pass,
        )
        pstats = ck.stage(
            "passage_stats",
            lambda: capped_gram_stats(
                n=passage_n, max_df=passage_max_df, gram_freq=gfreq
            ),
            inputs=["gram_freq"],
            params=p_pass,
        )
        # no silent cap: say what the max_df cap dropped
        srow = pstats.first()
        logging.getLogger(__name__).info(
            "passages: max_df=%s capped %d gram(s) (max doc freq %d)",
            passage_max_df, srow["n_capped_grams"], srow["max_doc_freq"],
        )
        cleaned = ck.stage(
            "cleaned_docs",
            lambda: remove_passages(keeper_docs, spans),
            inputs=["passages"],
            params=p_pass,
        )
        out["gram_freq"] = gfreq
        out["passages"] = spans
        out["passage_stats"] = pstats
        out["cleaned_docs"] = cleaned

    active = {"doc_features", "signatures", "dup_pairs",
              "dup_clusters", "keepers", "corpus_stats"} | set(out)
    out.update({
        "doc_features": feats,
        "exact_rep_edges": rep_edges,
        "signatures": sigs,
        "dup_pairs": pairs,
        "dup_clusters": clusters,
        "keepers": keepers,
        "corpus_stats": stats,
        "lineage": {k: v for k, v in ck.lineage().items() if k in active},  # type: ignore[dict-item]
    })
    return out


def run_corpus_append(
    spark: SparkSession,
    new_docs: DataFrame,
    work_dir: str,
    max_hamming: int = 3,
    min_quality: float = 0.0,
    sample_bps: int = 0,
    strata_bps: "dict[str, int] | None" = None,
    bits: int = 64,
) -> dict[str, DataFrame]:
    """Incremental corpus ingest: dedup ``new_docs`` against the
    EXISTING corpus in ``work_dir`` without recomputing any closed
    stage, producing keepers IDENTICAL to one
    :func:`run_corpus_pipeline` over the union (tested + oracle-gated
    as the ``incremental_keepers`` contract query).

    What is delta-scale vs corpus-scale:

    * features + signatures — computed for the NEW docs only
      (``doc_features_a{g}`` / ``signatures_a{g}``); the old tables are
      read back from their checkpoints, never re-derived from text.
    * pair mining — the block bucket join probes the union signature
      table with the DELTA's blocks only
      (:func:`hexspark.dedup.simhash_pairs_from_sigs` with ``delta=``),
      yielding exactly the new↔new and new↔old pairs; old↔old pairs
      are read back from the previous generations' checkpoints.  At
      10^12 old docs and 10^9 appended, the join moves delta-scale
      rows against a bucketed corpus-scale build side — never
      corpus × corpus.
    * clustering / keepers — recomputed GLOBALLY over the (small,
      component-scale) union pair relation: a new doc can bridge two
      old clusters, so cluster ids cannot be stitched locally; the
      inputs here are pair/label relations, not the corpus.

    Generations auto-increment: each call finds the next free
    ``_a{g}`` suffix, so repeated appends compose (every prior
    generation's delta stages are unioned in).  Miner-config drift is
    rejected: the append refuses to run if the base run's recorded
    signature params (miner, bits) or pair params (max_hamming) differ
    from this call's — incremental pairs mined under a different
    scheme would be silently meaningless.  Simhash miner only (minhash
    delta mining would follow the same shape via banded buckets)."""
    from . import dedup as ddp

    ck = Checkpointer(spark, work_dir)
    for st in ("doc_features", "signatures", "dup_pairs"):
        if not ck.is_complete(st):
            raise ValueError(
                f"run_corpus_append: base stage {st!r} incomplete under"
                f" {work_dir!r} — run run_corpus_pipeline first"
            )
    p_sig, p_pairs = _miner_params("simhash", bits, max_hamming)
    base_sig = ck.manifest("signatures").get("params")
    base_pairs = ck.manifest("dup_pairs").get("params")
    if base_sig != p_sig or base_pairs != p_pairs:
        raise ValueError(
            "run_corpus_append: miner config drift — base run recorded"
            f" {base_sig} / {base_pairs}, append asked for"
            f" {p_sig} / {p_pairs}"
        )
    p_keep = {**p_pairs, "min_quality": min_quality}
    p_samp = {**p_keep, "sample_bps": sample_bps, "strata_bps": strata_bps}

    gen = 1
    while ck.is_complete(f"doc_features_a{gen}"):
        gen += 1
    prior = [""] + [f"_a{g}" for g in range(1, gen)]

    def _union(base_name: str) -> DataFrame:
        parts = [ck.load(f"{base_name}{sfx}") for sfx in prior]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    feats_new = ck.stage(
        f"doc_features_a{gen}", lambda: _doc_features(new_docs)
    )
    sigs_new = ck.stage(
        f"signatures_a{gen}",
        lambda: ddp.simhash(new_docs, bits=bits),
        params=p_sig,
    )
    sigs_all = _union("signatures").unionByName(sigs_new)
    sig_inputs = [f"signatures{sfx}" for sfx in prior] + [f"signatures_a{gen}"]
    pairs_delta = ck.stage(
        f"dup_pairs_a{gen}",
        lambda: ddp.simhash_pairs_from_sigs(
            sigs_all, max_hamming=max_hamming, bits=bits, delta=sigs_new
        ),
        inputs=sig_inputs,
        params=p_pairs,
    )
    pairs_all = _union("dup_pairs").unionByName(pairs_delta)
    feats_all = _union("doc_features").unionByName(feats_new)
    pair_inputs = [f"dup_pairs{sfx}" for sfx in prior] + [f"dup_pairs_a{gen}"]
    clusters = ck.stage(
        f"dup_clusters_a{gen}",
        lambda: ddp.dup_clusters(
            pairs_all, all_ids=feats_all.select("doc_id")
        ),
        inputs=pair_inputs,
        params=p_pairs,
    )
    feat_inputs = [f"doc_features{sfx}" for sfx in prior] + [
        f"doc_features_a{gen}"
    ]
    keepers = ck.stage(
        f"keepers_a{gen}",
        lambda: select_keepers(feats_all, clusters, min_quality),
        inputs=feat_inputs + [f"dup_clusters_a{gen}"],
        params=p_keep,
    )

    out: dict[str, DataFrame] = {}
    final = keepers
    stats_inputs = [f"keepers_a{gen}"]
    if sample_bps > 0:
        from .sample import deterministic_sample

        final = ck.stage(
            f"sampled_a{gen}",
            lambda: deterministic_sample(
                keepers, "doc_id", rate_bps=sample_bps,
                strata_col="lang_guess", strata_bps=strata_bps,
            ),
            inputs=[f"keepers_a{gen}"],
            params=p_samp,
        )
        out["sampled"] = final
        stats_inputs = [f"sampled_a{gen}"]

    stats = ck.stage(
        f"corpus_stats_a{gen}",
        lambda: final.groupBy("lang_guess").agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").alias("total_toks"),
        ),
        inputs=stats_inputs,
        params=p_samp if sample_bps > 0 else p_keep,
    )

    active = set(
        sig_inputs + pair_inputs + feat_inputs
        + [f"dup_clusters_a{gen}", f"keepers_a{gen}", f"corpus_stats_a{gen}"]
        + ([f"sampled_a{gen}"] if sample_bps > 0 else [])
    )
    out.update({
        "gen": gen,  # type: ignore[dict-item]
        "doc_features": feats_all,
        "signatures": sigs_all,
        "dup_pairs": pairs_all,
        "dup_pairs_delta": pairs_delta,
        "dup_clusters": clusters,
        "keepers": keepers,
        "corpus_stats": stats,
        "lineage": {k: v for k, v in ck.lineage().items() if k in active},  # type: ignore[dict-item]
    })
    return out
