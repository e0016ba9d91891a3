"""Module tests for text / dedup / embed / multimodal beyond the oracle
gate: LSH recall, partitioning-independence, invariants."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hexspark import dedup as dd
from hexspark.embed import ann_topk_brute, ann_topk_lsh
from hexspark.multimodal import extract_features, frame_sample, synth_media
from hexspark.pages import extract_text, make_html


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


def test_minhash_lsh_recall(spark, docs):
    """LSH candidates must recover most truly-similar pairs (recall vs
    the exact jaccard ground truth) while pruning the pair space."""
    truth = {
        (r["ida"], r["idb"])
        for r in dd.jaccard_pairs(docs, threshold_pct=80, n=3).collect()
    }
    sigs = dd.minhash_signature(docs, num_hashes=16, n=3)
    cand = {
        (r["ida"], r["idb"]) for r in dd.lsh_candidates(sigs, 4, 4).collect()
    }
    n_docs = docs.count()
    assert len(cand) < n_docs * (n_docs - 1) / 4  # actually prunes
    if truth:
        recall = len(truth & cand) / len(truth)
        assert recall >= 0.8, f"recall {recall} over {len(truth)} true pairs"


def _simhash_reference(docs, bits):
    """The retired JVM form of ``dedup.simhash``: explode the tokens,
    one conditional sum per bit, then one ``when`` add per bit.  Kept
    here only as the reference the Arrow kernel must equal."""
    toks = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(
            F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"[ \t\n\x0B\f\r]+", " "), " ")
        ).alias("tok"),
    )
    toks = toks.withColumn("h", dd._h64(F.col("tok")))
    if bits > 60:
        toks = toks.withColumn("h2", dd._h64b(F.col("tok")))
    aggs = [
        F.sum(
            F.when(
                F.shiftrightunsigned(
                    F.col("h" if j < 60 else "h2"), j if j < 60 else j - 60
                ).bitwiseAND(F.lit(1)) == 1,
                1,
            ).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    summed = toks.groupBy("id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for j in range(bits):
        bit_val = (1 << j) if j < 63 else -(1 << 63)
        sig = sig + F.when(F.col(f"b{j}") > 0, F.lit(bit_val).cast("long")).otherwise(0)
    return summed.select("id", sig.alias("simhash"))


_HOSTILE_TEXTS = [
    None, "", " ", "   ", "\t", "\r\n", " \t\r\n\f\x0b ",
    "\tleading tab", "trailing tab\t", "  spaced  out  ", "mixed\t\r\nruns \t here",
    "a\r\n\r\nb", "MiXeD CaSe Words", "ΣΑΣ", "İstanbul İ", "emoji 🙂 ok 🙂",
    "naïve café Ünïcödé", "x", "the the the the the", "\x0bvt\x0cff\x0b",
]


@pytest.mark.parametrize("bits", [1, 32, 60, 61, 64])
def test_simhash_kernel_equals_reference(spark, docs, bits, monkeypatch):
    """The Arrow kernel equals the retired explode + per-bit-sum form
    bit for bit: hostile texts (NULL, empty, whitespace-only, tab and
    CRLF runs, case, non-ASCII) plus the sf docs, at every width edge,
    and on a 13-way repartitioned input with many doc slices per batch
    and a token cache that keeps starting over."""
    hostile = spark.createDataFrame(
        [(1_000_000 + i, t) for i, t in enumerate(_HOSTILE_TEXTS)],
        "doc_id: long, text: string",
    )
    corpus = docs.select("doc_id", "text").unionByName(hostile)
    want = {tuple(r) for r in _simhash_reference(corpus, bits).collect()}
    got = {tuple(r) for r in dd.simhash(corpus, bits=bits).collect()}
    assert got == want
    monkeypatch.setattr(dd, "_SIMHASH_SLICE", 7)
    monkeypatch.setattr(dd, "_SIMHASH_CACHE", 5)
    got13 = {tuple(r) for r in dd.simhash(corpus.repartition(13), bits=bits).collect()}
    assert got13 == want
    # NULL text emits no row; "" is one empty token and does emit one
    ids = {r[0] for r in got}
    assert 1_000_000 not in ids and 1_000_001 in ids
    if bits == 64:
        assert any(s < 0 for _, s in got)  # bit 63 packs as the sign bit


@pytest.mark.parametrize("bits", [0, 65])
def test_simhash_bits_out_of_range(docs, bits):
    with pytest.raises(ValueError, match="bits must be in 1..64"):
        dd.simhash(docs, bits=bits)


def test_simhash_deterministic_and_similarity(spark, docs):
    a = {r["id"]: r["simhash"] for r in dd.simhash(docs, bits=32).collect()}
    b = {
        r["id"]: r["simhash"]
        for r in dd.simhash(docs.repartition(13), bits=32).collect()
    }
    assert a == b  # partitioning-independent
    # identical text ⇒ identical simhash
    dup = docs.limit(1).unionByName(docs.limit(1))
    sigs = dd.simhash(dup.withColumn("doc_id", F.monotonically_increasing_id()))
    vals = [r["simhash"] for r in sigs.collect()]
    assert len(vals) == 2 and vals[0] == vals[1]


def test_ann_lsh_recall_near_duplicates(spark, sf_dir):
    """LSH's job is dense-neighborhood recovery: queries are slightly
    perturbed copies of corpus vectors; the source vector must surface
    as a top-k candidate with high recall.  (Uniform-random corpora
    have no meaningful neighbors — global top-k recall there is a
    parameter-tuning exercise, not a correctness property.)"""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    rows = emb.filter(F.col("vec_id") < 20).collect()
    rng = np.random.default_rng(7)
    queries = spark.createDataFrame(
        [
            (
                int(r["vec_id"]),
                [float(v + 0.02 * e) for v, e in zip(r["embedding"], rng.standard_normal(64))],
            )
            for r in rows
        ],
        "query_id: long, qvec: array<float>",
    )
    lsh = ann_topk_lsh(emb, queries, 5, dim=64, n_planes=8, n_tables=4)
    got = {(r["query_id"], r["vec_id"]) for r in lsh.collect()}
    hits = sum((i, i) in got for i in range(20))
    assert hits >= 18, f"near-dup recall {hits}/20"
    # and LSH's survivors agree with brute force on those pairs
    brute = ann_topk_brute(emb, queries, 5)
    truth = {(r["query_id"], r["vec_id"]) for r in brute.collect()}
    assert all((i, i) in truth for i in range(20))


def test_ann_ivf_recall(spark, sf_dir):
    """IVF with nprobe=all centroids must equal brute force exactly;
    with small nprobe it keeps high recall on planted near-dups."""
    from hexspark.embed import ann_topk_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    truth = {
        (r["query_id"], r["vec_id"]) for r in ann_topk_brute(emb, q, 5).collect()
    }
    # exhaustive probing == brute force
    full = {
        (r["query_id"], r["vec_id"])
        for r in ann_topk_ivf(emb, q, 5, n_centroids=8, nprobe=8).collect()
    }
    assert full == truth
    # partial probing: self-hit always survives, recall reasonable
    part = {
        (r["query_id"], r["vec_id"])
        for r in ann_topk_ivf(emb, q, 5, n_centroids=8, nprobe=3).collect()
    }
    assert all((i, i) in part for i in range(10))
    assert len(truth & part) / len(truth) >= 0.5
    # first_k quantizer (the SQL-portable oracle path): exhaustive
    # probing must also equal brute force exactly
    full_fk = {
        (r["query_id"], r["vec_id"])
        for r in ann_topk_ivf(
            emb, q, 5, n_centroids=8, nprobe=8, quantizer="first_k"
        ).collect()
    }
    assert full_fk == truth


def test_embedding_dups_lsh_recall(spark, sf_dir):
    """LSH-pruned near-dup pairs vs the exact all-pairs baseline on a
    corpus with PLANTED near-duplicates (the natural embeddings table
    has none — max pairwise cosine ~0.5): no false positives ever
    (exact re-check inside buckets), recall ≥ 0.8 at sim ≥ 0.9."""
    import numpy as np

    from hexspark.embed import embedding_dups

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = emb.limit(100).collect()
    rng = np.random.default_rng(5)
    planted = spark.createDataFrame(
        [
            (
                int(r["vec_id"]) + 100000,
                [float(v + 0.02 * e) for v, e in zip(r["embedding"], rng.standard_normal(64))],
            )
            for r in rows
        ],
        "vec_id: long, embedding: array<float>",
    )
    corpus = emb.select("vec_id", "embedding").unionByName(planted).cache()
    exact = {
        (r["ida"], r["idb"])
        for r in embedding_dups(corpus, 0.9, dim=64, exact=True).collect()
    }
    assert len(exact) >= 80  # the planted pairs dominate
    lsh = {
        (r["ida"], r["idb"])
        for r in embedding_dups(corpus, 0.9, dim=64, n_planes=8, n_tables=4).collect()
    }
    assert lsh <= exact  # never a false positive
    assert len(lsh) / len(exact) >= 0.8, f"recall {len(lsh)}/{len(exact)}"


def test_media_feature_plumbing(spark, docs):
    media = synth_media(docs.limit(50), kind="image")
    feats = extract_features(media, dim=16, codec=None).collect()
    assert len(feats) == 50
    assert all(len(r["feature"]) == 16 for r in feats)
    # deterministic across partitionings
    feats2 = extract_features(synth_media(docs.limit(50)).repartition(7), dim=16, codec=None)
    m1 = {r["media_id"]: list(r["feature"]) for r in feats}
    m2 = {r["media_id"]: list(r["feature"]) for r in feats2.collect()}
    assert m1 == m2


def test_frame_sample(spark, docs):
    media = synth_media(docs.limit(5), kind="video").withColumn(
        "duration_ms", F.lit(3500)
    )
    frames = frame_sample(media, every_ms=1000).collect()
    # 0,1000,2000,3000 per video
    assert len(frames) == 20
    assert sorted({r["frame_ms"] for r in frames}) == [0, 1000, 2000, 3000]


def test_extract_text_byte_identical(spark, docs):
    """BASELINE invariant: extracted text is a pure function of html —
    byte-identical per url regardless of parallelism, and recovers the
    original document text exactly (round-trip through make_html)."""
    src = docs.select(
        F.col("doc_id"), F.col("text").alias("orig"),
        make_html(F.col("text"), F.col("doc_id").cast("string")).alias("html"),
    )
    out1 = src.select("doc_id", extract_text(F.col("html")).alias("t")).collect()
    out32 = (
        src.repartition(32)
        .select("doc_id", extract_text(F.col("html")).alias("t"))
        .collect()
    )
    orig = {r["doc_id"]: r["orig"] for r in src.select("doc_id", "orig").collect()}
    m1 = {r["doc_id"]: r["t"] for r in out1}
    m2 = {r["doc_id"]: r["t"] for r in out32}
    assert m1 == m2 == orig


def test_extract_text_multiline(spark):
    """Regression: text containing newlines must survive extraction —
    Java regex '.' does not match \\n without (?s), which used to
    silently extract empty strings."""
    tricky = spark.createDataFrame(
        [(1, "line one\nline two\n\nline four"), (2, "a\r\nb"), (3, "trailing\n")],
        "doc_id: long, text: string",
    )
    src = tricky.select(
        "doc_id", "text", make_html(F.col("text"), F.lit("t")).alias("html")
    )
    got = src.select("doc_id", "text", extract_text(F.col("html")).alias("t"))
    assert got.filter((F.col("t") != F.col("text")) | F.col("t").isNull()).count() == 0


def test_extract_text_handles_angle_brackets(spark):
    tricky = spark.createDataFrame(
        [(1, "a < b & c <tag> d"), (2, "<html>nested & stuff</html>")],
        "doc_id: long, text: string",
    )
    src = tricky.select(
        "doc_id", "text",
        make_html(F.col("text"), F.lit("t")).alias("html"),
    )
    got = src.select("doc_id", "text", extract_text(F.col("html")).alias("t"))
    assert got.filter(F.col("t") != F.col("text")).count() == 0


def test_jaccard_pairs_max_df_cap(spark, docs):
    """Posting-list cap: a no-op cap is byte-identical to the exact
    path; a tight cap on boilerplate-heavy docs stays conservative (no
    spurious pairs) while keeping recall on planted near-dup pairs
    whose overlap rides on rare shingles."""
    base = sorted(
        tuple(r) for r in dd.jaccard_pairs(docs, threshold_pct=60, n=3).collect()
    )
    loose = sorted(
        tuple(r)
        for r in dd.jaccard_pairs(docs, threshold_pct=60, n=3, max_df=10**9).collect()
    )
    assert base == loose
    # planted dups sharing a ubiquitous boilerplate prefix
    boiler = "all pages carry this exact header line"  # df = all docs
    rows = []
    for i in range(40):
        body = (
            f"unique body number {i} alpha{i} beta{i} gamma{i} delta{i}"
            f" epsilon{i} zeta{i} eta{i} theta{i} iota{i} kappa{i}"
        )
        rows.append((2 * i, f"{boiler} {body}"))
        rows.append((2 * i + 1, f"{boiler} {body} tail"))
    d2 = spark.createDataFrame(rows, "doc_id: long, text: string")
    capped = dd.jaccard_pairs(d2, threshold_pct=35, n=3, max_df=5)
    got = {(r["ida"], r["idb"]) for r in capped.collect()}
    want = {(2 * i, 2 * i + 1) for i in range(40)}
    assert len(got & want) / len(want) >= 0.8
    exact = {
        (r["ida"], r["idb"])
        for r in dd.jaccard_pairs(d2, threshold_pct=35, n=3).collect()
    }
    assert got <= exact  # the cap never invents pairs


def test_simhash_pairs_complete_vs_bruteforce(spark, docs):
    """The block-bucket join must find EXACTLY the pairs within the
    Hamming budget (pigeonhole completeness + popcount re-check) — no
    recall loss, verified against the all-pairs brute force."""
    sub = docs.limit(150)
    sig = {r["id"]: r["simhash"] for r in dd.simhash(sub, bits=32).collect()}
    ids = sorted(sig)
    want = {
        (a, b, bin(sig[a] ^ sig[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sig[a] ^ sig[b]).count("1") <= 3
    }
    got = {tuple(r) for r in dd.simhash_pairs(sub, max_hamming=3, bits=32).collect()}
    assert got == want and len(want) > 0


def test_media_resize_plumbing(spark, docs):
    """Resize keeps the media schema, sets the new dims, emits exactly
    width*height payload bytes, and is partitioning-deterministic."""
    from hexspark.multimodal import resize_media, MEDIA_SCHEMA

    media = synth_media(docs.limit(40), kind="image")
    out = resize_media(media, 16, 8, codec=None)
    assert out.schema == MEDIA_SCHEMA
    rows = out.collect()
    assert len(rows) == 40
    assert all(r["width"] == 16 and r["height"] == 8 for r in rows)
    assert all(len(r["payload"]) == 16 * 8 for r in rows)
    again = {
        r["media_id"]: bytes(r["payload"])
        for r in resize_media(media.repartition(7), 16, 8, codec=None).collect()
    }
    assert {r["media_id"]: bytes(r["payload"]) for r in rows} == again


def test_seed_batch_composition_invariance():
    """A payload's seed must not depend on its neighbors in the Arrow
    batch — including batches with empty payloads in any position
    (regression: a trailing empty payload used to steal the preceding
    payload's final hash term)."""
    from hexspark.multimodal import _seed_batch

    solo = {p: _seed_batch([p])[0] for p in (b"ab", b"xy", b"", b"\x00" * 5)}
    mixed = _seed_batch([b"", b"ab", b"", b"\x00" * 5, b"xy", b""])
    assert mixed[1] == solo[b"ab"]
    assert mixed[3] == solo[b"\x00" * 5]
    assert mixed[4] == solo[b"xy"]
    assert mixed[0] == mixed[2] == mixed[5] == solo[b""]


def test_ivf_sampled_fit_exhaustive_equals_brute(spark, sf_dir):
    """Force the bounded-fit path (fit_sample_rows < corpus): centroids
    come from a seeded uniform sample, and with nprobe = all centroids
    the search must STILL equal brute force exactly — sampling affects
    list balance, never exhaustive-probe correctness."""
    from hexspark.embed import ann_topk_brute, ann_topk_ivf, ivf_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    assigned, centroids = ivf_index(emb, n_centroids=4, fit_sample_rows=100)
    assert centroids.shape[0] == 4
    # every corpus row got exactly one centroid id in [0, 4)
    ids = {r["centroid_id"] for r in assigned.select("centroid_id").distinct().collect()}
    assert ids <= set(range(4)) and assigned.count() == emb.count()
    brute = {
        (r["query_id"], r["rank"], r["vec_id"])
        for r in ann_topk_brute(emb, q, 5).collect()
    }
    # monkey-path-free: call the full pipeline with a small cap by
    # fitting above; ann_topk_ivf refits internally, so pass nprobe=all
    # through the kmeans quantizer (its ivf_index default cap is 10^6 —
    # no sampling at this size; the sampled-fit correctness is the
    # assigned/centroid checks above plus this exhaustive equality)
    ivf = {
        (r["query_id"], r["rank"], r["vec_id"])
        for r in ann_topk_ivf(emb, q, 5, n_centroids=4, nprobe=4).collect()
    }
    assert ivf == brute


def test_dup_clusters_chain_and_singletons(spark):
    """Path-halving label propagation must converge on a 200-node chain
    (O(log diameter) rounds, far under max_iter) and assign singletons
    to themselves."""
    from hexspark.dedup import dup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "ida: long, idb: long"
    )
    ids = spark.createDataFrame([(i,) for i in range(203)], "id: long")
    out = {r["id"]: r["cluster"] for r in dup_clusters(chain, all_ids=ids).collect()}
    assert all(out[i] == 0 for i in range(201))
    assert out[201] == 201 and out[202] == 202
    # empty pair set: everyone a singleton
    empty = spark.createDataFrame([], "ida: long, idb: long")
    out2 = {r["id"]: r["cluster"] for r in dup_clusters(empty, all_ids=ids).collect()}
    assert out2 == {i: i for i in range(203)}


def test_dup_clusters_reliable_checkpoint(spark, tmp_path):
    """checkpoint='reliable' (blocks on the shared FS, replayable after
    executor loss) must produce exactly the local-mode labels; 'auto'
    upgrades to reliable once a checkpoint dir is set; asking for
    reliable without a dir is an explicit error."""
    import os

    from hexspark.dedup import dup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "ida: long, idb: long"
    )
    want = {r["id"]: r["cluster"]
            for r in dup_clusters(chain, checkpoint="local").collect()}
    assert all(want[i] == 0 for i in range(61))

    sc = spark.sparkContext
    if not sc.getCheckpointDir():
        with pytest.raises(ValueError, match="setCheckpointDir"):
            dup_clusters(chain, checkpoint="reliable")
        sc.setCheckpointDir(str(tmp_path / "ck"))
    # driver_max_edges=0 pins the DISTRIBUTED rounds (this test is
    # about the reliable-checkpoint machinery; the driver-side
    # union-find fallback would otherwise absorb a 60-edge chain)
    got = {r["id"]: r["cluster"]
           for r in dup_clusters(chain, checkpoint="reliable",
                                 driver_max_edges=0).collect()}
    assert got == want
    # blocks actually landed in the reliable dir
    ckdir = sc.getCheckpointDir().replace("file:", "")
    assert any(files for _, _, files in os.walk(ckdir))
    # auto now resolves to reliable (dir is set) and agrees
    got_auto = {r["id"]: r["cluster"]
                for r in dup_clusters(chain, checkpoint="auto",
                                      driver_max_edges=0).collect()}
    assert got_auto == want


def test_dup_clusters_driver_path_matches_distributed(spark):
    """The driver-side union-find fallback (small edge relations) must
    label exactly like the distributed rounds — branch picked solely by
    driver_max_edges, so the same input runs both ways."""
    from hexspark.dedup import dup_clusters

    # two components + a lone pair, unsorted insert order
    pairs = spark.createDataFrame(
        [(5, 9), (9, 2), (17, 11), (30, 31), (2, 7)],
        "ida: long, idb: long",
    )
    ids = spark.createDataFrame([(i,) for i in range(33)], "id: long")
    via_driver = {
        (r["id"], r["cluster"])
        for r in dup_clusters(pairs, all_ids=ids).collect()
    }
    via_rounds = {
        (r["id"], r["cluster"])
        for r in dup_clusters(pairs, all_ids=ids, driver_max_edges=0).collect()
    }
    assert via_driver == via_rounds
    assert (5, 2) in via_driver and (11, 11) in via_driver
    with pytest.raises(ValueError, match="unknown checkpoint mode"):
        dup_clusters(pairs, checkpoint="bogus")


def test_footer_row_count(spark, sf_dir):
    """Sample-fraction sizing must not cost a corpus pass: Parquet
    footer counts equal the scan's rows, non-file plans fall back to
    None (→ count()), and a filtered scan yields the file total (an
    upper bound — fraction at most too small, never too large)."""
    from hexspark.embed import _footer_row_count

    # a cached identical read elsewhere in the session substitutes an
    # InMemoryRelation (inputFiles() empty -> None fallback); clear it
    # so this asserts the file-scan path
    spark.catalog.clearCache()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    assert _footer_row_count(emb) == n
    assert _footer_row_count(spark.createDataFrame([(1,)], "a: long")) is None
    assert _footer_row_count(emb.filter(F.col("vec_id") < 10)) == n
    # row-MULTIPLYING plans must refuse footer counts (they would
    # UNDER-estimate and the sized sample fraction would oversample)
    assert _footer_row_count(emb.join(emb.select("vec_id"), on="vec_id")) is None
    assert _footer_row_count(
        emb.select(F.explode(F.col("embedding")).alias("x"))
    ) is None
    # exact mode (tf-idf's N): a filtered scan's footer total is an
    # UPPER bound, not the count — must refuse and fall back to count()
    assert _footer_row_count(emb.filter(F.col("vec_id") < 10), exact=True) is None
    assert _footer_row_count(emb, exact=True) == n
    assert _footer_row_count(emb.select("vec_id"), exact=True) == n


def test_tfidf_footer_sizing_no_distinct_job(spark, sf_dir):
    """tfidf_top_terms' default n_docs sizing must come from Parquet
    footers on a plain file scan (zero sizing jobs — at 10^12 docs a
    distinct().count() is itself a corpus pass), and the result must
    match an explicitly passed exact n_docs."""
    from hexspark import text as tx
    from hexspark.embed import _footer_row_count

    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    assert _footer_row_count(docs, exact=True) == n
    got_default = sorted(
        tuple(r) for r in tx.tfidf_top_terms(docs, k=3).collect()
    )
    got_explicit = sorted(
        tuple(r) for r in tx.tfidf_top_terms(docs, k=3, n_docs=n).collect()
    )
    assert got_default == got_explicit and got_default


def test_restrict_to_ids_size_probe(spark, sf_dir):
    """The spatial×ANN composite's semi-join picks its strategy from
    the MEASURED id-set size: small sets broadcast (corpus never
    shuffles), sets past the threshold drop the hint and take the
    shuffled semi-join instead of force-broadcasting an unbounded
    relation.  Both branches must return identical rows."""
    from hexspark.embed import restrict_to_ids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ids = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    small = restrict_to_ids(emb, ids, broadcast_max_rows=1_000_000)
    big = restrict_to_ids(emb, ids, broadcast_max_rows=1)  # forced fallback
    a = sorted(r["vec_id"] for r in small.select("vec_id").collect())
    b = sorted(r["vec_id"] for r in big.select("vec_id").collect())
    assert a == b and a
    small_plan = small._jdf.queryExecution().analyzed().toString()
    big_plan = big._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in small_plan, small_plan[:1500]
    assert "ResolvedHint" not in big_plan, big_plan[:1500]


def test_codec_probe_and_real_kernels(monkeypatch):
    """The codec seam is an import probe: None in this sandbox (stub
    kernels), 'pil' when Pillow is importable — verified by injecting a
    fake PIL whose decode yields a known plane, driving the REAL kernel
    code path end-to-end driver-side."""
    import sys
    import types

    from hexspark import multimodal as mm

    # sandbox truth: no codec libs → stub dispatch
    assert mm._probe_codecs() is None
    assert mm.HAS_CODECS is False
    assert np.array_equal(
        mm._decode_batch([b"ab"], 8, None), mm._decode_stub_batch([b"ab"], 8)
    )

    class FakeImage:
        def __init__(self, arr):
            self.arr = arr

        def convert(self, mode):
            assert mode == "L"
            return self

        def resize(self, wh):
            w, h = wh
            return FakeImage(np.zeros((h, w), dtype=np.uint8))

        def __array__(self, dtype=None, copy=None):
            return self.arr if dtype is None else self.arr.astype(dtype)

    fake_image_mod = types.ModuleType("PIL.Image")
    fake_image_mod.open = lambda bio: FakeImage(
        np.arange(16, dtype=np.uint8).reshape(4, 4)
    )
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_image_mod
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image_mod)
    assert mm._probe_codecs() == "pil"

    feats = mm._decode_real_batch([b"x", b"y"], dim=8, codec="pil")
    assert feats.shape == (2, 8)
    # normalized histogram of a 16-px plane sums to 1
    assert abs(float(feats[0].sum()) - 1.0) < 1e-6
    planes = mm._resize_real_batch([b"x"], 6, 3, codec="pil")
    assert len(planes) == 1 and len(planes[0]) == 18
    # dispatch honors an explicit codec string over the stub
    assert np.array_equal(mm._decode_batch([b"x"], 8, "pil"), 
                          mm._decode_real_batch([b"x"], 8, "pil"))
    with pytest.raises(ValueError, match="unknown codec"):
        mm._decode_real_batch([b"x"], 8, codec="nope")


# ---------------------------------------------------------------------------
# decontamination / PII / repetition
# ---------------------------------------------------------------------------

def test_contaminated_docs_planted(spark):
    """A train doc embedding an exact eval sentence is flagged with the
    right distinct-gram count; disjoint-vocab docs are clean; the eval
    side of the executed plan is broadcast."""
    from hexspark.text import contaminated_docs

    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            # contains eval 4-grams: "quick brown fox jumps" and
            # "brown fox jumps over" — each repeated twice in-doc but
            # counted ONCE (distinct-gram semantics)
            (1, "intro quick brown fox jumps over outro "
                "quick brown fox jumps over end"),
            (2, "completely disjoint vocabulary nothing shared here"),
            (3, "quick brown fox ends"),  # only a 3-gram prefix — clean
        ],
        ["doc_id", "text"],
    )
    out = contaminated_docs(train, ev, n=4)
    rows = {r["doc_id"]: r["n_hits"] for r in out.collect()}
    assert rows == {1: 2}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_contaminated_docs_broadcast_off_equal(spark):
    from hexspark.text import contaminated_docs

    ev = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [(1, "x alpha beta gamma delta y"), (2, "no overlap at all here")],
        ["doc_id", "text"],
    )
    a = sorted(map(tuple, contaminated_docs(train, ev, n=4).collect()))
    b = sorted(map(tuple, contaminated_docs(
        train, ev, n=4, broadcast_eval=False).collect()))
    assert a == b == [(1, 1)]


def test_pii_counts_and_redact(spark):
    from hexspark.text import pii_counts, pii_redact

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@sub.example.co.uk and ip 192.168.1.5 ok"),
            (2, "call +44-555-0142 or +1-555-9999 today"),
            (3, "clean text with version 1.2 and price $3.50"),
        ],
        ["id", "text"],
    )
    ne, ni, nph = pii_counts(F.col("text"))
    out = {
        r["id"]: (r["e"], r["i"], r["p"], r["red"])
        for r in df.select(
            "id", ne.alias("e"), ni.alias("i"), nph.alias("p"),
            pii_redact(F.col("text")).alias("red"),
        ).collect()
    }
    assert out[1][:3] == (1, 1, 0)
    assert out[1][3] == "mail <EMAIL> and ip <IP> ok"
    assert out[2][:3] == (0, 0, 2)
    assert out[2][3] == "call <PHONE> or <PHONE> today"
    # version/price strings are NOT PII; text passes through unchanged
    assert out[3][:3] == (0, 0, 0)
    assert out[3][3] == "clean text with version 1.2 and price $3.50"


def test_repetition_stats_hand_computed(spark):
    from hexspark.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),   # bigrams: 'a b'×3, 'b a'×2
            (2, "one two three"),  # bigrams: 2 distinct, no dups
            (3, "single"),         # < 2 words → absent
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df, n=2).collect()}
    assert set(rows) == {1, 2}
    r1 = rows[1]
    assert (r1["n_grams"], r1["dup_gram_bps"], r1["top_gram_bps"]) == (
        5, (5 - 2) * 10000 // 5, 3 * 10000 // 5
    )
    r2 = rows[2]
    assert (r2["n_grams"], r2["dup_gram_bps"], r2["top_gram_bps"]) == (
        2, 0, 5000
    )


def test_pii_scrub_with_counts_matches_direct(spark):
    """The single-sweep derived counts must equal the direct regex
    counts on placeholder-free text (incl. multi-hit and zero rows)."""
    from hexspark.text import pii_counts, pii_scrub_with_counts

    df = spark.createDataFrame(
        [
            (1, "a@b.co and c.d@e.org plus 1.2.3.4 and +1-555-0000"),
            (2, "nothing here"),
            (3, "ips 10.0.0.1 10.0.0.2 10.0.0.3"),
        ],
        ["id", "text"],
    )
    ne, ni, nph = pii_counts(F.col("text"))
    red, dne, dni, dnph = pii_scrub_with_counts(F.col("text"))
    rows = df.select(
        "id", ne.alias("a"), dne.alias("da"), ni.alias("b"),
        dni.alias("db"), nph.alias("c"), dnph.alias("dc"),
    ).collect()
    for r in rows:
        assert (r["a"], r["b"], r["c"]) == (r["da"], r["db"], r["dc"]), r


def test_pii_counts_null_text_counts_zero(spark):
    """NULL text counts 0 per pattern, not NULL (pii_counts' contract)."""
    from hexspark.text import pii_counts

    df = spark.createDataFrame([(None,)], "text string")
    row = df.select(*pii_counts(F.col("text"))).first()
    assert tuple(row) == (0, 0, 0)


def test_remove_boilerplate_lines_hand_computed(spark):
    """Order preservation, intra-doc duplicate keeping, all-removed
    doc emitting '' (collect_list-skips-NULL path), and frequent
    EMPTY line removal."""
    from hexspark.text import remove_boilerplate_lines

    df = spark.createDataFrame(
        [
            (1, "keep a\nBOIL\nkeep a\nzz"),   # dup kept line survives twice
            (2, "BOIL\n\nmid"),
            (3, "BOIL\n\nonly-unique"),
            (4, "BOIL\n"),                      # trailing '' + BOIL → all removed
        ],
        ["doc_id", "text"],
    )
    # doc freq: BOIL=4, ''=3 (docs 2,3,4) → both boilerplate at max_doc_freq=2
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate_lines(df, max_doc_freq=2).collect()
    }
    assert len(out) == 4
    assert out[1]["clean_text"] == "keep a\nkeep a\nzz"
    assert (out[1]["n_lines_kept"], out[1]["n_lines_removed"]) == (3, 1)
    assert out[2]["clean_text"] == "mid"
    assert out[3]["clean_text"] == "only-unique"
    assert out[4]["clean_text"] == ""
    assert (out[4]["n_lines_kept"], out[4]["n_lines_removed"]) == (0, 2)


def test_remove_boilerplate_lines_join_branches_agree(spark):
    """The size-probed broadcast branch and the forced shuffle branch
    must return identical rows."""
    from hexspark.text import remove_boilerplate_lines

    rows = [
        (i, f"unique head {i}\nSHARED FOOTER\nbody {i % 3}") for i in range(30)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = sorted(
        remove_boilerplate_lines(df, max_doc_freq=5).collect(),
        key=lambda r: r["doc_id"],
    )
    b = sorted(
        remove_boilerplate_lines(
            df, max_doc_freq=5, broadcast_max_rows=0
        ).collect(),
        key=lambda r: r["doc_id"],
    )
    assert a == b
    # 'body k' lines sit in 10 docs each (>5) → removed; heads kept
    assert all(r["clean_text"] == f"unique head {r['doc_id']}" for r in a)


def test_unigram_surprisal_hand_computed(spark):
    """Self-LM: 'the'x4, cat/zzz/qqq x1, T=7 → ilog2(T)=2, s(the)=0,
    s(rare)=2; doc scores 5000 / 0 / 20000 bp."""
    from hexspark.text import unigram_surprisal

    df = spark.createDataFrame(
        [(1, "the the the cat"), (2, "the"), (3, "zzz qqq"), (4, "")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: (r["n_tokens"], r["surprisal_bp"])
           for r in unigram_surprisal(df).collect()}
    assert got == {1: (4, 5000), 2: (1, 0), 3: (2, 20000)}  # doc 4 dropped


def test_unigram_surprisal_external_lm_oov(spark):
    """External LM: OOV tokens score as count 1 (max surprisal), and the
    total comes from the LM, not the scored docs."""
    from hexspark.text import unigram_surprisal

    docs = spark.createDataFrame([(1, "the xyzzy")], ["doc_id", "text"])
    lm = spark.createDataFrame([("the", 12), ("cat", 4)], ["term", "c"])
    # T=16, ilog2=4; s(the)=4-3=1, s(xyzzy OOV)=4-0=4 → (1+4)*10^4 DIV 2
    got = unigram_surprisal(docs, lm=lm).collect()
    assert [(r["doc_id"], r["n_tokens"], r["surprisal_bp"]) for r in got] == [
        (1, 2, 25000)
    ]


def test_hashed_features_counts(spark):
    """'a b a' → unigrams a,b,a + bigrams 'a b','b a' = 5 instances;
    hashing is deterministic and bucketed."""
    from hexspark.text import CLF_BUCKETS, hashed_features

    df = spark.createDataFrame([(1, "a b a")], ["doc_id", "text"])
    rows = hashed_features(df).collect()
    assert sum(r["tf"] for r in rows) == 5
    assert all(0 <= r["fid"] < CLF_BUCKETS for r in rows)
    # 'a' appears twice → one fid carries tf>=2
    assert max(r["tf"] for r in rows) >= 2
    again = hashed_features(df).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_linear_classifier_score_semantics(spark):
    """All-ones weights → margin == n_feats; empty model → margin ==
    bias * n_feats (OOV coalesce); labels follow the margin sign."""
    from hexspark.text import linear_classifier_score

    docs = spark.createDataFrame(
        [(1, "good words here"), (2, "x")], ["doc_id", "text"]
    )
    ones = spark.range(1 << 16).selectExpr("id AS fid", "CAST(1 AS LONG) AS w")
    got = {r["doc_id"]: r for r in
           linear_classifier_score(docs, ones).collect()}
    assert got[1]["margin"] == got[1]["n_feats"] == 5  # 3 uni + 2 bi
    assert got[2]["margin"] == got[2]["n_feats"] == 1 and got[2]["label"]
    empty = ones.filter("fid < 0")
    got = {r["doc_id"]: r for r in
           linear_classifier_score(docs, empty, bias=-3).collect()}
    assert got[1]["margin"] == -15 and not got[1]["label"]
    assert got[2]["margin"] == -3 and not got[2]["label"]


def test_shared_passages_planted(spark):
    """Two docs share one 20-word passage; a third shares nothing; a
    fourth shares TWO disjoint passages with doc 1."""
    from hexspark.text import shared_passages

    common = " ".join(f"w{i}" for i in range(20))       # 20 shared words
    second = " ".join(f"q{i}" for i in range(18))       # 18 shared words
    d1 = f"alpha beta {common} gamma delta {second} end1"
    d2 = f"x1 x2 x3 {common} y1 y2"
    d3 = "totally different words " + " ".join(f"z{i}" for i in range(30))
    d4 = f"{second} tail tail2"
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, d4)], ["doc_id", "text"]
    )
    got = sorted(
        map(tuple, shared_passages(df, n=8, min_len=16).collect())
    )
    # d1: 'alpha beta' + 20 common -> passage at pos 3; d2 at pos 4
    # d1/d4: second passage (18 words) at d1 pos 25 (2+20+2+1), d4 pos 1
    assert got == [
        (1, 2, 3, 4, 20),
        (1, 4, 25, 1, 18),
    ]
    # min_len above the longest span -> nothing
    assert shared_passages(df, n=8, min_len=21).count() == 0
    # max_df cap: the 20-word passage is in 2 docs; cap at 1 removes it
    capped = shared_passages(df, n=8, min_len=16, max_df=1).count()
    assert capped == 0
    # min_len < n can't honor the exactness contract (sub-n passages
    # produce no gram match) — must raise, not silently under-report
    from hexspark.text import dd_shared_passages

    with pytest.raises(ValueError, match="min_len"):
        shared_passages(df, n=8, min_len=7)
    with pytest.raises(ValueError, match="min_len"):
        dd_shared_passages(n=8, min_len=7)


def test_remove_passages_planted(spark):
    """The doc-2 copy of the 20-word passage and the doc-4 copy of the
    18-word passage are cut; the doc-1 originals survive; untouched
    docs pass through verbatim (in normalized-token form)."""
    from hexspark.text import remove_passages, shared_passages

    common = " ".join(f"w{i}" for i in range(20))
    second = " ".join(f"q{i}" for i in range(18))
    d1 = f"alpha beta {common} gamma delta {second} end1"
    d2 = f"x1 x2 x3 {common} y1 y2"
    d3 = "only unique words here"
    d4 = f"{second} tail tail2"
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, d4)], ["doc_id", "text"]
    )
    spans = shared_passages(df, n=8, min_len=16)
    got = {r["doc_id"]: r for r in remove_passages(df, spans).collect()}
    assert got[1]["clean_text"] == d1 and got[1]["removed_tokens"] == 0
    assert got[2]["clean_text"] == "x1 x2 x3 y1 y2"
    assert got[2]["removed_tokens"] == 20
    assert got[3]["clean_text"] == d3 and got[3]["removed_tokens"] == 0
    assert got[4]["clean_text"] == "tail tail2"
    assert got[4]["removed_tokens"] == 18


def test_semantic_dedup_planted(spark):
    """first_k quantizer with 2 centroids: near-identical vectors in
    the same cluster collapse to the lowest key; cross-cluster or
    below-threshold neighbors survive."""
    from hexspark.embed import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),     # centroid 0
        (1, [0.0, 1.0, 0.0, 0.0]),     # centroid 1
        (2, [1.0, 0.01, 0.0, 0.0]),    # ~= id 0 -> dropped, witness 0
        (3, [0.9, 0.44, 0.0, 0.0]),    # cluster 0 but cos(0,3)~0.898 -> kept
        (4, [0.0, 1.0, 0.001, 0.0]),   # ~= id 1 -> dropped, witness 1
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        r["vec_id"]: r
        for r in semantic_dedup(
            emb, 0.95, n_centroids=2, quantizer="first_k"
        ).collect()
    }
    assert len(got) == 5
    assert got[0]["kept"] and got[0]["witness"] is None
    assert got[1]["kept"] and got[3]["kept"]
    assert not got[2]["kept"] and got[2]["witness"] == 0
    assert not got[4]["kept"] and got[4]["witness"] == 1
    assert got[2]["centroid_id"] == 0 and got[4]["centroid_id"] == 1
    # kmeans quantizer: same planted dups still collapse (coarse
    # clusters put near-identical vectors together regardless of fit)
    km = {
        r["vec_id"]: r
        for r in semantic_dedup(
            emb, 0.95, n_centroids=2, quantizer="kmeans"
        ).collect()
    }
    assert not km[2]["kept"] and not km[4]["kept"]
    assert km[0]["kept"] and km[1]["kept"] and km[3]["kept"]


def test_importance_weights_planted(spark):
    """Docs whose tokens match the target subset's vocabulary score
    strictly higher than docs made of target-absent tokens."""
    from hexspark.text import importance_weights

    tgt_text = "physics theorem lemma proof integral manifold"
    web_text = "click here buy now free offer deal sale"
    rows = [
        (0, tgt_text),                       # target member
        (10, tgt_text + " tensor algebra"),  # target member
        (1, "theorem proof manifold integral lemma"),   # target-like raw
        (2, "buy now click here free deal"),            # web-like raw
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    target = docs.filter(F.col("doc_id") % 10 == 0)
    got = {
        r["doc_id"]: r for r in importance_weights(docs, target).collect()
    }
    assert set(got) == {0, 10, 1, 2}
    # per-feature LLR bits: target-like docs must outscore web-like
    per_feat = {
        k: got[k]["logweight_fp16"] / got[k]["n_feats"] for k in got
    }
    assert per_feat[1] > per_feat[2]
    assert per_feat[0] > per_feat[2]


def test_fp16_log2_property():
    """floor(16*log2(x)) via the threshold form tracks true log2 within
    1/16 bit across magnitudes, and Spark/DuckDB dialects agree."""
    import math

    import duckdb

    from hexspark.text import _dd_shl, _dd_shr, _fp16_log2_sql

    xs = [1, 2, 3, 7, 10, 100, 12345, 2**20 + 17, 2**45 + 999, 2**62]
    vals = ", ".join(f"({x})" for x in xs)
    expr = _fp16_log2_sql("x", _dd_shl, _dd_shr)
    got = duckdb.sql(
        f"SELECT x, {expr} AS fp FROM (VALUES {vals}) t(x) ORDER BY x"
    ).fetchall()
    for x, fp in got:
        true = math.log2(x)
        assert fp / 16 <= true + 1e-9, (x, fp, true)
        assert fp / 16 > true - 1 / 16 - 1e-9, (x, fp, true)


def test_char_entropy_planted(spark):
    """Single-symbol docs score 0; a uniform 2-symbol doc scores
    exactly 16 (1.0 bit in fp16); no-alnum docs are dropped; the mean
    tracks log2 of the support size."""
    from hexspark.text import char_entropy

    rows = [
        (1, "aaaa aaaa"),          # one symbol -> H = 0
        (2, "abab abab"),          # uniform over 2 -> H = 1 bit = 16
        (3, "!!! ???"),            # no alnum -> dropped
        (4, "abcdefgh"),           # uniform over 8 -> 3 bits = 48
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in char_entropy(docs).collect()}
    assert set(got) == {1, 2, 4}
    assert got[1]["entropy_fp16"] == 0 and got[1]["n_alnum"] == 8
    assert got[2]["entropy_fp16"] == 16
    assert got[4]["entropy_fp16"] == 48


def test_contaminated_docs_fuzzy_planted(spark):
    """A paraphrased copy of an eval doc crosses the threshold; an
    unrelated doc doesn't; the eval doc itself matches at 100."""
    from hexspark.text import contaminated_docs_fuzzy

    ev_text = "the quick brown fox jumps over the lazy dog tonight"
    para = "a quick brown fox jumps over the lazy dog today"
    other = "completely unrelated content about spark aggregation plans"
    docs = spark.createDataFrame(
        [(0, ev_text), (1, para), (2, other)], ["doc_id", "text"]
    )
    ev = docs.filter(F.col("doc_id") == 0)
    got = {
        (r["doc_id"], r["eval_id"]): r
        for r in contaminated_docs_fuzzy(docs, ev, 40, n=3).collect()
    }
    assert (0, 0) in got  # self-match, jaccard 100
    self_r = got[(0, 0)]
    assert self_r["inter"] == self_r["sz_train"] == self_r["sz_eval"]
    assert (1, 0) in got  # paraphrase above 40%
    assert (2, 0) not in got
    # threshold 100 keeps only the exact self-match
    strict = contaminated_docs_fuzzy(docs, ev, 100, n=3).collect()
    assert [(r["doc_id"], r["eval_id"]) for r in strict] == [(0, 0)]


def test_fp16_log2_hypothesis():
    """Property: the fixed-point form is within (true-1/16, true] of
    16*log2(x) for arbitrary BIGINT-range inputs, in both dialects."""
    import math

    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from hexspark.text import _dd_shl, _dd_shr, _fp16_log2_sql

    expr = _fp16_log2_sql("x", _dd_shl, _dd_shr)
    con = duckdb.connect()

    @settings(max_examples=200, deadline=None)
    @given(st.integers(min_value=1, max_value=2**62))
    def check(x):
        fp = con.execute(
            f"SELECT {expr} FROM (VALUES (CAST({x} AS BIGINT))) t(x)"
        ).fetchone()[0]
        true = math.log2(x)
        assert true - 1 / 16 - 1e-9 < fp / 16 <= true + 1e-9, (x, fp)

    check()


def test_project_embeddings_jl(spark):
    """Projection preserves pairwise cosine structure (JL property) on
    planted near/far pairs, output width is out_dim, and identical
    seeds give identical outputs while different seeds differ."""
    import numpy as np

    from hexspark.embed import project_embeddings

    rng = np.random.default_rng(7)
    base = rng.standard_normal(64)
    near = base + rng.standard_normal(64) * 0.01
    far = rng.standard_normal(64)
    emb = spark.createDataFrame(
        [(0, base.tolist()), (1, near.tolist()), (2, far.tolist())],
        ["vec_id", "embedding"],
    )
    out = {
        r["vec_id"]: np.array(r["embedding"])
        for r in project_embeddings(emb, 64, 16).collect()
    }
    assert all(len(v) == 16 for v in out.values())

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    assert cos(out[0], out[1]) > 0.95
    assert abs(cos(out[0], out[2])) < 0.7
    again = {
        r["vec_id"]: np.array(r["embedding"])
        for r in project_embeddings(emb, 64, 16).collect()
    }
    assert all(np.array_equal(out[k], again[k]) for k in out)
    other = {
        r["vec_id"]: np.array(r["embedding"])
        for r in project_embeddings(emb, 64, 16, seed=99).collect()
    }
    assert not np.array_equal(out[0], other[0])


def test_novelty_scores_planted(spark):
    """The first doc is fully novel; an exact later copy scores 0; a
    half-overlapping doc scores its fresh fraction exactly."""
    from hexspark.text import novelty_scores

    a = "w1 w2 w3 w4 w5 w6"            # 4 distinct 3-grams
    b = a                              # copy of a -> novelty 0
    c = "w4 w5 w6 x1 x2 x3"            # shares gram 'w4 w5 w6' with a
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in novelty_scores(docs, n=3).collect()}
    assert got[1]["n_grams"] == 4 and got[1]["novelty_bp"] == 10000
    assert got[2]["n_novel"] == 0 and got[2]["novelty_bp"] == 0
    # c: grams {w4w5w6(owned by 1), w5w6x1, w6x1x2, x1x2x3} -> 3/4
    assert got[3]["n_grams"] == 4 and got[3]["n_novel"] == 3
    assert got[3]["novelty_bp"] == 7500
