"""Deduplication operators for the training-data pipeline.

* exact          — fingerprint groupBy (keep min doc_id)
* ngram-jaccard  — shingle explode + self-join similarity (exact)
* minhash + LSH  — shingle → K hash fns → per-band bucket join (scale path)
* simhash        — 64-bit token-hash majority signature, hamming buckets

Hash functions are deterministic integer arithmetic over md5 prefixes
so the exact/jaccard/minhash/simhash paths all have DuckDB oracle
twins; the hot paths are built-in Column ops (explode/groupBy/join)
that Catalyst plans with map-side partial aggregation and AQE skew
handling, except the simhash signature, a row-local Arrow kernel.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cachepool import CachePool
from .text import fingerprint, dd_fingerprint

_LSH_POOL = CachePool()
_CLUSTER_POOL = CachePool()

# md5-prefix → int64: both engines can take the first 15 hex chars
# (60 bits, fits BIGINT exactly).
def _h64(s: Column) -> Column:
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def dd_h64(s: str) -> str:
    """DuckDB twin of :func:`_h64`: parse the 15-hex-char md5 prefix to
    BIGINT with unrolled strpos arithmetic (all 16^k multipliers are
    powers of two, so the math is exact)."""
    terms = [
        f"((strpos('0123456789abcdef', substr(md5({s}), {i}, 1)) - 1) * {16 ** (15 - i)})"
        for i in range(1, 16)
    ]
    return "(" + " + ".join(terms) + ")"


# second independent 60-bit draw for signature bits past _h64's width:
# md5 over a domain-separated ("b:"-prefixed) input.  A 64-bit simhash
# needs 64 independent token-hash bits, and one parse of 16 hex chars
# would overflow signed BIGINT (the cross-engine-exact type), so bits
# 60..63 come from this second hash instead.
def _h64b(s: Column) -> Column:
    return _h64(F.concat(F.lit("b:"), s))


def dd_h64b(s: str) -> str:
    """DuckDB twin of :func:`_h64b`."""
    return dd_h64(f"('b:' || {s})")


def shingles(text: Column, n: int = 3) -> Column:
    """Array of word n-gram shingles from normalized text."""
    words = F.split(F.regexp_replace(F.lower(F.trim(text)), r"[ \t\n\x0B\f\r]+", " "), " ")
    k = F.size(words) - (n - 1)
    idx = F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0)))
    return F.when(
        F.size(words) >= n,
        F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n))
        ),
    ).otherwise(F.array(F.concat_ws(" ", words)))


def dd_shingles(text: str, n: int = 3) -> str:
    """DuckDB twin of :func:`shingles` (list comprehension over splits)."""
    words = f"string_split(regexp_replace(lower(trim({text})), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'), ' ')"
    join = " || ' ' || ".join(f"w[i+{j}]" for j in range(n))
    return (
        f"(CASE WHEN len({words}) >= {n} THEN "
        f"[ {join} FOR i IN RANGE(1, len({words}) - {n - 2}) ] "
        f"ELSE [array_to_string({words}, ' ')] END)"
        .replace("w[", f"({words})[")
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(docs: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """One row per distinct fingerprint: the keeper (min key) + group size.

    Pure groupBy — map-side combine makes this a single shuffle of one
    128-bit key per row at any scale."""
    return (
        docs.withColumn("fp", fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(
            F.min(key_col).alias("keeper"),
            F.count("*").alias("n_dups"),
        )
    )


def dd_dedup_exact(text: str = "text", key: str = "doc_id") -> str:
    return f"""
        SELECT {dd_fingerprint(text)} AS fp,
               MIN({key}) AS keeper,
               COUNT(*) AS n_dups
        FROM documents
        GROUP BY 1
    """


# ---------------------------------------------------------------------------
# exact n-gram jaccard pairs
# ---------------------------------------------------------------------------

def jaccard_pairs(
    docs: DataFrame,
    threshold_pct: int = 50,
    n: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
    max_df: Optional[int] = None,
) -> DataFrame:
    """All doc pairs (a < b) with n-gram Jaccard >= threshold_pct/100.

    Exact formulation: explode distinct shingles, self-join on shingle
    (inverted index — the shuffle key is the shingle, so common-shingle
    skew is handled by AQE skew-join), count intersections, compute
    |A∩B| / (|A|+|B|-|A∩B|) with integer cross-multiplication (no
    floats → exact oracle parity).

    ``max_df``: optional document-frequency cutoff — shingles appearing
    in more than ``max_df`` docs are dropped from the *intersection*
    join (the standard exact-join guard: one ubiquitous shingle's
    posting list is quadratic in its df; a df-10^6 shingle alone would
    emit ~5·10^11 pairs).  Denominator sizes still count every shingle,
    so the capped intersection only *under*-counts Jaccard: the cut is
    strictly conservative — no spurious pairs, but pairs whose overlap
    rides mostly on ultra-common shingles can be missed (recall on
    planted near-dups is measured by tests).  ``None`` (default) =
    byte-identical exact output."""
    from .skew import widen_input

    ex = (
        widen_input(docs.select(F.col(key_col), F.col(text_col)))
        .select(F.col(key_col).alias("id"), F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("sh"))
        .distinct()
    )
    sizes = ex.groupBy("id").agg(F.count("*").alias("sz"))
    if max_df is not None:
        rare = (
            ex.groupBy("sh")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("sh")
        )
        ex = ex.join(rare, on="sh", how="leftsemi")
    a = ex.alias("a")
    b = ex.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("ida"), F.col("b.id").alias("idb"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("ida"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("id").alias("idb"), F.col("sz").alias("szb"))
    return (
        inter.join(sa, "ida").join(sb, "idb")
        .filter(
            F.col("inter") * 100
            >= F.lit(threshold_pct) * (F.col("sza") + F.col("szb") - F.col("inter"))
        )
        .select("ida", "idb", "inter", "sza", "szb")
    )


def dd_jaccard_pairs(
    threshold_pct: int = 50, n: int = 3, max_df: Optional[int] = None
) -> str:
    """DuckDB twin of :func:`jaccard_pairs`, including the optional
    ``max_df`` posting-list cap (same semantics: the intersection join
    sees only shingles with document frequency ≤ cap, sizes see all)."""
    sh = dd_shingles("text", n)
    if max_df is None:
        joinsrc = "ex"
        cap_cte = ""
    else:
        joinsrc = "exr"
        cap_cte = f"""
        rare AS (SELECT sh FROM ex GROUP BY sh HAVING COUNT(*) <= {max_df}),
        exr AS (SELECT ex.* FROM ex JOIN rare USING (sh)),"""
    return f"""
        WITH ex AS (
            SELECT DISTINCT doc_id AS id, UNNEST(list_distinct({sh})) AS sh
            FROM documents
        ),{cap_cte}
        sizes AS (SELECT id, COUNT(*) AS sz FROM ex GROUP BY 1),
        inter AS (
            SELECT a.id AS ida, b.id AS idb, COUNT(*) AS inter
            FROM {joinsrc} a JOIN {joinsrc} b ON a.sh = b.sh AND a.id < b.id
            GROUP BY 1, 2
        )
        SELECT i.ida, i.idb, i.inter, sa.sz AS sza, sb.sz AS szb
        FROM inter i
        JOIN sizes sa ON sa.id = i.ida
        JOIN sizes sb ON sb.id = i.idb
        WHERE i.inter * 100 >= {threshold_pct} * (sa.sz + sb.sz - i.inter)
    """


# ---------------------------------------------------------------------------
# minhash + LSH (scale path; oracle-checked via md5-derived hashes)
# ---------------------------------------------------------------------------

def minhash_signature(
    docs: DataFrame,
    num_hashes: int = 16,
    n: int = 3,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature: for hash fn i, min over shingles of
    md5(i || shingle)'s 60-bit prefix.  One explode + one groupBy;
    signatures come back as ``num_hashes`` columns ``h0..h{K-1}``."""
    from .skew import widen_input

    ex = widen_input(docs.select(F.col(key_col), F.col(text_col))).select(
        F.col(key_col).alias("id"),
        F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("sh"),
    )
    aggs = [
        F.min(_h64(F.concat(F.lit(f"{i}|"), F.col("sh")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return ex.groupBy("id").agg(*aggs)


def lsh_candidates(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    cache: bool = True,
) -> DataFrame:
    """Band the signature columns and bucket-join: pairs sharing any
    band are candidates.  The classic MinHash-LSH join — band hash is
    the shuffle key; at scale each band join is an equi-join Catalyst
    broadcasts or shuffles with AQE skew splitting.

    The banded relation feeds *both* sides of the self-join, and its
    lineage includes the whole minhash pipeline (shingle explode +
    groupBy) — ``cache=True`` persists it so that pipeline runs once,
    not twice (MEMORY_AND_DISK; Spark evicts under pressure).  The
    persist is pooled (hexspark.cachepool): each call retires the
    blocks of two calls ago instead of leaking them for the session."""
    pieces = []
    for b in range(bands):
        cols = [f"h{b * rows_per_band + r}" for r in range(rows_per_band)]
        pieces.append(
            signatures.select(
                F.col("id"),
                F.lit(b).alias("band"),
                F.concat_ws("_", *[F.col(c) for c in cols]).alias("bucket"),
            )
        )
    banded = pieces[0]
    for p in pieces[1:]:
        banded = banded.unionByName(p)
    if cache:
        from pyspark import StorageLevel

        _LSH_POOL.new_generation()
        banded = _LSH_POOL.add(banded.persist(StorageLevel.MEMORY_AND_DISK))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("ida"), F.col("b.id").alias("idb"))
        .distinct()
    )


def dd_minhash_signature(num_hashes: int = 16, n: int = 3) -> str:
    """DuckDB twin of :func:`minhash_signature`."""
    sh = dd_shingles("text", n)
    mins = ", ".join(
        f"MIN({dd_h64(repr(str(i)) + ' || ' + repr('|') + ' || sh')}) AS h{i}"
        for i in range(num_hashes)
    )
    return f"""
        SELECT id, {mins}
        FROM (
            SELECT doc_id AS id, UNNEST(list_distinct({sh})) AS sh
            FROM documents
        )
        GROUP BY id
    """


def dd_lsh_candidates(bands: int = 4, rows_per_band: int = 4, n: int = 3) -> str:
    """DuckDB twin of minhash signatures → banded candidate pairs."""
    sig = dd_minhash_signature(bands * rows_per_band, n)
    pieces = []
    for b in range(bands):
        cols = " || '_' || ".join(
            f"CAST(h{b * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
        )
        pieces.append(f"SELECT id, {b} AS band, {cols} AS bucket FROM sigs")
    banded = " UNION ALL ".join(pieces)
    return f"""
        WITH sigs AS ({sig}), banded AS ({banded})
        SELECT DISTINCT a.id AS ida, b.id AS idb
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    """


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

def dd_simhash(bits: int = 32) -> str:
    """DuckDB twin of :func:`simhash` (same two-hash bit sourcing and
    sign-bit packing for ``bits > 60`` — see the engine docstring)."""
    h = dd_h64("tok")
    h2 = dd_h64b("tok")
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (({'h' if j < 60 else 'h2'} >> {j if j < 60 else j - 60}) & 1) = 1"
        f" THEN 1 ELSE -1 END) AS b{j}"
        for j in range(bits)
    )
    pack = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j if j < 63 else -(1 << 63)} ELSE 0 END)"
        for j in range(bits)
    )
    hcols = f"{h} AS h" if bits <= 60 else f"{h} AS h, {h2} AS h2"
    return f"""
        WITH toks AS (
            SELECT doc_id AS id,
                   UNNEST(string_split(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'), ' ')) AS tok
            FROM documents
        ),
        hashed AS (SELECT id, {hcols} FROM toks),
        bitsums AS (SELECT id, {bit_sums} FROM hashed GROUP BY id)
        SELECT id, CAST({pack} AS BIGINT) AS simhash FROM bitsums
    """


# docs per unpack/reduceat slice in the simhash kernel: its 0/1 bit
# matrix holds 64 bytes per token of _SIMHASH_SLICE docs
_SIMHASH_SLICE = 512
# distinct tokens the kernel's per-task md5 cache holds before it starts
# over (~100 B each), so a Python worker's memory stays bounded
_SIMHASH_CACHE = 1 << 20


def _simhash_kernel(bits: int):
    """``mapInArrow`` body for :func:`simhash`: batches of (id, normalized
    text as UTF-8 bytes) → batches of (id, simhash).

    Per batch: split every text on ``b" "``, dictionary-encode the
    flattened tokens, give each distinct token its bit word (md5 once
    per token per task — the cache lives as long as the partition
    iterator, up to ``_SIMHASH_CACHE`` tokens), gather one word per
    token, unpack to a (tokens x 64) 0/1 matrix and ``np.add.reduceat``
    it per doc.  Bit j is set when more
    than half of the doc's tokens carry it (the sign of the ±1 sum);
    bits at or past ``bits`` are masked off every word, so they never
    win.  NULL text emits no row."""
    mask = (1 << bits) - 1

    def run(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        words: dict = {}

        def word(tok: bytes) -> int:
            # _h64: the first 15 hex digits of md5 = its top 60 bits
            w = int.from_bytes(hashlib.md5(tok).digest()[:8], "big") >> 4
            if bits > 60:  # bits 60..63 from _h64b's low 4 bits
                h2 = int.from_bytes(hashlib.md5(b"b:" + tok).digest()[:8], "big") >> 4
                w |= (h2 & 0xF) << 60
            return w & mask

        for batch in batches:
            batch = batch.filter(pc.is_valid(batch.column(1)))
            if batch.num_rows == 0:
                continue
            toks = pc.split_pattern(batch.column(1), " ")
            lens = pc.list_value_length(toks).to_numpy().astype(np.int64)
            enc = pc.list_flatten(toks).dictionary_encode()
            vocab = enc.dictionary.to_pylist()
            if len(words) + len(vocab) > _SIMHASH_CACHE:
                words.clear()
            for t in vocab:
                if t not in words:
                    words[t] = word(t)
            tok_words = np.fromiter(
                (words[t] for t in vocab), dtype="<u8", count=len(vocab)
            )[enc.indices.to_numpy()]
            offs = np.concatenate(([0], np.cumsum(lens)))
            sigs = []
            for lo in range(0, batch.num_rows, _SIMHASH_SLICE):
                hi = min(lo + _SIMHASH_SLICE, batch.num_rows)
                m = np.unpackbits(
                    tok_words[offs[lo]:offs[hi]].view(np.uint8).reshape(-1, 8),
                    axis=1, bitorder="little",
                )
                ones = np.add.reduceat(m, offs[lo:hi] - offs[lo], axis=0, dtype=np.int64)
                won = 2 * ones > lens[lo:hi, None]
                # bit j of the packed little-endian word is bit j of the
                # signature, so bit 63 lands on the int64 sign bit
                sigs.append(
                    np.packbits(won, axis=1, bitorder="little")
                    .view("<u8").ravel().view(np.int64)
                )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(np.concatenate(sigs), pa.int64())],
                names=["id", "simhash"],
            )

    return run


def simhash(docs: DataFrame, text_col: str = "text", key_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """SimHash: per-token md5-derived hash; signature bit j is the sign
    of the majority over tokens of bit j.  One row per input row with
    non-NULL text (``key_col`` is the document key, one row per doc).

    A row-local kernel, no shuffle: the JVM normalizes each text with
    the exact tokenizer expression :func:`dd_simhash` mirrors (trim
    spaces, lower, collapse ``[ \\t\\n\\x0B\\f\\r]+`` runs to one space)
    and hands UTF-8 bytes to a ``mapInArrow`` kernel
    (:func:`_simhash_kernel`) that splits on ``" "``, hashes and sums
    bit votes in numpy.  Lower-casing stays in the JVM because Java's
    and Python's Unicode case tables are not the same version.

    ``bits`` up to 64 — the production width (32 bits saturates with
    birthday collisions around 10^5 docs; 64 is the Manku et al.
    crawl-scale width).  The per-token hash :func:`_h64` carries 60
    independent bits (15 md5 hex chars — the widest BIGINT-exact
    parse), so bits 60..63 are sourced from a second domain-separated
    md5 draw (:func:`_h64b`); bit 63 packs as the BIGINT sign bit
    (adding ``-2^63`` — the two's-complement encoding both engines
    share, so the signature stays cross-engine hash-exact)."""
    if not 1 <= bits <= 64:
        raise ValueError(f"simhash bits must be in 1..64, got {bits}")
    from pyspark.sql.types import LongType, StructField, StructType

    from .skew import widen_input

    src = docs.select(F.col(key_col), F.col(text_col))
    schema = StructType([
        StructField("id", src.schema[key_col].dataType, True),
        StructField("simhash", LongType(), False),
    ])
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"[ \t\n\x0B\f\r]+", " ")
    return (
        widen_input(src)
        .select(F.col(key_col).alias("id"), norm.cast("binary").alias("t"))
        .mapInArrow(_simhash_kernel(bits), schema)
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """ALL doc pairs (a < b) whose simhash signatures differ in at most
    ``max_hamming`` bits — the classic near-dup detector (Manku/Jain/
    Das Sarma block-permutation scheme, SIGIR'07, public method).

    Exact by pigeonhole: the signature splits into ``max_hamming + 1``
    contiguous blocks; any pair within the Hamming budget must agree on
    at least one whole block, so a bucket equi-join on (block index,
    block value) loses no qualifying pair.  Candidates re-check the
    exact ``bit_count(xor)`` distance.  The shuffle key is the block
    value — no all-pairs scan anywhere; a degenerate block (e.g. all
    zeros across the corpus) is an AQE-skew-split equi-join, the same
    guard class as the LSH band join."""
    sig = simhash(docs, text_col=text_col, key_col=key_col, bits=bits)
    return simhash_pairs_from_sigs(sig, max_hamming=max_hamming, bits=bits)


def _simhash_blocks(sigs: DataFrame, max_hamming: int, bits: int) -> DataFrame:
    """(id, simhash, b, v): one row per Manku block of each signature —
    the bucket-join key relation."""
    n_blocks = max_hamming + 1
    width = bits // n_blocks
    block_vals = F.array(*[
        F.shiftrightunsigned(F.col("simhash"), b * width)
        .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
        for b in range(n_blocks)
    ])
    return sigs.select(
        "id", "simhash", F.posexplode(block_vals).alias("b", "v")
    )


def simhash_pairs_from_sigs(
    sigs: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    delta: Optional[DataFrame] = None,
) -> DataFrame:
    """Pair mining over an EXISTING (id, simhash) signature table —
    the checkpointed-signature form: a pipeline that persists its
    signatures never recomputes them to mine pairs, and an incremental
    ingest can mine only the pairs that touch its appended documents.

    ``delta=None``: all pairs in ``sigs`` (self-join, a < b).
    ``delta=<appended signatures>`` (must be a subset of ``sigs``):
    exactly the pairs with AT LEAST ONE side in the delta — new↔new
    plus new↔old, never old↔old (those were mined when the old docs
    were ingested).  Same block bucket equi-join either way; the delta
    side is block-bucketed the same, so the join's probe relation is
    delta-scale, not corpus-scale."""
    blk = _simhash_blocks(sigs, max_hamming, bits)
    if delta is None:
        a, b = blk.alias("a"), blk.alias("b")
        cand = a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.id") < F.col("b.id")),
        )
    else:
        dblk = _simhash_blocks(delta, max_hamming, bits)
        # all-side ⋈ delta-side, normalized to ida < idb afterwards:
        # a new↔new pair matches in both orientations and a new↔old in
        # one — dropDuplicates below canonicalizes either way
        a, b = blk.alias("a"), dblk.alias("b")
        cand = a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.id") != F.col("b.id")),
        )
    cand = cand.select(
        F.least(F.col("a.id"), F.col("b.id")).alias("ida"),
        F.greatest(F.col("a.id"), F.col("b.id")).alias("idb"),
        F.when(F.col("a.id") < F.col("b.id"), F.col("a.simhash"))
        .otherwise(F.col("b.simhash")).alias("__sa"),
        F.when(F.col("a.id") < F.col("b.id"), F.col("b.simhash"))
        .otherwise(F.col("a.simhash")).alias("__sb"),
    ).dropDuplicates(["ida", "idb"])
    hamming = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("ida", "idb", "hamming")
    )


def dd_simhash_pairs(max_hamming: int = 3, bits: int = 32) -> str:
    """DuckDB twin of :func:`simhash_pairs` (same blocks, same exact
    popcount re-check)."""
    n_blocks = max_hamming + 1
    width = bits // n_blocks
    idx = ", ".join(str(b) for b in range(n_blocks))
    return f"""
        WITH sig AS ({dd_simhash(bits)}),
        blocks AS (
            SELECT id, simhash, t.b,
                   (simhash >> (t.b * {width})) & {(1 << width) - 1} AS v
            FROM sig CROSS JOIN (SELECT UNNEST([{idx}]) AS b) t
        ),
        cand AS (
            SELECT DISTINCT a.id AS ida, b.id AS idb,
                   a.simhash AS sa, b.simhash AS sb
            FROM blocks a
            JOIN blocks b ON a.b = b.b AND a.v = b.v AND a.id < b.id
        )
        SELECT ida, idb,
               CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
        FROM cand
        WHERE bit_count(xor(sa, sb)) <= {max_hamming}
    """


def dup_clusters(
    pairs: DataFrame,
    all_ids: Optional[DataFrame] = None,
    ida: str = "ida",
    idb: str = "idb",
    max_iter: int = 25,
    checkpoint: str = "auto",
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster) with
    ``cluster`` = the smallest doc id in the component (the canonical
    keeper) — the assignment step every dedup pipeline runs after pair
    mining (exact/jaccard/minhash/simhash/embedding pairs all feed it).

    Min-label propagation with path halving: each round takes the min
    over (own label, neighbors' labels, label-of-label) — the second
    hop doubles propagation distance, so convergence is
    O(log diameter) rounds, not O(diameter); each round is two
    equi-joins + one groupBy over the edge/label relations (component
    state only, never the corpus).  Each round's labels checkpoint
    eagerly — the round plan references the previous labels three
    times, so without lineage truncation the logical plan TRIPLES per
    round and OOMs the driver around round 10 (the standard
    iterative-algorithm pattern).

    ``checkpoint`` picks the truncation mechanism:

    * ``'local'`` — ``localCheckpoint()``: no checkpoint dir needed,
      but the blocks live only in executor storage and are NOT
      replayable — on a real cluster a lost executor fails the job
      (plan truncation at the cost of executor-failure recovery).
      The right default for local['*'] where executor == driver.
    * ``'reliable'`` — ``checkpoint()`` to the SparkContext checkpoint
      dir (must be set): blocks persist to the shared FS, so a lost
      executor re-reads the round's labels instead of killing the job.
      Use this on multi-executor clusters.  Costs to know: (a) eager
      ``checkpoint()`` computes the round once to return rows and
      again to write the checkpoint files (~2× per-round compute vs
      localCheckpoint — label relations are component-scale, so this
      is usually cheap); (b) Spark does NOT delete reliable
      checkpoint files unless
      ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (off
      by default), so long-running drivers that call this repeatedly
      should enable that cleaner or purge the checkpoint dir
      themselves — ~``max_iter`` label snapshots accrue per call.
    * ``'auto'`` (default) — ``'reliable'`` when
      ``sparkContext.getCheckpointDir()`` is set, else ``'local'``.

    ``all_ids``: optional (id) DataFrame of the full corpus — isolated
    docs come back as their own singleton cluster.

    ``driver_max_edges``: edge relations at or below this row count are
    solved by driver-side union-find instead of the iterative join
    rounds.  The pair relation is component-scale (near-dup pairs, not
    the corpus) and frequently tiny; each distributed round costs
    multiple jobs (two joins, a groupBy, an eager checkpoint, a
    convergence count) of pure fixed overhead at that size.  The cutoff
    is broadcast-scale (2M edges = ~32 MB of longs on the driver);
    larger relations take the distributed path unchanged.  Both paths
    produce identical (id, min-reachable-id) labels."""
    sc = pairs.sparkSession.sparkContext
    if checkpoint == "auto":
        checkpoint = "reliable" if sc.getCheckpointDir() else "local"
    if checkpoint == "reliable":
        if not sc.getCheckpointDir():
            raise ValueError(
                "dup_clusters(checkpoint='reliable') needs"
                " spark.sparkContext.setCheckpointDir(...) set first"
            )
        _ckpt = lambda df: df.checkpoint(eager=True)  # noqa: E731
    elif checkpoint == "local":
        _ckpt = lambda df: df.localCheckpoint(eager=True)  # noqa: E731
    else:
        raise ValueError(f"unknown checkpoint mode {checkpoint!r}")
    _CLUSTER_POOL.new_generation()
    # symmetrize in ONE pass over the pair relation: a union of two
    # selects would evaluate the caller's (corpus-scale) pair-mining
    # plan twice before the persist captures the result
    edges = _CLUSTER_POOL.add(
        pairs.select(
            F.explode(F.array(
                F.struct(F.col(ida).alias("a"), F.col(idb).alias("b")),
                F.struct(F.col(idb).alias("a"), F.col(ida).alias("b")),
            )).alias("__e")
        )
        .select("__e.a", "__e.b")
        .distinct()
        .persist()
    )
    # size probe and fetch in ONE job: an over-limit collect comes back
    # with driver_max_edges + 1 rows and falls through to the
    # distributed rounds (the persisted edge relation is then reused)
    tbl = (
        edges.limit(driver_max_edges + 1).toArrow()
        if driver_max_edges > 0
        else None
    )
    if tbl is not None and tbl.num_rows <= driver_max_edges:
        import numpy as np
        import pyarrow as pa
        from pyspark.sql.types import StructField, StructType

        # dense indices in id order, so the min index is the min id
        ids, inv = np.unique(
            np.concatenate([tbl.column("a").to_numpy(), tbl.column("b").to_numpy()]),
            return_inverse=True,
        )
        a, b = np.split(inv, 2)
        # hook every edge's larger root onto its smaller one, then jump
        # pointers until every tree is a star; parent[x] <= x throughout,
        # so a fixpoint labels each component with its min id
        parent = np.arange(len(ids))
        while True:
            ra, rb = parent[a], parent[b]
            lo = np.minimum(ra, rb)
            nxt = parent.copy()
            np.minimum.at(nxt, ra, lo)
            np.minimum.at(nxt, rb, lo)
            while not np.array_equal(nxt[nxt], nxt):
                nxt = nxt[nxt]
            if np.array_equal(nxt, parent):
                break
            parent = nxt
        id_type = pairs.schema[ida].dataType
        schema = StructType([
            StructField("id", id_type, False),
            StructField("cluster", id_type, False),
        ])
        # from an Arrow table (empty included): a local relation, so no
        # Python worker starts to convert a list of rows
        out = pairs.sparkSession.createDataFrame(
            pa.table({"id": ids, "cluster": ids[parent]}), schema
        )
        if all_ids is not None:
            singles = (
                all_ids.select(F.col(all_ids.columns[0]).alias("id"))
                .join(out, on="id", how="left_anti")
                .withColumn("cluster", F.col("id"))
            )
            out = out.unionByName(singles)
        return out

    labels = _ckpt(
        edges.select(F.col("a").alias("id")).distinct()
        .withColumn("label", F.col("id"))
    )
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges["b"] == labels["id"])
            .select(edges["a"].alias("id"), F.col("label"))
        )
        one_hop = (
            labels.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        l2 = one_hop.select(
            F.col("id").alias("__lid"), F.col("label").alias("__llabel")
        )
        halved = _ckpt(
            one_hop.join(l2, one_hop["label"] == l2["__lid"], "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("__llabel"), F.col("label"))
                ).alias("label"),
            )
        )
        changed = (
            halved.alias("n")
            .join(labels.alias("o"), on="id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = halved
        if changed == 0:
            break
    else:
        # silent non-convergence would split one duplicate component
        # across cluster ids (keeping both copies) with no signal
        raise RuntimeError(
            f"dup_clusters: not converged within max_iter={max_iter}"
            " rounds — component diameter exceeds ~2^max_iter; raise"
            " max_iter"
        )
    out = labels.select("id", F.col("label").alias("cluster"))
    if all_ids is not None:
        singles = (
            all_ids.select(F.col(all_ids.columns[0]).alias("id"))
            .join(out, on="id", how="left_anti")
            .withColumn("cluster", F.col("id"))
        )
        out = out.unionByName(singles)
    return out


def dd_dup_clusters(edges_sql: str, include_all_from: Optional[str] = None) -> str:
    """DuckDB twin of :func:`dup_clusters`: recursive transitive
    closure over the (ida, idb) pair relation, cluster = min reachable
    id.  ``edges_sql`` must select columns ida, idb."""
    base = f"""
        WITH RECURSIVE src AS MATERIALIZED ({edges_sql}),
        edges AS MATERIALIZED (
            SELECT ida AS a, idb AS b FROM src
            UNION
            SELECT idb AS a, ida AS b FROM src
        ),
        reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b
        ),
        clustered AS (
            SELECT a AS id, LEAST(a, MIN(b)) AS cluster
            FROM reach GROUP BY a
        )"""
    if include_all_from is None:
        return base + "\n        SELECT id, cluster FROM clustered"
    return base + f""",
        everyone AS (SELECT {include_all_from})
        SELECT e.id, COALESCE(c.cluster, e.id) AS cluster
        FROM everyone e LEFT JOIN clustered c USING (id)"""
