"""Seeded inputs, numpy references, and the timed pass of each workload.

Every pass calls public hexspark functions only.  Each call is one
``op``: a span (when tracing) around building the DataFrame and forcing
it with an action.  Results are compared with a reference computed
before any pass is timed, from the repo's numpy twins
(``geo.grid_encode_np``, ``cells_np``) and, for the corpus pipeline, a
numpy statement of its exact + simhash dedup (:func:`ref_corpus`).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hexspark import cells as cx
from hexspark import cells_np as cnp
from hexspark import geo, ops, sample, skew, synth
from hexspark import pipeline as hp

LANGS = ("en", "de", "fr", "es", "zh", "ja", "ru")
SPINE_DOCS = 5000  # distinct doc ids on the key spine (pyramid_unique_docs)
HOT_MULT = 40503  # hot-page selector: (key * HOT_MULT) % 65536 < threshold
PAGE_RES = 12
PYRAMID_RES = 6
DISTINCT_RES = 2
FOCAL_RES = 4
FOCAL_K = 2
SKEW_RES = 0
SALTS = 16
CAP_K = 3
CAP_RES = 4
# The pipelines documents follow the sf0.1 documents table (5,000 docs):
# words drawn evenly from its 30-word vocabulary, 10-100 words a doc,
# its language mix and 20 sources; 0.16% exact copies of an earlier doc,
# and 5% near copies: an earlier doc with the word "dup" appended.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line"
    " merge order part query row scan slow small sort spark stream table the value"
    " vector window"
).split()
DOC_LANGS = {"en": 0.412, "zh": 0.151, "es": 0.149, "fr": 0.148, "de": 0.140}
SOURCES = 20

# input size per workload; "smoke" is the tiny check of the output shape.
# assign: 1/5 of bench.py's q1 pages at sf0.1 (5,000 docs x 4,000 copies);
# docs/copies: sf0.1's documents and run_pipeline's default copies.
SIZES = {
    "full": {"assign": 4_000_000, "tiles": 100_000, "docs": 5000, "copies": 2},
    "smoke": {"assign": 20_000, "tiles": 20_000, "docs": 200, "copies": 2},
}

# timed passes per run, the cold one included.  assign: the JIT is still
# compiling in the first warm pass, so the median of five (in effect the
# 2nd warm pass) is steadier than that of three.  A tiles_pipelines pass
# takes 30-50 s, too long to repeat within the run budget, so its run
# times the one pass, cold, as a batch job runs in a fresh session.
PASSES = {"assign": 5, "tiles_pipelines": 1}

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# fixed, read-only input (42,383 compacted leaves at res 0..7)
US915 = os.path.join(ROOT, "fixtures", "us915_compact.parquet")


@dataclass
class Inputs:
    workload: str
    seed: int
    offset: int  # first key of the spine
    n_pages: int
    hot_thresh: int  # out of 65536; 0 = no hot hex
    hot_key: int  # the key whose location the hot pages share
    n_docs: int
    copies: int
    dup_share: float  # exact copies of an earlier doc
    near_share: float  # an earlier doc with "dup" appended

    @property
    def rows(self) -> int:
        """Input rows one pass consumes: spine pages, plus the pipeline
        pages and the corpus docs."""
        if self.workload == "tiles_pipelines":
            return self.n_pages + self.n_docs * self.copies + self.n_docs
        return self.n_pages


def make_inputs(workload: str, seed: int, size: str) -> Inputs:
    rng = np.random.default_rng(seed)
    sz = SIZES[size]
    # the shares move within narrow bands, so every seed asks for about
    # the same work and the spread between seeds is the system's own.
    # sf0.1 has no hot hex (its geotags are uniform); 20-22% of pages on
    # one hex is a stated stress level for the skew pair.
    hot_share = 0.20 + 0.02 * rng.random()
    return Inputs(
        workload=workload,
        seed=seed,
        offset=int(rng.integers(1, 1 << 30)),
        n_pages=sz["assign"] if workload == "assign" else sz["tiles"],
        hot_thresh=int(hot_share * 65536) if workload == "tiles_pipelines" else 0,
        hot_key=int(rng.integers(1, 1 << 30)),
        n_docs=sz["docs"],
        copies=sz["copies"],
        dup_share=0.0012 + 0.0008 * rng.random(),
        near_share=0.048 + 0.004 * rng.random(),
    )


# ---------------------------------------------------------------------------
# the key spine: Spark form and numpy twin
# ---------------------------------------------------------------------------

def latlon_np(k: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """numpy twin of ``synth.latlon_from_key`` (same integer steps)."""
    lat = ((k * 2654435761) % 180000000) / 1000000.0 - 90
    lon = ((k * 2246822519 + 12345) % 360000000) / 1000000.0 - 180
    return lat, lon


def pages_df(spark, inp: Inputs, parts: int):
    """Geotagged, res-12 encoded pages over ``spark.range`` (never persisted)."""
    k = F.col("id")
    lat, lon = synth.latlon_from_key(k)
    if inp.hot_thresh:
        hot = (k * HOT_MULT) % 65536 < inp.hot_thresh
        hlat, hlon = latlon_np(np.array([inp.hot_key], dtype=np.int64))
        lat = F.when(hot, F.lit(float(hlat[0]))).otherwise(lat)
        lon = F.when(hot, F.lit(float(hlon[0]))).otherwise(lon)
    langs = F.array(*[F.lit(x) for x in LANGS])
    return spark.range(inp.offset, inp.offset + inp.n_pages, 1, parts).select(
        k.alias("page_key"),
        (k % SPINE_DOCS).alias("doc_id"),
        F.element_at(langs, (k % len(LANGS) + 1).cast("int")).alias("lang"),
        geo.grid_encode(lat, lon, PAGE_RES).alias("cell"),
    )


def pages_np(inp: Inputs) -> dict:
    k = np.arange(inp.offset, inp.offset + inp.n_pages, dtype=np.int64)
    lat, lon = latlon_np(k)
    if inp.hot_thresh:
        hot = (k * HOT_MULT) % 65536 < inp.hot_thresh
        hlat, hlon = latlon_np(np.array([inp.hot_key], dtype=np.int64))
        lat[hot], lon[hot] = hlat[0], hlon[0]
    return {
        "cell": geo.grid_encode_np(lat, lon, PAGE_RES),
        "lang": k % len(LANGS),
        "doc": k % SPINE_DOCS,
    }


# ---------------------------------------------------------------------------
# pipelines input: a seeded documents table with planted exact copies
# ---------------------------------------------------------------------------

def make_docs(inp: Inputs) -> pd.DataFrame:
    rng = np.random.default_rng(inp.seed + 1)
    n = inp.n_docs
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    cuts = np.concatenate([[0], np.cumsum(lens)])
    toks = [[VOCAB[w] for w in words[cuts[i]:cuts[i + 1]]] for i in range(n)]
    kind = rng.random(n)
    for i in range(1, n):
        if kind[i] < inp.dup_share:
            toks[i] = list(toks[int(rng.integers(0, i))])
        elif kind[i] < inp.dup_share + inp.near_share:
            toks[i] = toks[int(rng.integers(0, i))] + ["dup"]
    texts = [" ".join(t) for t in toks]
    langs = list(DOC_LANGS)
    p = np.array(list(DOC_LANGS.values()))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [langs[i] for i in rng.choice(len(langs), n, p=p / p.sum())],
        "source": [f"src{i % SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_docs(docs: pd.DataFrame, sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(docs, preserve_index=False),
        os.path.join(sf_dir, "documents.parquet"),
    )


# ---------------------------------------------------------------------------
# references (numpy, computed before any pass is timed)
# ---------------------------------------------------------------------------

def _region_lookup(probe: np.ndarray, cells: np.ndarray, names: np.ndarray):
    """(covered mask, region name per covered probe) via SortedCellIndex."""
    idx = cnp.SortedCellIndex(cells)
    covered, sidx = idx.probe(probe)
    return covered, names[idx.order][sidx[covered]]


def ref_region_counts(cell, lang, reg_cells, reg_names) -> dict:
    covered, names = _region_lookup(cell, reg_cells, reg_names)
    g = pd.DataFrame({"r": names, "l": lang[covered]}).groupby("r")["l"]
    return {r: (int(n), int(d)) for r, n, d in zip(g.size().index, g.size(), g.nunique())}


def _counts(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    return np.unique(keys, return_counts=True)


def ref_smooth(tiles: np.ndarray, vals: np.ndarray, k: int, res: int):
    """Per occupied tile: (sum, count) of occupied tiles within lattice
    Chebyshev distance k — the numpy statement of ``ops.smooth_tiles``."""
    i, j, _ = geo.cell_to_ij_np(tiles)
    xl, yl = geo._axis_levels(res)
    ni, nj = geo.GRID_DIM * 7**xl, geo.GRID_DIM * 7**yl
    code = i * nj + j
    order = np.argsort(code)
    code_s, vals_s = code[order], vals[order]
    nsum = np.zeros(len(tiles), dtype=np.int64)
    ncnt = np.zeros(len(tiles), dtype=np.int64)
    for di in range(-k, k + 1):
        for dj in range(-k, k + 1):
            ti, tj = i + di, j + dj
            ok = (ti >= 0) & (ti < ni) & (tj >= 0) & (tj < nj)
            q = ti * nj + tj
            pos = np.minimum(np.searchsorted(code_s, q), len(code_s) - 1)
            hit = ok & (code_s[pos] == q)
            nsum += np.where(hit, vals_s[pos], 0)
            ncnt += hit
    return nsum, ncnt


def reference(inp: Inputs, reg_cells: np.ndarray, reg_names: np.ndarray, docs) -> dict:
    ref: dict = {}
    p = pages_np(inp)
    cell = p["cell"]
    ref["encode_checksum"] = int((cell % 999983).sum())
    if inp.workload == "assign":
        ref["join.shallow"] = ref_region_counts(cell, p["lang"], reg_cells, reg_names)
        us = pq.read_table(US915).column("cell").to_numpy()
        ref["join.deep"] = ref_region_counts(
            cell, p["lang"], us, us915_names(us)
        )
    else:
        pyr = {}
        for z in range(PYRAMID_RES + 1):
            pyr[z] = (len(np.unique(cnp.to_parent(cell, z))), len(cell))
        ref["ops.tile_pyramid"] = pyr
        dist = {}
        for z in range(DISTINCT_RES + 1):
            pairs = np.unique(np.stack([cnp.to_parent(cell, z), p["doc"]]), axis=1)
            dist[z] = (len(np.unique(pairs[0])), pairs.shape[1])
        ref["ops.pyramid_distinct"] = dist
        t4, n4 = _counts(cnp.to_parent(cell, FOCAL_RES))
        nsum, ncnt = ref_smooth(t4, n4, FOCAL_K, FOCAL_RES)
        ref["ops.smooth"] = (len(t4), int(nsum.sum()), int(ncnt.sum()))
        t2, n2 = _counts(cnp.to_parent(cell, SKEW_RES))
        ref["skew.plain_agg"] = dict(zip(t2.tolist(), n2.tolist()))
        ref["skew.salted_agg"] = ref["skew.plain_agg"]
        _, nc = _counts(cnp.to_parent(cell, CAP_RES))
        ref["sample.cap_per_tile"] = int(np.minimum(nc, CAP_K).sum())
        k = np.arange(inp.n_docs * inp.copies, dtype=np.int64)
        lat, lon = latlon_np(k)
        doc_lang = docs["lang"].map({x: i for i, x in enumerate(LANGS)}).to_numpy()
        ref["pipeline.run_pipeline"] = ref_region_counts(
            geo.grid_encode_np(lat, lon, PAGE_RES), doc_lang[k // inp.copies],
            reg_cells, reg_names,
        )
        ref["pipeline.run_corpus_pipeline"] = ref_corpus(docs)
    return ref


def _tok_bits(tok: str) -> np.ndarray:
    """+1/-1 per simhash bit of one token: bits 0..59 from the first 15
    hex digits of md5(tok), bits 60..63 from md5("b:" + tok)."""
    h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
    h2 = int(hashlib.md5(("b:" + tok).encode()).hexdigest()[:15], 16)
    bits = [(h >> j) & 1 for j in range(60)] + [(h2 >> j) & 1 for j in range(4)]
    return np.where(np.array(bits) == 1, 1, -1)


def _popcount(x: np.ndarray) -> np.ndarray:
    x = x - ((x >> 1) & 0x5555555555555555)
    x = (x & 0x3333333333333333) + ((x >> 2) & 0x3333333333333333)
    x = (x + (x >> 4)) & 0x0F0F0F0F0F0F0F0F
    return (x * 0x0101010101010101) >> 56


def ref_corpus(docs: pd.DataFrame, max_hamming: int = 3) -> tuple[int, int]:
    """(keepers, their tokens) of ``run_corpus_pipeline`` with its
    defaults: exact copies and 64-bit simhash pairs within Hamming 3
    form clusters; each cluster keeps its smallest doc id."""
    ids = docs["doc_id"].to_numpy()
    texts = docs["text"].tolist()
    parent = {int(i): int(i) for i in ids}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    rep: dict[str, int] = {}
    for i, t in zip(ids.tolist(), texts):
        if t in rep:
            union(rep[t], i)
        else:
            rep[t] = i
    vocab = sorted({w for t in rep for w in t.split()})
    col = {w: j for j, w in enumerate(vocab)}
    bow = np.zeros((len(rep), len(vocab)), dtype=np.int64)
    for r, t in enumerate(rep):
        for w in t.split():
            bow[r, col[w]] += 1
    sums = bow @ np.stack([_tok_bits(w) for w in vocab])
    sig = ((sums > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(
        axis=1, dtype=np.uint64)
    rid = np.array(list(rep.values()))
    for a in range(len(sig)):
        near = np.flatnonzero(_popcount(sig[a] ^ sig[a + 1:]) <= max_hamming)
        for b in near:
            union(int(rid[a]), int(rid[a + 1 + b]))
    keep = [i for i in ids.tolist() if find(i) == i]
    toks = docs.set_index("doc_id").loc[keep, "text"].str.split().str.len()
    return len(keep), int(toks.sum())


def us915_names(cells: np.ndarray) -> np.ndarray:
    """Region label of a US915 leaf: its base cell (26 regions)."""
    return np.array([f"b{b}" for b in cnp.base_cell(cells)], dtype=object)


# ---------------------------------------------------------------------------
# set-up and passes
# ---------------------------------------------------------------------------

@dataclass
class State:
    spark: object
    inp: Inputs
    parts: int
    work: str
    regions: object = None
    us915: object = None
    docs: "pd.DataFrame | None" = None
    docs_dir: str = ""
    region_map_s: float = 0.0
    region_leaves: int = 0
    n_pass: int = 0
    ck_dir: str = ""  # checkpoint root of the current pass


def setup(spark, inp: Inputs, work: str, parts: int, docs=None, docs_dir="") -> State:
    """Region maps and the fixed input, materialized; the session is the
    caller's."""
    st = State(spark=spark, inp=inp, parts=parts, work=work, docs=docs, docs_dir=docs_dir)
    t0 = time.perf_counter()
    st.regions = ops.region_map(spark).persist()
    st.region_leaves = st.regions.count()
    st.region_map_s = time.perf_counter() - t0
    if inp.workload == "assign":
        st.us915 = (
            spark.read.parquet(US915)
            .select(
                "cell",
                F.concat(
                    F.lit("b"), (F.shiftright("cell", 45) % 128).cast("string")
                ).alias("region"),
            )
            .persist()
        )
        st.us915.count()
    return st


def prepare(inp: Inputs, work: str) -> "tuple[pd.DataFrame | None, str]":
    """The seeded documents table of ``tiles_pipelines``, written once
    per run before set-up (it is the benchmark's input, not set-up)."""
    if inp.workload != "tiles_pipelines":
        return None, ""
    docs = make_docs(inp)
    docs_dir = os.path.join(work, "inputs")
    write_docs(docs, docs_dir)
    return docs, docs_dir


def _rows_by_region(rows) -> dict:
    return {r["region"]: (int(r[1]), int(r[2])) for r in rows}


def run_pass(st: State, op) -> dict:
    """One pass of ``st.inp.workload``; returns {op name: result}."""
    def pages():
        return pages_df(st.spark, st.inp, st.parts)

    if st.inp.workload == "assign":
        return {
            name: op(name, lambda r=regions: _collect(
                ops.region_counts(pages(), r), _rows_by_region))
            for name, regions in (("join.shallow", st.regions), ("join.deep", st.us915))
        }
    return {**_tiles(pages, op), **_pipelines(st, op)}


def _tiles(pages, op) -> dict:
    """The raster family over the spine with its hot hex."""
    out: dict = {}
    out["ops.tile_pyramid"] = op("ops.tile_pyramid", lambda: _collect(
        ops.tile_pyramid(pages(), PYRAMID_RES)
        .groupBy("z").agg(F.count("*"), F.sum("n_pages")),
        lambda rows: {int(r[0]): (int(r[1]), int(r[2])) for r in rows}))
    out["ops.pyramid_distinct"] = op("ops.pyramid_distinct", lambda: _collect(
        ops.pyramid_unique_docs(pages(), DISTINCT_RES)
        .groupBy("z").agg(F.count("*"), F.sum("n_docs")),
        lambda rows: {int(r[0]): (int(r[1]), int(r[2])) for r in rows}))

    def tiles4():
        return pages().groupBy(
            cx.to_parent("cell", FOCAL_RES).alias("tile")
        ).agg(F.count("*").alias("n_pages"))

    out["ops.smooth"] = op("ops.smooth", lambda: _collect(
        ops.smooth_tiles(tiles4(), FOCAL_K, FOCAL_RES)
        .agg(F.count("*"), F.sum("neigh_sum"), F.sum("neigh_cnt")),
        lambda rows: tuple(int(v) for v in rows[0])))

    def tiles2():
        return pages().withColumn("tile", cx.to_parent("cell", SKEW_RES))

    def by_tile(rows):
        return {int(r[0]): int(r[1]) for r in rows}

    # distinct pages per tile as a grouped pandas aggregate: it has no
    # map-side combine, so the plain groupBy ships every page of the hot
    # tile to one reducer; salting by page_key splits it over SALTS groups
    def nunique(s: pd.Series) -> int:
        return s.nunique()

    n_distinct = F.pandas_udf(nunique, "long")
    # at this input size AQE would merge the reducers into one and hide
    # the hot tile; on a cluster-scale input they stay apart
    conf, coalesce = pages().sparkSession.conf, "spark.sql.adaptive.coalescePartitions.enabled"
    was = conf.get(coalesce)
    conf.set(coalesce, "false")
    out["skew.plain_agg"] = op("skew.plain_agg", lambda: _collect(
        tiles2().groupBy("tile").agg(n_distinct("page_key").alias("n")), by_tile))
    out["skew.salted_agg"] = op("skew.salted_agg", lambda: _collect(
        skew.salted_agg(tiles2(), "tile", SALTS,
                        [n_distinct("page_key").alias("d")], [F.sum("d").alias("n")],
                        salt_expr=F.col("page_key")),
        by_tile))
    conf.set(coalesce, was)
    out["sample.cap_per_tile"] = op("sample.cap_per_tile", lambda: _collect(
        sample.cap_per_tile(pages(), k=CAP_K, tile_res=CAP_RES).agg(F.count("*")),
        lambda rows: int(rows[0][0])))
    return out


def _pipelines(st: State, op) -> dict:
    """Both resumable drivers into a fresh work dir, then both again
    over the completed dirs (the resume)."""
    spark, inp = st.spark, st.inp
    out: dict = {}
    st.n_pass += 1
    st.ck_dir = os.path.join(st.work, f"ck{st.n_pass}")
    spatial, corpus = os.path.join(st.ck_dir, "spatial"), os.path.join(st.ck_dir, "corpus")

    def spatial_run():
        res = hp.run_pipeline(spark, st.docs_dir, spatial, copies=inp.copies)
        return res["region_counts"], (_rows_by_region(res["region_counts"].collect()),
                                      res["lineage"])

    def corpus_run():
        res = hp.run_corpus_pipeline(spark, st.docs_dir, corpus)
        rows = res["corpus_stats"].collect()
        stats = (sum(int(r["n_docs"]) for r in rows),
                 sum(int(r["total_toks"]) for r in rows))
        return res["corpus_stats"], (stats, res["lineage"])

    def resume():
        (_, (a, _)), (df, (b, _)) = spatial_run(), corpus_run()
        return df, (a, b)

    out["pipeline.run_pipeline"] = op("pipeline.run_pipeline", spatial_run)
    out["pipeline.run_corpus_pipeline"] = op("pipeline.run_corpus_pipeline", corpus_run)
    out["pipeline.resume"] = op("pipeline.resume", resume)
    return out


def _collect(df, shape):
    return df, shape(df.collect())


def encode_only(st: State, op) -> dict:
    """The encode-only pass (traced runs): every page's cell, summed."""
    return {"geo.encode": op("geo.encode", lambda: _collect(
        pages_df(st.spark, st.inp, st.parts).agg(F.sum(F.col("cell") % 999983)),
        lambda rows: int(rows[0][0])))}


def cleanup(st: State) -> None:
    """Drop the pass's checkpoint dirs (outside the timed pass)."""
    if st.ck_dir:
        shutil.rmtree(st.ck_dir, ignore_errors=True)
        st.ck_dir = ""


def check(ref: dict, results: dict) -> list[tuple[str, bool]]:
    """(op, output matches the reference) for every op of one pass."""
    checks = []
    for name, res in results.items():
        if isinstance(res, BaseException):
            checks.append((name, False))
            continue
        val = res[0]
        if name == "geo.encode":
            ok = val == ref["encode_checksum"]
        elif name in ("pipeline.run_pipeline", "pipeline.run_corpus_pipeline"):
            ok = val[0] == ref[name]  # val[1] is the stage lineage
        elif name == "pipeline.resume":
            ok = (val[0] == ref["pipeline.run_pipeline"]
                  and val[1] == ref["pipeline.run_corpus_pipeline"])
        else:
            ok = val == ref[name]
        checks.append((name, bool(ok)))
    return checks
