"""Flagship spatial pipeline: geotag → encode → region-assign → rollups.

This is the end-to-end operator set the north_star describes: pages in
a Common-Crawl-style table are geotagged, batch-encoded to cells, and
joined against broadcast compacted region tables for point-in-polygon
membership, tile rollups, and raster↔vector assignment.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from . import build as bx
from . import cells as cx
from . import join as jx
from .cachepool import CachePool
from .geo import GRID_DIM, polyfill_np

_PYRAMID_POOL = CachePool()
_NEAREST_POOL = CachePool()
_FOCAL_POOL = CachePool()

# Three disjoint synthetic vector regions (lat, lon vertices).  Chosen
# for the deterministic test/bench pipeline; production regions come
# from any polygon source (geojson etc.).
REGIONS: dict[str, list[tuple[float, float]]] = {
    "alpha": [(25.0, -100.0), (40.0, -95.0), (38.0, -80.0), (28.0, -78.0), (22.0, -90.0)],
    "beta": [(42.0, 0.0), (55.0, 5.0), (57.0, 20.0), (45.0, 25.0), (40.0, 12.0)],
    "gamma": [(-35.0, 120.0), (-18.0, 125.0), (-15.0, 140.0), (-30.0, 150.0), (-38.0, 135.0)],
}
REGION_RES = 4


_REGION_SCHEMA = StructType([
    StructField("cell", LongType()),
    StructField("region", StringType(), False),
])


def region_map(spark: SparkSession, res: int = REGION_RES, compact: bool = True) -> DataFrame:
    """Vector→raster: polyfill each polygon, tag with its name, build
    the compacted broadcast region map (EqCompactor — contiguous same-
    value areas coalesce, HexTree's src/compaction.rs:63-72);
    ``compact=False`` keeps the raw fills.  No Spark job runs until the
    map is used (:func:`_build_regions`)."""
    return _build_regions(spark, [(n, p, ()) for n, p in REGIONS.items()], res, compact)


def _build_regions(spark: SparkSession, polygons, res: int, compact: bool) -> DataFrame:
    """Region map of ``(name, exterior, holes)`` polygons, built on the
    driver since it is broadcast-scale metadata: numpy polyfill per
    polygon, :func:`build.build_region_np`, one Arrow-built
    :func:`build.local_frame` (empty maps included)."""
    pdf = pd.concat(
        [
            pd.DataFrame({"cell": polyfill_np(verts, res, holes=holes), "region": name})
            for name, verts, holes in polygons
        ],
        ignore_index=True,
    )
    if compact:
        pdf = bx.build_region_np(pdf, value_col="region", compactor="eq")
    return bx.local_frame(spark, pdf, _REGION_SCHEMA)


def assign_regions(
    pages: DataFrame,
    regions: DataFrame,
    how: str = "inner",
) -> DataFrame:
    """Attach (stored_cell, region) to each page by nearest-ancestor
    containment — the flagship spatial join (:func:`join.get_chained`:
    one broadcast hash join per region resolution, all JVM-side)."""
    return jx.get_chained(pages, regions, probe_col="cell", region_col="cell", how=how)


def region_counts(pages: DataFrame, regions: DataFrame) -> DataFrame:
    """Pages per region — the headline throughput query."""
    assigned = assign_regions(pages, regions, how="inner")
    return assigned.groupBy("region").agg(
        F.count("*").alias("n_pages"),
        F.count_distinct("lang").alias("n_langs"),
    )


def tile_stats(pages: DataFrame, tile_res: int) -> DataFrame:
    """Raster rollup: per-tile page counts at ``tile_res``.

    One map-side-combinable groupBy on a derived column — the analogue
    of A6 per-region tile stats."""
    return pages.groupBy(
        cx.to_parent("cell", tile_res).alias("tile")
    ).agg(
        F.count("*").alias("n_pages"),
        F.count_distinct("lang").alias("n_langs"),
    )


def tile_stats_approx(
    pages: DataFrame,
    tile_res: int,
    distinct_col: str = "lang",
    rsd: float = 0.05,
) -> DataFrame:
    """Sketch-based tile stats for cardinality at scale: exact
    ``count_distinct`` needs a second shuffle keyed by (tile, value);
    ``approx_count_distinct`` (HyperLogLog++) merges fixed-size sketches
    map-side — one shuffle, O(tiles) state, ``rsd`` relative error.
    The scale path for high-cardinality distinct columns (urls, doc
    fingerprints); exact :func:`tile_stats` stays the oracle-gated
    contract query."""
    return pages.groupBy(
        cx.to_parent("cell", tile_res).alias("tile")
    ).agg(
        F.count("*").alias("n_pages"),
        F.approx_count_distinct(distinct_col, rsd=rsd).alias("n_distinct_approx"),
    )


def tile_region_rollup(
    pages: DataFrame, regions: DataFrame, tile_res: int
) -> DataFrame:
    """Raster↔vector assignment: aggregate pages to raster tiles, then
    assign each tile to its covering vector region (containment join on
    the *tile* cell).  Tiles straddling no region drop out (inner)."""
    tiles = tile_stats(pages, tile_res)
    return (
        jx.get_chained(tiles, regions, probe_col="tile")
        .groupBy("region")
        .agg(
            F.count("*").alias("n_tiles"),
            F.sum("n_pages").alias("n_pages"),
        )
    )


def top_domains_per_region(
    pages: DataFrame, regions: DataFrame, k: int = 3
) -> DataFrame:
    """Top-``k`` crawl domains inside each vector region — the spatial
    × web-curation composite (which sources dominate a geography).

    Shape: manual projection (URL parsed BEFORE the join so only the
    short domain string rides it), broadcast containment join, one
    map-side-combinable (region, domain) count, then the two-phase
    top-k tail (hexspark.topk) — no window shuffling all domains of a
    region into one reducer."""
    from .text import domain_of
    from .topk import topk_per_key

    slim = pages.select("cell", domain_of(F.col("url")).alias("domain"))
    assigned = jx.get_chained(slim, regions, probe_col="cell")
    counts = assigned.groupBy("region", "domain").agg(
        F.count("*").alias("n_pages")
    )
    return topk_per_key(
        counts,
        keys=["region"],
        order=[-F.col("n_pages"), F.col("domain")],
        payload=["domain", "n_pages"],
        k=k,
    )


def tile_region_rollup_pretiled(
    tiled: DataFrame, regions: DataFrame
) -> DataFrame:
    """:func:`tile_region_rollup` over a source that already CARRIES the
    tile column — the bucketed-pipeline form: when ``tiled`` is a table
    bucketed on ``tile`` (storage.write_bucketed / Checkpointer.
    stage_bucketed), the tile aggregation groups on the stored bucket
    key and the containment join broadcasts, so the executed plan has
    NO Exchange until the final region-cardinality groupBy (asserted in
    tests/test_pipeline.py).  Output identical to tile_region_rollup
    over the un-tiled pages."""
    tiles = tiled.groupBy("tile").agg(F.count("*").alias("n_pages"))
    return (
        jx.get_chained(tiles, regions, probe_col="tile")
        .groupBy("region")
        .agg(
            F.count("*").alias("n_tiles"),
            F.sum("n_pages").alias("n_pages"),
        )
    )


def tile_pyramid(
    pages: DataFrame,
    max_res: int,
    cell_col: str = "cell",
    explode_max_rows: int = 2_000_000,
) -> DataFrame:
    """Full zoom pyramid — (z, tile, n_pages) for every z in
    0..``max_res`` — in ONE pages-scale shuffle: pages aggregate to
    res-``max_res`` tiles (map-side combine, persisted — pooled, see
    hexspark.cachepool), and every coarser level derives from that
    base, never from the pages again (nesting invariant:
    ``to_parent(to_parent(c, z+1), z) == to_parent(c, z)``).

    The rollup above the base is CARDINALITY-PROBED — the base count
    is free (the relation is persisted and must materialize anyway,
    and every level reuses the cache):

    * small pyramids (base × levels ≤ ``explode_max_rows``): each base
      tile explodes to its (z, ancestor) pairs via ONE
      ``transform(sequence)`` lambda and a single ``groupBy(z, tile)``
      rolls all levels at once — one tiny shuffle, one plan, no
      per-level barriers (measured 0.6-1.7 s vs the cascade's 4-6 s at
      10^4-10^6 base tiles: the cascade's cost there is pure per-level
      codegen/job-submit warm-up, not data).
    * large pyramids: cascaded child rollups (level z from level z+1,
      pooled persists).  When the base res is fine enough that tile
      cardinality approaches page cardinality (20M pages → ~10M res-6
      tiles on the uniform synthetic globe), the explode would shuffle
      base × (max_res+1) rows with near-zero map-side combine
      (siblings are not co-located after the base shuffle) — measured
      2-3× SLOWER than the cascade's geometrically decaying levels
      (21 s vs 6-10 s at sf0.1).  The cascade's shuffle volume is
      ~base/6 extra rows total.

    Both branches read the one cached base, so the probe never
    re-scans pages.  The naive alternatives stay wrong at scale: one
    groupBy per level over pages = max_res extra page-scale shuffles;
    GROUPING SETS over derived parents = pages × levels through one
    exchange."""
    _PYRAMID_POOL.new_generation()
    base = _PYRAMID_POOL.add(
        pages.groupBy(cx.to_parent(cell_col, max_res).alias("tile"))
        .agg(F.count("*").alias("n_pages"))
        .persist()
    )
    n_base = base.count()

    if n_base * (max_res + 1) <= explode_max_rows:
        ancestors = F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(max_res)),
                lambda z: F.struct(
                    z.cast("long").alias("z"),
                    cx.to_parent("tile", z).alias("tile"),
                ),
            )
        ).alias("a")
        return (
            base.select(ancestors, "n_pages")
            .groupBy(F.col("a.z").alias("z"), F.col("a.tile").alias("tile"))
            .agg(F.sum("n_pages").alias("n_pages"))
        )

    cur = base
    levels = [
        cur.select(F.lit(max_res).cast("long").alias("z"), "tile", "n_pages")
    ]
    z = max_res - 1
    while z >= 0:
        # hybrid tail: tile cardinality at level z+1 is bounded by the
        # LATTICE (121 * 7^(z+1) cells exist at all), so once
        # min(n_base, lattice) * remaining_levels fits the explode
        # budget, ONE transform(sequence) explode + groupBy rolls every
        # remaining level in a single small shuffle instead of one
        # exchange (plus per-level plan/job overhead) per level — the
        # shuffle volume is the same geometric tail the cascade pays,
        # without the per-level barriers.
        rem = min(n_base, (GRID_DIM * GRID_DIM) * 7 ** (z + 1)) * (z + 1)
        if rem <= explode_max_rows:
            ancestors = F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(z)),
                    lambda zz: F.struct(
                        zz.cast("long").alias("z"),
                        cx.to_parent("tile", zz).alias("tile"),
                    ),
                )
            ).alias("a")
            levels.append(
                cur.select(ancestors, "n_pages")
                .groupBy(F.col("a.z").alias("z"), F.col("a.tile").alias("tile"))
                .agg(F.sum("n_pages").alias("n_pages"))
            )
            break
        cur = _PYRAMID_POOL.add(
            cur.groupBy(cx.to_parent("tile", z).alias("tile"))
            .agg(F.sum("n_pages").alias("n_pages"))
            .persist()
        )
        levels.append(
            cur.select(F.lit(z).cast("long").alias("z"), "tile", "n_pages")
        )
        z -= 1
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def nearest_region(
    pages: DataFrame,
    regions: DataFrame,
    nn_res: int = REGION_RES,
    max_ring: int = 4,
    cell_col: str = "cell",
) -> DataFrame:
    """Gap-fill region assignment: contained pages keep their region
    (``via='contains'``, ring 0); every OTHER page gets the region of
    the nearest region cell at ``nn_res`` under the lattice Chebyshev
    metric (``via='nearest'``, ring = that distance) — the
    coastal/offshore case a pure containment join drops.

    Shape (pages never shuffle except ONE map-side-combinable
    distinct): a page is contained iff its res-``nn_res`` parent is in
    the uncompacted region set, so the miss-probe set is computed
    WITHOUT the assignment join — distinct parents of all pages
    (bounded by the lattice, not by pages) anti-joined against the
    broadcast region cells.  Probes then resolve in two tiers:

    * ring tier — :func:`hexspark.geo.knn_rings` k=1 within
      ``max_ring`` (budget-bounded broadcast disks, ring-doubling):
      most real misses hug a region boundary and finalize here.
    * brute tier — leftover probes × the BROADCAST region-cell
      relation, reduced by a map-side-combinable
      ``min(struct(ring, cell))``: O(far_probes × |region cells|)
      codegen evaluations, O(far_probes) shuffle rows, no sort.  Exact
      at any distance — a probe on the far side of the lattice never
      needs a (2R+1)^2 disk explode.

    Both tiers pick min (ring, cell) — identical tie-break, so tier
    membership never changes the answer.  Ties across regions resolve
    by cell id (deterministic; mirrors the DuckDB twin's
    ``ORDER BY cheb, cell``).  Antimeridian: lattice-flat like
    distance_join's default (compose with wrap manually if needed).

    Assumes ``regions`` value column ``region`` and disjoint regions
    (the repo-wide region-map contract)."""
    from .geo import cell_to_ij, knn_rings

    # uncompact_df silently DROPS region cells finer than nn_res — a
    # caller passing nn_res coarser than the map's build resolution
    # would lose those areas from both tiers and misassign their pages
    # with no signal.  Same guard class as knn_rings' mixed-res check.
    rs = jx.region_res_set(regions)
    if rs and max(rs) > nn_res:
        raise ValueError(
            f"nearest_region: region map stores cells at res {max(rs)}"
            f" finer than nn_res={nn_res} — uncompacting would silently"
            " drop them; pass nn_res >= the map's build resolution"
        )
    page_cols = pages.columns
    stored = bx.uncompact_df(regions, nn_res)  # (cell, region), nn_res-flat

    # miss probes WITHOUT touching the assignment twice: a page is
    # contained iff its res-nn_res parent is in the uncompacted set
    # (regions build at nn_res), so distinct parents minus region
    # cells IS the miss-probe set — one map-side-combinable distinct
    # over pages, then probe-scale algebra.  Pool-persisted: every
    # consumer below branches off it.
    _NEAREST_POOL.new_generation()
    miss_probes = _NEAREST_POOL.add(
        pages.select(cx.to_parent(cell_col, nn_res).alias("__probe"))
        .distinct()
        .join(
            F.broadcast(stored.select(F.col("cell").alias("__probe"))),
            on="__probe",
            how="leftanti",
        )
        .persist()
    )

    near = knn_rings(
        stored.select("cell"),
        miss_probes,
        k=1,
        max_ring=max_ring,
        res=nn_res,
        probe_col="__probe",
    ).select("__probe", "cell", F.col("ring").cast("long").alias("ring"))

    far = miss_probes.join(near.select("__probe"), on="__probe", how="leftanti")
    pi, pj = cell_to_ij(F.col("__probe"), nn_res)
    si, sj = cell_to_ij(F.col("cell"), nn_res)
    stored_ij = stored.select("cell", si.alias("__si"), sj.alias("__sj"))
    cheb = F.greatest(
        F.abs(F.col("__pi") - F.col("__si")),
        F.abs(F.col("__pj") - F.col("__sj")),
    ).cast("long")
    brute = (
        far.select("__probe", pi.alias("__pi"), pj.alias("__pj"))
        .join(F.broadcast(stored_ij))
        .groupBy("__probe")
        .agg(
            F.min(
                F.struct(cheb.alias("ring"), F.col("cell").alias("cell"))
            ).alias("__b")
        )
        .select(
            "__probe",
            F.col("__b.cell").alias("cell"),
            F.col("__b.ring").alias("ring"),
        )
    )
    nn = _NEAREST_POOL.add(
        near.unionByName(brute)
        .join(F.broadcast(stored), on="cell")
        .select("__probe", "region", "ring")
        .persist()
    )

    # ONE pass over pages: containment join + a probe-keyed left join
    # against the tiny resolved relation (disjoint probe sets — a
    # contained page's probe is a region cell, never a miss probe)
    assigned = assign_regions(pages, regions, how="left")
    out = assigned.withColumn(
        "__probe", cx.to_parent(cell_col, nn_res)
    ).join(F.broadcast(nn.withColumnRenamed("region", "__nn_region")),
           on="__probe", how="left")
    contained = F.col("region").isNotNull()
    return out.select(
        *page_cols,
        F.coalesce(F.col("region"), F.col("__nn_region")).alias("region"),
        F.when(contained, F.lit(0).cast("long"))
        .otherwise(F.col("ring"))
        .alias("ring"),
        F.when(contained, F.lit("contains"))
        .otherwise(F.lit("nearest"))
        .alias("via"),
    )


def pyramid_unique_docs(
    pages: DataFrame,
    max_res: int,
    id_col: str = "doc_id",
    cell_col: str = "cell",
    explode_max_rows: int = 2_000_000,
) -> DataFrame:
    """Hierarchical DISTINCT rollup — ``(z, tile, n_docs)`` for every
    z in 0..``max_res``, where ``n_docs`` counts distinct ``id_col``
    values under the tile.

    Distinct counts are NOT summable up a pyramid (a doc whose pages
    span two child tiles must count once in the parent), so
    :func:`tile_pyramid`'s sum-rollup does not apply.  Distinct SETS
    are unionable though: level z's (tile, id) set is level z+1's
    reprojected + re-distinct'd — so pages are touched ONCE (the base
    distinct, the unavoidable pages-scale shuffle) and every coarser
    level reduces the previous level's relation (volume decays toward
    n_ids as tiles collapse; pooled persists as in tile_pyramid).
    The naive per-level ``groupBy(parent).count_distinct`` over pages
    would re-shuffle the full input max_res+1 times.

    Cardinality-probed like :func:`tile_pyramid`: small bases take ONE
    exploded (z, ancestor, id) count_distinct — one shuffle, one plan;
    large bases cascade per level so the exchange never carries
    base × levels rows.

    10^12-pages scale path: :func:`pyramid_unique_docs_approx`
    (mergeable HLL sketches, one pages-scale shuffle total); this
    exact form is the oracle-gated contract query.
    """
    _PYRAMID_POOL.new_generation()
    # ONE exchange for the whole cascade: hash-partitioning by __id
    # alone satisfies every level's (tile_z, __id) clustering (same id
    # -> same partition => same (tile, id) -> same partition), so the
    # base distinct AND every coarser re-distinct plan with NO further
    # Exchange — the naive per-level distinct re-shuffles the pair
    # relation once per level (base + base*~1/7 + ... extra bytes).
    # Partitioning by id is skew-safe: however hot one id's page count,
    # its post-distinct footprint is bounded by the lattice (tiles at
    # max_res), not by its pages.
    base = _PYRAMID_POOL.add(
        pages.select(
            cx.to_parent(cell_col, max_res).alias("tile"),
            F.col(id_col).alias("__id"),
        )
        .repartition("__id")
        .distinct()
        .persist()
    )
    n_base = base.count()

    if n_base * (max_res + 1) <= explode_max_rows:
        ancestors = F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(max_res)),
                lambda z: F.struct(
                    z.cast("long").alias("z"),
                    cx.to_parent("tile", z).alias("tile"),
                ),
            )
        ).alias("a")
        return (
            base.select(ancestors, "__id")
            .groupBy(F.col("a.z").alias("z"), F.col("a.tile").alias("tile"))
            .agg(F.count_distinct("__id").alias("n_docs"))
        )

    def _level(df: DataFrame, z: int) -> DataFrame:
        return (
            df.groupBy("tile")
            .agg(F.count("*").alias("n_docs"))  # rows are distinct (tile, id)
            .select(F.lit(z).cast("long").alias("z"), "tile", "n_docs")
        )

    cur = base
    levels = [_level(cur, max_res)]
    for z in range(max_res - 1, -1, -1):
        cur = _PYRAMID_POOL.add(
            cur.select(cx.to_parent("tile", z).alias("tile"), "__id")
            .distinct()
            .persist()
        )
        levels.append(_level(cur, z))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def pyramid_unique_docs_approx(
    pages: DataFrame,
    max_res: int,
    id_col: str = "doc_id",
    cell_col: str = "cell",
    lg_k: int = 12,
) -> DataFrame:
    """Sketch-based hierarchical distinct rollup — the scale path for
    :func:`pyramid_unique_docs`.

    One pages-scale shuffle TOTAL: the base level aggregates each tile
    to a fixed-size Datasketches HLL sketch (``hll_sketch_agg``,
    map-side combinable), and every coarser level MERGES child
    sketches (``hll_union_agg``) — sketch unions are exact over the
    sketch state, so accuracy does not degrade up the pyramid beyond
    the base sketch's ~1.6%/sqrt(2^lg_k) bound.  Exact distinct sets
    never cross the wire above the base; per-level state is
    O(tiles × 2^lg_k bytes).  Tolerance-tested against the exact form
    (not oracle-gated — estimates are engine-specific).

    Composes from :func:`tile_sketch_table` +
    :func:`pyramid_from_sketch_table`; for a growing corpus persist
    per-batch sketch tables and fold with :func:`merge_sketch_tables`
    instead of re-scanning old pages."""
    return pyramid_from_sketch_table(
        tile_sketch_table(pages, max_res, id_col, cell_col, lg_k), max_res
    )


def tile_sketch_table(
    pages: DataFrame,
    tile_res: int,
    id_col: str = "doc_id",
    cell_col: str = "cell",
    lg_k: int = 12,
) -> DataFrame:
    """Per-tile distinct-id HLL sketch table ``(tile, sketch BINARY)``
    — the INCREMENTAL building block for distinct rollups at ingest
    scale: sketch a batch once (one map-side-combinable shuffle),
    persist the binary column to Parquet, and fold later batches in
    with :func:`merge_sketch_tables` — distinct counts over the union
    of N ingests WITHOUT ever re-scanning old pages (sketch union is
    exact over the sketch state, so merge-then-estimate equals
    sketch-of-union up to the base sketch's error bound)."""
    return pages.groupBy(
        cx.to_parent(cell_col, tile_res).alias("tile")
    ).agg(F.hll_sketch_agg(F.col(id_col), F.lit(lg_k)).alias("sketch"))


def merge_sketch_tables(*tables: DataFrame) -> DataFrame:
    """Fold per-tile sketch tables (e.g. one per ingest batch) into
    one: union + ``hll_union_agg`` per tile.  Volume is O(tiles), never
    pages — the incremental path for :func:`pyramid_unique_docs_approx`
    over a growing corpus."""
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.groupBy("tile").agg(
        F.hll_union_agg("sketch").alias("sketch")
    )


def pyramid_from_sketch_table(base: DataFrame, max_res: int) -> DataFrame:
    """(z, tile, n_docs_approx) for every z in 0..``max_res`` from a
    res-``max_res`` sketch table — the pyramid rollup of
    :func:`pyramid_unique_docs_approx`, but starting from persisted /
    merged sketches instead of pages."""
    _PYRAMID_POOL.new_generation()
    cur = _PYRAMID_POOL.add(base.persist())

    def _level(df: DataFrame, z: int) -> DataFrame:
        return df.select(
            F.lit(z).cast("long").alias("z"),
            "tile",
            F.hll_sketch_estimate("sketch").alias("n_docs_approx"),
        )

    levels = [_level(cur, max_res)]
    for z in range(max_res - 1, -1, -1):
        cur = _PYRAMID_POOL.add(
            cur.groupBy(cx.to_parent("tile", z).alias("tile"))
            .agg(F.hll_union_agg("sketch").alias("sketch"))
            .persist()
        )
        levels.append(_level(cur, z))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def smooth_tiles(
    tiles: DataFrame,
    k: int,
    res: int,
    value_col: str = "n_pages",
    cell_col: str = "tile",
) -> DataFrame:
    """k-ring focal smoothing over a tile raster — the sparse spatial
    convolution (hotspot / density smoothing) pass: for every occupied
    tile, the sum and count of ``value_col`` over all occupied tiles
    within lattice Chebyshev distance ``k`` (self included).

    Shape: SCATTER-gather, not probe-join — each tile explodes to its
    (2k+1)^2 neighbor coordinates (a bounded fan-out on the TILE
    relation, which is already aggregated and lattice-bounded, never
    pages-scale), then one map-side-combinable groupBy(cell) and an
    inner join back to the occupied set (tile-scale both sides, AQE
    picks the strategy).  No per-cell disk enumeration on the probe
    side and no all-pairs distance predicate.

    Returns ``tiles``'s columns plus ``neigh_sum`` / ``neigh_cnt``.
    Mirrors h3 grid_disk smoothing; the lattice is the grid encoder's
    (geo.cell_to_ij / geo.ij_to_cell).

    ``tiles`` feeds TWO plan branches (the scatter and the join-back),
    so it is persisted here (pool-bounded) — without it the upstream
    rollup, typically a full pages-scale shuffle, executes once per
    branch (measured 2-3x the whole query at bench scale).
    """
    from .geo import GRID_DIM, _axis_levels, cell_to_ij, ij_to_cell

    _FOCAL_POOL.new_generation()
    tiles = _FOCAL_POOL.add(tiles.persist())
    xl, yl = _axis_levels(res)
    ni, nj = GRID_DIM * 7**xl, GRID_DIM * 7**yl
    pi, pj = cell_to_ij(F.col(cell_col), res)
    # ONE stack generator over the (2k+1)^2 literal offset pairs
    # instead of two chained explode(sequence) generators: no per-row
    # array allocation, one Generate node (measured 2.4s -> 1.2s for
    # the whole smooth at 290k tiles / k=2; same rows out)
    offs = [(di, dj) for di in range(-k, k + 1) for dj in range(-k, k + 1)]
    stack_expr = "stack({n}, {vals}) as (__di, __dj)".format(
        n=len(offs), vals=", ".join(f"{a}L, {b}L" for a, b in offs)
    )
    scat = (
        tiles.select(
            F.col(value_col), pi.alias("__pi"), pj.alias("__pj")
        )
        .select("*", F.expr(stack_expr))
        .select(
            (F.col("__pi") + F.col("__di")).alias("__i"),
            (F.col("__pj") + F.col("__dj")).alias("__j"),
            F.col(value_col),
        )
        .filter(
            (F.col("__i") >= 0) & (F.col("__i") < ni)
            & (F.col("__j") >= 0) & (F.col("__j") < nj)
        )
        .select(
            ij_to_cell(F.col("__i"), F.col("__j"), res).alias(cell_col),
            F.col(value_col),
        )
    )
    g = scat.groupBy(cell_col).agg(
        F.sum(value_col).alias("neigh_sum"),
        F.count("*").alias("neigh_cnt"),
    )
    return tiles.join(g, on=cell_col, how="inner")


def hotspot_tiles(
    tiles: DataFrame,
    k: int,
    res: int,
    value_col: str = "n_pages",
    cell_col: str = "tile",
) -> DataFrame:
    """Getis-Ord-flavored hotspot flag over the k-ring smoothed raster,
    in EXACT integer arithmetic: a tile is hot when its neighborhood
    mean exceeds the global mean, i.e. when
    ``excess_num = n_tiles * neigh_sum - global_sum * neigh_cnt > 0``
    (both means cleared of their denominators — no float z-score, so
    the oracle twin hashes identically; a z-scored variant is a
    downstream float divide if needed).

    Cost on top of :func:`smooth_tiles`: one two-column global agg
    broadcast as a single row (computed from the SAME persisted tile
    relation smooth_tiles pins — a third branch, not a third rollup).
    """
    tiles = tiles.persist()  # adopted by smooth_tiles' pool below
    sm = smooth_tiles(tiles, k, res, value_col, cell_col)
    tot = tiles.agg(
        F.sum(value_col).alias("__gs"), F.count("*").alias("__gn")
    )
    num = (
        F.col("neigh_sum") * F.col("__gn") - F.col("__gs") * F.col("neigh_cnt")
    )
    return sm.crossJoin(F.broadcast(tot)).select(
        cell_col,
        value_col,
        "neigh_sum",
        "neigh_cnt",
        num.alias("excess_num"),
        (num > 0).alias("is_hot"),
    )


def regions_from_geojson(
    spark: SparkSession,
    geojson: "str | dict",
    res: int = REGION_RES,
    name_property: str = "name",
    compact: bool = True,
) -> DataFrame:
    """Load a GeoJSON FeatureCollection (path, JSON string, or parsed
    dict) of Polygon / MultiPolygon features into the region map
    :func:`region_map` builds from the inline REGIONS dict (same build,
    same schema) — the production polygon-source path (any GIS tool
    exports this format).

    Interior rings (holes) are honored: each polygon rasterizes as
    exterior-fill minus its holes' fills (ContainsCentroid on both
    rings — the h3o polyfill semantics the reference tests rely on).
    GeoJSON positions are (lon, lat) — flipped here to the engine's
    (lat, lon).  Region names come from ``properties[name_property]``,
    falling back to the feature ``id`` or its index.  Polygons of one
    MultiPolygon share the feature's name (their cells union under the
    EqCompactor).  Parsing, rasterization and the build run on the
    driver (:func:`_build_regions`): one Spark job per feature would
    turn a 10^4-feature file into hours of job planning.
    """
    import json as _json
    import os as _os

    if isinstance(geojson, str):
        if _os.path.exists(geojson):
            with open(geojson) as fh:
                gj = _json.load(fh)
        else:
            gj = _json.loads(geojson)
    else:
        gj = geojson
    if gj.get("type") != "FeatureCollection":
        raise ValueError(
            f"expected a FeatureCollection, got {gj.get('type')!r}"
        )

    def _open(ring):
        # GeoJSON closes rings (first == last) in (lon, lat); polyfill
        # takes an open vertex list in (lat, lon)
        verts = [(float(lat), float(lon)) for lon, lat in ring]
        if len(verts) > 1 and verts[0] == verts[-1]:
            verts = verts[:-1]
        return verts

    polygons = []
    for idx, feat in enumerate(gj.get("features", [])):
        geom = feat.get("geometry") or {}
        gtype = geom.get("type")
        name = (feat.get("properties") or {}).get(
            name_property, feat.get("id", str(idx))
        )
        if gtype == "Polygon":
            polys = [geom["coordinates"]]
        elif gtype == "MultiPolygon":
            polys = geom["coordinates"]
        else:
            raise ValueError(
                f"feature {name!r}: unsupported geometry {gtype!r}"
            )
        for rings in polys:
            rings = [_open(r) for r in rings]
            if not rings or min(map(len, rings)) < 3:
                raise ValueError(
                    f"feature {name!r}: a polygon ring has fewer than 3 vertices"
                )
            polygons.append((str(name), rings[0], rings[1:]))
    if not polygons:
        raise ValueError("FeatureCollection has no polygon features")
    return _build_regions(spark, polygons, res, compact)


def regions_to_geojson(
    regions: DataFrame,
    res: int = REGION_RES,
    path: "str | None" = None,
    region_col: str = "region",
    cell_col: str = "cell",
) -> dict:
    """Export a region map as a GeoJSON FeatureCollection — one
    MultiPolygon feature per region whose parts are the res-``res``
    cell rectangles (lon-lat, closed rings).  The inverse of
    :func:`regions_from_geojson`: loading the export at the same
    ``res`` reproduces the map cell-for-cell (each rectangle contains
    exactly its own cell's center — ContainsCentroid polyfill maps it
    back to that one cell).

    Driver-side by contract (like the broadcast region build): region
    maps are metadata-scale.  The compacted input is uncompacted to
    ``res`` first so mixed-res maps export uniformly.
    """
    import json as _json

    from . import constants as K
    from .build import uncompact_df
    from .geo import GRID_DIM, _axis_levels, cell_to_ij_np

    import numpy as np

    rows = (
        uncompact_df(regions, res, cell_col=cell_col)
        .select(cell_col, region_col)
        .collect()
    )
    if not rows:
        raise ValueError("empty region map")
    cells = np.array([r[cell_col] for r in rows], dtype=np.int64)
    names = [r[region_col] for r in rows]
    i, j, _ = cell_to_ij_np(cells)
    xl, yl = _axis_levels(res)
    px = 360.0 / (GRID_DIM * 7**xl)
    py = 180.0 / (GRID_DIM * 7**yl)
    xmin = -180.0 + i * px
    ymin = -90.0 + j * py
    by_region: dict[str, list] = {}
    for k in range(len(cells)):
        x0, y0 = float(xmin[k]), float(ymin[k])
        x1, y1 = x0 + px, y0 + py
        ring = [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
        by_region.setdefault(names[k], []).append([ring])
    gj = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"name": name},
                "geometry": {"type": "MultiPolygon", "coordinates": polys},
            }
            for name, polys in sorted(by_region.items())
        ],
    }
    if path is not None:
        with open(path, "w") as fh:
            _json.dump(gj, fh)
    return gj
