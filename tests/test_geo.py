"""Geometry layer tests: encoder nesting, lattice/k-ring, polyfill, PIP."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hexspark import cells_np as cnp
from hexspark import geo
from hexspark.geo import (
    GRID_DIM, cell_to_ij_np, grid_disk_np, grid_encode, grid_encode_np,
    grid_ring_distance_np, ij_to_cell_np, knn_rings, point_in_polygon_np,
    pip_column, polyfill,
)

RNG = np.random.default_rng(11)
LAT = RNG.uniform(-89, 89, 300)
LON = RNG.uniform(-179, 179, 300)


def test_encoder_nesting_invariant(spark):
    """to_parent(encode(p, r2), r1) == encode(p, r1) — hierarchy holds."""
    for r1, r2 in [(0, 12), (3, 12), (7, 9), (11, 12)]:
        fine = grid_encode_np(LAT, LON, r2)
        coarse = grid_encode_np(LAT, LON, r1)
        promoted = cnp.to_parent(fine, r1)
        assert (promoted == coarse).all(), (r1, r2)
    assert cnp.is_valid(grid_encode_np(LAT, LON, 12)).all()


def test_encoder_spark_numpy_parity(spark):
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(LAT[:50], LON[:50])], "lat: double, lon: double"
    )
    got = [r["c"] for r in df.select(grid_encode(F.col("lat"), F.col("lon"), 12).alias("c")).collect()]
    want = grid_encode_np(LAT[:50], LON[:50], 12)
    assert got == want.tolist()


def test_lattice_roundtrip():
    cells = grid_encode_np(LAT, LON, 9)
    i, j, r = cell_to_ij_np(cells)
    back = ij_to_cell_np(i, j, 9)
    assert (back == cells).all()


def test_cell_to_ij_column_matches_numpy(spark):
    from hexspark.geo import cell_to_ij

    cells = grid_encode_np(LAT[:100], LON[:100], 7)
    want_i, want_j, _ = cell_to_ij_np(cells)
    df = spark.createDataFrame([(int(c),) for c in cells], "cell: long")
    x, y = cell_to_ij(F.col("cell"), 7)
    rows = df.select(x.alias("i"), y.alias("j")).collect()
    assert [r["i"] for r in rows] == want_i.tolist()
    assert [r["j"] for r in rows] == want_j.tolist()


def test_grid_disk_and_ring_distance():
    c = int(grid_encode_np(np.array([10.0]), np.array([20.0]), 6)[0])
    disk1 = grid_disk_np(c, 1)
    assert len(disk1) == 9 and c in disk1.tolist()
    disk2 = grid_disk_np(c, 2)
    assert len(disk2) == 25
    d = grid_ring_distance_np(disk2, np.full(len(disk2), c, dtype=np.int64))
    assert d.max() == 2 and (d == 0).sum() == 1
    # disk respects lattice edges
    edge = int(grid_encode_np(np.array([-89.99]), np.array([-179.99]), 6)[0])
    disk_e = grid_disk_np(edge, 1)
    assert len(disk_e) == 4  # corner cell


def test_knn_rings(spark):
    # concentrate points so k neighbors exist within max_ring
    pts_lat = RNG.uniform(-5, 5, 400)
    pts_lon = RNG.uniform(-5, 5, 400)
    cells = grid_encode_np(pts_lat, pts_lon, 5)
    stored = spark.createDataFrame([(int(c),) for c in np.unique(cells)], "cell: long")
    probe = int(grid_encode_np(np.array([0.0]), np.array([0.0]), 5)[0])
    out = knn_rings(stored, [probe], k=5, max_ring=30)
    rows = out.collect()
    assert len(rows) == 5
    ranks = [r["rank"] for r in rows]
    assert sorted(ranks) == [1, 2, 3, 4, 5]
    # oracle: rings must be the 5 smallest Chebyshev distances
    uniq = np.unique(cells)
    dd = grid_ring_distance_np(uniq, np.full(len(uniq), probe, dtype=np.int64))
    want = np.sort(dd)[:5]
    got = np.sort([r["ring"] for r in rows])
    assert got.tolist() == want.tolist()


def test_knn_rings_probe_table(spark):
    """Probe-DataFrame path: rings generated Spark-side (no driver
    loop) for several probes at once; each probe's result must match
    the numpy Chebyshev oracle."""
    pts_lat = RNG.uniform(-8, 8, 600)
    pts_lon = RNG.uniform(-8, 8, 600)
    cells = np.unique(grid_encode_np(pts_lat, pts_lon, 5))
    stored = spark.createDataFrame([(int(c),) for c in cells], "cell: long")
    probe_pts = [(0.0, 0.0), (3.0, -2.0), (-5.0, 6.0)]
    probes_np = grid_encode_np(
        np.array([p[0] for p in probe_pts]), np.array([p[1] for p in probe_pts]), 5
    )
    probes = spark.createDataFrame([(int(p),) for p in probes_np], "probe: long")
    out = knn_rings(stored, probes, k=4, max_ring=40, res=5)
    rows = out.collect()
    assert len(rows) == 12
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r["probe"], []).append((r["rank"], r["cell"], r["ring"]))
    for p in probes_np:
        dd = grid_ring_distance_np(cells, np.full(len(cells), p, dtype=np.int64))
        order = np.lexsort((cells, dd))
        want = [(rk + 1, int(cells[order[rk]]), int(dd[order[rk]])) for rk in range(4)]
        assert sorted(by_probe[int(p)]) == want, int(p)


def test_knn_rings_large_probe_table_bounded_broadcast(spark):
    """Scale path: >=10^4 probe rows with a wide max_ring must NOT build
    the probes×(2R+1)² disk in one broadcast — the ring-doubling form
    starts at a budget-bounded radius and widens only unresolved probes.
    Results must still equal the Chebyshev oracle exactly."""
    pts_lat = RNG.uniform(-10, 10, 20000)
    pts_lon = RNG.uniform(-10, 10, 20000)
    cells = np.unique(grid_encode_np(pts_lat, pts_lon, 6))
    stored = spark.createDataFrame([(int(c),) for c in cells], "cell: long")
    pr_lat = RNG.uniform(-9, 9, 30000)
    pr_lon = RNG.uniform(-9, 9, 30000)
    uniq_probes = np.unique(grid_encode_np(pr_lat, pr_lon, 6))
    assert len(uniq_probes) >= 10_000
    probes = spark.createDataFrame([(int(p),) for p in uniq_probes], "probe: long")
    # budget 500k rows: single-pass would need >=10^4 × 129² ≈ 10^9 rows
    out = knn_rings(
        stored, probes, k=3, max_ring=64, res=6, broadcast_rows=500_000
    )
    rows = out.collect()
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r["probe"], []).append((r["rank"], r["cell"], r["ring"]))
    assert len(by_probe) == len(uniq_probes)
    # exactness vs the numpy Chebyshev oracle on a deterministic sample
    for p in uniq_probes[:: max(1, len(uniq_probes) // 200)]:
        dd = grid_ring_distance_np(cells, np.full(len(cells), p, dtype=np.int64))
        order = np.lexsort((cells, dd))
        want = [(rk + 1, int(cells[order[rk]]), int(dd[order[rk]])) for rk in range(3)]
        assert sorted(by_probe[int(p)]) == want, int(p)


def test_knn_rings_empty_and_mixed_res_probes(spark):
    stored = spark.createDataFrame([(int(c),) for c in grid_encode_np(LAT[:20], LON[:20], 5)], "cell: long")
    empty = spark.createDataFrame([], "probe: long")
    out = knn_rings(stored, empty, k=3, max_ring=10)
    assert out.count() == 0
    assert out.columns == ["probe", "rank", "cell", "ring"]
    c5 = int(grid_encode_np(np.array([0.0]), np.array([0.0]), 5)[0])
    c7 = int(grid_encode_np(np.array([0.0]), np.array([0.0]), 7)[0])
    mixed = spark.createDataFrame([(c5,), (c7,)], "probe: long")
    with pytest.raises(ValueError, match="mixed probe resolutions"):
        knn_rings(stored, mixed, k=3, max_ring=10)
    with pytest.raises(ValueError, match="!= declared res"):
        knn_rings(stored, mixed.filter(F.col("probe") == c7), k=3, max_ring=10, res=5)


def test_ij_to_cell_column_matches_numpy(spark):
    from hexspark.geo import ij_to_cell

    cells = grid_encode_np(LAT[:100], LON[:100], 7)
    i, j, _ = cell_to_ij_np(cells)
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(i, j)], "i: long, j: long"
    )
    got = [r["c"] for r in df.select(ij_to_cell(F.col("i"), F.col("j"), 7).alias("c")).collect()]
    assert got == cells.tolist()


def test_knn_pruned_vs_exact(spark):
    """Cell-pruned kNN == exact kNN when the k nearest share the
    anchor's coarse cell (the design contract of the scale path)."""
    from hexspark.geo import knn_join, knn_join_pruned

    pts_lat = RNG.uniform(30.0, 33.0, 500)
    pts_lon = RNG.uniform(40.0, 43.0, 500)
    cells = grid_encode_np(pts_lat, pts_lon, 12)
    points = spark.createDataFrame(
        [(i, float(a), float(b), int(c)) for i, (a, b, c) in enumerate(zip(pts_lat, pts_lon, cells))],
        "pid: long, lat: double, lon: double, cell: long",
    )
    acell = grid_encode_np(np.array([31.5]), np.array([41.5]), 12)
    anchors = spark.createDataFrame(
        [(0, 31.5, 41.5, int(acell[0]))], "anchor_id: long, alat: double, alon: double, acell: long"
    )
    exact = {
        (r["anchor_id"], r["pid"], r["rank"])
        for r in knn_join(points, anchors, 5).select("anchor_id", "pid", "rank").collect()
    }
    pruned = {
        (r["anchor_id"], r["pid"], r["rank"])
        for r in knn_join_pruned(points, anchors, 5, prune_res=1)
        .select("anchor_id", "pid", "rank").collect()
    }
    assert pruned == exact  # everything shares the res-1 coarse cell here


def _flat_polyfill(poly, res, holes=()):
    """The flat ContainsCentroid enumeration: every lattice centre in
    the bbox, PIP-filtered and encoded, minus each hole's own fill."""
    from hexspark.geo import polyfill_grid

    px, py, lat0, lon0, nx, ny = polyfill_grid(poly, res)
    ii = np.arange(nx * ny, dtype=np.int64)
    lat = lat0 + (ii // nx + 0.5) * py
    lon = lon0 + (ii % nx + 0.5) * px
    keep = point_in_polygon_np(lat, lon, poly)
    cells = np.unique(grid_encode_np(lat[keep], lon[keep], res))
    for hole in holes:
        cells = np.setdiff1d(cells, _flat_polyfill(hole, res), assume_unique=True)
    return cells


_RECT = [(10.0, 10.0), (20.0, 10.0), (20.0, 25.0), (10.0, 25.0)]
_COUNTRY = [(30.0, -10.0), (45.0, -5.0), (44.0, 15.0), (32.0, 12.0)]
_DONUT = [(10.0, 20.0), (10.0, 30.0), (20.0, 30.0), (20.0, 20.0)]
_DONUT_HOLE = [(13.0, 23.0), (13.0, 27.0), (17.0, 27.0), (17.0, 23.0)]
_SPECK = [(10.0, 20.0), (10.0, 20.01), (10.01, 20.0)]


def _polyfill_cases():
    """(label, exterior, res, holes): the inline regions at res 2-6,
    shapes at the lattice's edges (antimeridian, south pole), fine-res
    specks, a donut, a whole-continent res-0 fill and a 0-cell fill."""
    from hexspark.ops import REGIONS

    cases = [(n, p, r, ()) for n, p in REGIONS.items() for r in range(2, 7)]
    cases += [
        ("rect", _RECT, 4, ()), ("rect", _RECT, 6, ()),
        ("country", _COUNTRY, 5, ()), ("country", _COUNTRY, 7, ()),
        ("lon170-180", [(0.0, 170.0), (10.0, 170.0), (10.0, 180.0), (0.0, 180.0)], 5, ()),
        ("south-pole", [(-89.0, -180.0), (-80.0, -170.0), (-85.0, -160.0)], 5, ()),
        ("speck", _SPECK, 11, ()), ("speck", _SPECK, 12, ()),
        ("donut", _DONUT, 4, (_DONUT_HOLE,)), ("donut", _DONUT, 6, (_DONUT_HOLE,)),
        ("continent", [(-60.0, -150.0), (60.0, -150.0), (60.0, 150.0), (-60.0, 150.0)], 0, ()),
        ("tiny", [(10.0, 20.0), (10.0, 20.001), (10.001, 20.0)], 15, ()),
        ("speck-empty", _SPECK, 3, ()),
    ]
    return cases


def test_polyfill_np_matches_flat_enumeration():
    """The coarse-to-fine numpy fill equals the flat enumeration
    cell-for-cell, sorted, every cell at ``res``."""
    from hexspark.geo import polyfill_np

    nonempty = 0
    for label, poly, res, holes in _polyfill_cases():
        got = polyfill_np(poly, res, holes=holes)
        want = _flat_polyfill(poly, res, holes)
        assert np.array_equal(got, want), (label, res, len(got), len(want))
        assert (cnp.res(got) == res).all(), (label, res)
        nonempty += len(want) > 0
    assert nonempty == len(_polyfill_cases()) - 1  # only the speck at res 3 is empty


def test_polyfill_matches_flat_enumeration(spark):
    """The Spark polyfill (driver cover, distributed expansion) equals
    the flat enumeration cell-for-cell: no duplicate rows, every cell
    at ``res``, and one nullable long ``cell`` column."""
    for label, poly, res, holes in _polyfill_cases():
        df = polyfill(spark, poly, res, holes=holes)
        assert [(f.name, f.dataType, f.nullable) for f in df.schema] == [
            ("cell", T.LongType(), True)
        ]
        got = df.toArrow().column("cell").to_numpy()
        assert len(np.unique(got)) == len(got), (label, res)
        assert (cnp.res(got) == res).all(), (label, res)
        want = _flat_polyfill(poly, res, holes)
        assert np.array_equal(np.sort(got), want), (label, res, len(got), len(want))


def test_polyfill_builds_without_spark_jobs(spark):
    """Building a country-scale res-7 polyfill launches no Spark job:
    the driver computes the cover, and the plan starts from its
    Arrow-built LocalTableScan."""
    sc = spark.sparkContext
    group = "polyfill-build"
    sc.setJobGroup(group, "polyfill build")
    try:
        df = polyfill(spark, _COUNTRY, 7)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert "Range" not in plan, plan


def test_polyfill_fine_res_bounded(spark):
    """A res-8 polyfill of a country-scale polygon (the flat bbox would
    enumerate ~10^7 centres; the cover is boundary-scale) covers
    interior points and leaves exterior points out."""
    poly = [(30.0, -10.0), (45.0, -5.0), (44.0, 15.0), (32.0, 12.0)]
    res = 8
    out = polyfill(spark, poly, res).cache()
    n = out.count()
    assert n > 30000
    cells = np.array([r["cell"] for r in out.collect()], dtype=np.int64)
    assert (cnp.res(cells) == res).all()
    sl = RNG.uniform(35, 42, 50)
    sn = RNG.uniform(-2, 8, 50)
    assert np.isin(grid_encode_np(sl, sn, res), cells).all()  # interior
    xl_ = RNG.uniform(-60, -40, 50)
    xn = RNG.uniform(100, 140, 50)
    assert not np.isin(grid_encode_np(xl_, xn, res), cells).any()  # exterior
    out.unpersist()


def test_pip_numpy_vs_column(spark):
    poly = [(25.0, -100.0), (40.0, -95.0), (38.0, -80.0), (28.0, -78.0), (22.0, -90.0)]
    want = point_in_polygon_np(LAT, LON, poly)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(LAT, LON)], "lat: double, lon: double"
    )
    got = [r["p"] for r in df.select(pip_column(F.col("lat"), F.col("lon"), poly).alias("p")).collect()]
    assert got == want.tolist()
    assert 0 < sum(got) < len(got)


def test_polyfill_covers_polygon(spark):
    poly = [(10.0, 10.0), (20.0, 10.0), (20.0, 25.0), (10.0, 25.0)]
    cells = polyfill(spark, poly, 4)
    n = cells.count()
    assert n > 50
    got = np.array([r["cell"] for r in cells.collect()], dtype=np.int64)
    assert cnp.is_valid(got).all()
    assert (cnp.res(got) == 4).all()
    # every interior sample point's res-4 cell is in the polyfill
    sl = RNG.uniform(11, 19, 200)
    sn = RNG.uniform(11, 24, 200)
    sample_cells = grid_encode_np(sl, sn, 4)
    assert np.isin(sample_cells, got).all()


def test_cachepool_generations(spark):
    """CachePool keeps current+previous generation and retires older
    ones (the bounded-leak contract behind knn/LSH persists)."""
    from hexspark.cachepool import CachePool

    pool = CachePool()
    dfs = []
    for gen in range(3):
        pool.new_generation()
        # distinct plan per generation — identical plans share one
        # CacheManager entry and would mask the retire
        df = spark.range(10 + gen).persist()
        df.count()
        pool.add(df)
        dfs.append(df)
    # generation 0 retired (unpersist is async — storage level cleared)
    assert dfs[0].storageLevel.useMemory is False
    assert dfs[2].storageLevel.useMemory is True
    pool.clear()
    assert dfs[2].storageLevel.useMemory is False


def test_digits_array_golden_and_center_roundtrip(spark):
    """C7 Digits iterator parity: the documentation-example cell
    0x85283473fffffff yields digits [0,6,4,3,4]
    (/root/reference/src/digits.rs:44-52); grid_cell_center is the
    exact inverse of grid_encode at every res."""
    from hexspark import cells as cxx
    from hexspark.geo import grid_cell_center

    df = spark.createDataFrame([(0x85283473FFFFFFF,)], "cell: long")
    got = df.select(cxx.digits_array("cell").alias("d")).first()["d"]
    assert got == [0, 6, 4, 3, 4]
    # res-0 cell: empty digit list
    base_only = df.select(
        cxx.digits_array(cxx.to_parent("cell", 0)).alias("d")
    ).first()["d"]
    assert base_only == []
    # center → re-encode roundtrip across resolutions
    for r in (0, 3, 7, 12):
        cells = grid_encode_np(LAT[:40], LON[:40], r)
        for c in cells[:10]:
            lat, lon = grid_cell_center(int(c))
            assert int(grid_encode_np(np.array([lat]), np.array([lon]), r)[0]) == int(c)


def test_knn_join_haversine_metric(spark):
    """The haversine metric path: golden great-circle distance (1° of
    longitude at the equator ≈ 111.195 km) and a ranked kNN run."""
    from hexspark.geo import haversine_km, knn_join

    one_deg = spark.createDataFrame([(0.0, 0.0, 0.0, 1.0)], "a: double, b: double, c: double, d: double")
    km = one_deg.select(
        haversine_km(F.col("a"), F.col("b"), F.col("c"), F.col("d")).alias("km")
    ).first()["km"]
    assert abs(km - 111.195) < 0.01
    pts = spark.createDataFrame(
        [(float(la), float(lo)) for la, lo in zip(LAT[:100], LON[:100])],
        "lat: double, lon: double",
    )
    anchors = spark.createDataFrame(
        [(1, 10.0, 20.0)], "anchor_id: long, alat: double, alon: double"
    )
    out = knn_join(pts, anchors, 5, metric="haversine").collect()
    assert len(out) == 5
    dists = [r["dist"] for r in sorted(out, key=lambda r: r["rank"])]
    assert dists == sorted(dists) and all(d >= 0 for d in dists)


# ---------------------------------------------------------------------------
# distance (epsilon/radius) join
# ---------------------------------------------------------------------------

def _dj_points(spark, n):
    from hexspark import synth

    return spark.range(n).select(
        F.col("id").alias("k"), *synth.latlon_from_key(F.col("id"))
    )


def _dj_brute(probes, points, radius):
    from hexspark.geo import sq_dist

    return (
        probes.crossJoin(
            points.select(
                F.col("k").alias("point"),
                F.col("lat").alias("qlat"),
                F.col("lon").alias("qlon"),
            )
        )
        .withColumn(
            "dist", sq_dist(F.col("plat"), F.col("plon"), F.col("qlat"), F.col("qlon"))
        )
        .filter(F.col("dist") <= radius * radius)
        .select("probe", "point", "dist")
    )


def test_distance_join_vs_brute(spark):
    from hexspark.geo import distance_join, distance_join_res

    pts = _dj_points(spark, 2500)
    probes = pts.filter(F.col("k") % 80 == 0).select(
        F.col("k").alias("probe"), F.col("lat").alias("plat"), F.col("lon").alias("plon")
    )
    # (auto-res 3x3 stencil, forced-coarse widened stencil, res-0 wide radius)
    for radius, res in [(2.5, None), (2.5, 2), (25.0, None)]:
        got = distance_join(
            probes, pts, radius, probe_key="probe", point_key="k",
            probe_cols=("plat", "plon"), point_cols=("lat", "lon"), res=res,
        )
        g = set(map(tuple, got.collect()))
        b = set(map(tuple, _dj_brute(probes, pts, radius).collect()))
        assert g == b and len(b) > 0
    assert distance_join_res(0.3) == 4  # min axis width at res 4: 0.334 deg


def test_distance_join_antimeridian_wrap(spark):
    """wrap_lon=True pairs Pacific points across ±180°: stencil indices
    wrap modulo ni and the refine takes Δlon the short way around.
    Flat mode (the default/oracle form) must NOT pair across the seam."""
    from hexspark.geo import distance_join, sq_dist_wrapped

    rows = [
        (1, 10.0, 179.5), (2, 10.0, -179.6),   # 0.9° apart across seam
        (3, 10.0, 178.0), (4, -40.0, -178.5),  # far in lat
        (5, 10.5, -179.9),                     # near 1 and 2
        (6, 10.0, 0.0),                        # opposite side of globe
    ]
    pts = spark.createDataFrame(rows, "k: long, lat: double, lon: double")
    probes = pts.select(
        F.col("k").alias("probe"), F.col("lat").alias("plat"),
        F.col("lon").alias("plon"),
    )
    kw = dict(probe_key="probe", point_key="k",
              probe_cols=("plat", "plon"), point_cols=("lat", "lon"))
    wrapped = distance_join(probes, pts, 2.0, wrap_lon=True, **kw)
    g = set(map(tuple, wrapped.select("probe", "k").collect()))
    # brute force with the wrapped metric
    brute = (
        probes.crossJoin(pts)
        .withColumn("d", sq_dist_wrapped(
            F.col("plat"), F.col("plon"), F.col("lat"), F.col("lon")))
        .filter(F.col("d") <= 4.0)
        .select("probe", "k")
    )
    b = set(map(tuple, brute.collect()))
    assert g == b
    assert (1, 2) in g and (2, 1) in g      # the seam pair is found
    flat = distance_join(probes, pts, 2.0, **kw)
    f = set(map(tuple, flat.select("probe", "k").collect()))
    assert (1, 2) not in f                  # flat mode: seam not crossed
    assert all(p == q for p, q in f - g) or f - g == set()


def test_distance_join_shuffle_branch_and_plan(spark):
    from hexspark.geo import distance_join

    pts = _dj_points(spark, 1200)
    probes = pts.filter(F.col("k") % 60 == 0).select(
        F.col("k").alias("probe"), F.col("lat").alias("plat"), F.col("lon").alias("plon")
    )
    bc = distance_join(
        probes, pts, 3.0, probe_key="probe", point_key="k",
        probe_cols=("plat", "plon"), point_cols=("lat", "lon"),
    )
    # points side must not shuffle when the stencil broadcasts
    assert "BroadcastHashJoin" in bc._jdf.queryExecution().executedPlan().toString()
    sh = distance_join(
        probes, pts, 3.0, probe_key="probe", point_key="k",
        probe_cols=("plat", "plon"), point_cols=("lat", "lon"), broadcast_rows=1,
    )
    assert set(map(tuple, bc.collect())) == set(map(tuple, sh.collect()))


def test_distance_join_self_pairs_once(spark):
    from hexspark.geo import distance_join, sq_dist

    pts = _dj_points(spark, 500).select(F.col("k").alias("page"), "lat", "lon")
    got = distance_join(
        pts, pts, 12.0, probe_key="page", point_key="page", pairs_once=True
    )
    assert got.columns == ["page_l", "page_r", "dist"]
    brute = (
        pts.crossJoin(
            pts.select(
                F.col("page").alias("page_r"),
                F.col("lat").alias("lat2"),
                F.col("lon").alias("lon2"),
            )
        )
        .withColumn("dist", sq_dist(F.col("lat"), F.col("lon"), F.col("lat2"), F.col("lon2")))
        .filter((F.col("dist") <= 144.0) & (F.col("page") < F.col("page_r")))
        .select(F.col("page").alias("page_l"), "page_r", "dist")
    )
    g = set(map(tuple, got.collect()))
    b = set(map(tuple, brute.collect()))
    assert g == b and len(b) > 0


def test_smooth_tiles_planted(spark):
    """3 occupied tiles: two lattice-adjacent, one isolated — the
    adjacent pair see each other in their 1-ring, the isolated tile
    sees only itself."""
    from hexspark.geo import grid_encode, ij_to_cell
    from hexspark.ops import smooth_tiles

    res = 4
    # build three tiles straight from lattice coords
    base = spark.range(1).select(
        ij_to_cell(F.lit(100), F.lit(200), res).alias("a"),
        ij_to_cell(F.lit(101), F.lit(200), res).alias("b"),
        ij_to_cell(F.lit(300), F.lit(400), res).alias("c"),
    ).collect()[0]
    tiles = spark.createDataFrame(
        [(base["a"], 10), (base["b"], 7), (base["c"], 5)],
        ["tile", "n_pages"],
    )
    got = {r["tile"]: r for r in smooth_tiles(tiles, k=1, res=res).collect()}
    assert got[base["a"]]["neigh_sum"] == 17 and got[base["a"]]["neigh_cnt"] == 2
    assert got[base["b"]]["neigh_sum"] == 17 and got[base["b"]]["neigh_cnt"] == 2
    assert got[base["c"]]["neigh_sum"] == 5 and got[base["c"]]["neigh_cnt"] == 1
    # k=0 degenerates to self only
    k0 = {r["tile"]: r for r in smooth_tiles(tiles, k=0, res=res).collect()}
    assert all(k0[t]["neigh_sum"] == v for t, v in
               [(base["a"], 10), (base["b"], 7), (base["c"], 5)])


def test_hotspot_tiles_planted(spark):
    """A dense pair of adjacent tiles is hot; an isolated sparse tile
    is not; the excess numerator is the exact integer
    n_tiles*neigh_sum - global_sum*neigh_cnt."""
    from hexspark.geo import ij_to_cell
    from hexspark.ops import hotspot_tiles

    res = 4
    base = spark.range(1).select(
        ij_to_cell(F.lit(100), F.lit(200), res).alias("a"),
        ij_to_cell(F.lit(101), F.lit(200), res).alias("b"),
        ij_to_cell(F.lit(300), F.lit(400), res).alias("c"),
    ).collect()[0]
    tiles = spark.createDataFrame(
        [(base["a"], 50), (base["b"], 40), (base["c"], 3)],
        ["tile", "n_pages"],
    )
    got = {r["tile"]: r for r in hotspot_tiles(tiles, k=1, res=res).collect()}
    # global sum 93 over 3 tiles; a/b neighborhoods sum 90 over 2 tiles
    assert got[base["a"]]["excess_num"] == 90 * 3 - 93 * 2
    assert got[base["a"]]["is_hot"] and got[base["b"]]["is_hot"]
    # c: 3*3 - 93*1 < 0
    assert got[base["c"]]["excess_num"] == 9 - 93 and not got[base["c"]]["is_hot"]


def test_regions_from_geojson(spark, tmp_path):
    """A FeatureCollection (Polygon + MultiPolygon, closed lon-lat
    rings) loads into the same compacted region map the inline dict
    produces; non-collections raise (holes are honored — see
    test_regions_from_geojson_with_holes)."""
    import json

    import pytest as _pytest

    from hexspark.build import build_region
    from hexspark.geo import polyfill
    from hexspark.ops import REGIONS, regions_from_geojson

    def ring(poly):  # engine (lat, lon) -> closed geojson (lon, lat)
        r = [[lon, lat] for lat, lon in poly]
        return r + [r[0]]

    gj = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"name": "alpha"},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [ring(REGIONS["alpha"])],
                },
            },
            {
                "type": "Feature",
                "properties": {"name": "beta"},
                "geometry": {
                    "type": "MultiPolygon",
                    "coordinates": [[ring(REGIONS["beta"])]],
                },
            },
        ],
    }
    p = tmp_path / "regions.geojson"
    p.write_text(json.dumps(gj))
    got = regions_from_geojson(spark, str(p), res=4).collect()

    parts = [
        polyfill(spark, REGIONS[n], 4).withColumn("region", F.lit(n))
        for n in ("alpha", "beta")
    ]
    want = build_region(
        parts[0].unionByName(parts[1]), value_col="region", compactor="eq"
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    with _pytest.raises(ValueError, match="FeatureCollection"):
        regions_from_geojson(spark, {"type": "Feature"}, res=4)


def test_empty_region_map_is_a_local_relation(spark):
    """A polygon too small to hold a res-3 cell centroid fills 0 cells:
    the map is empty, keeps the region schema, and is an Arrow-built
    LocalTableScan — not the Python-list ``Scan ExistingRDD`` an empty
    pandas frame would plan."""
    from hexspark.geo import polyfill_np
    from hexspark.ops import _REGION_SCHEMA, regions_from_geojson

    tri = [(10.0, 20.0), (10.0, 20.01), (10.01, 20.0)]
    assert len(polyfill_np(tri, 3)) == 0
    gj = {
        "type": "FeatureCollection",
        "features": [{
            "type": "Feature",
            "properties": {"name": "speck"},
            "geometry": {
                "type": "Polygon",
                "coordinates": [[[lon, lat] for lat, lon in tri + tri[:1]]],
            },
        }],
    }
    df = regions_from_geojson(spark, gj, res=3)
    assert df.schema == _REGION_SCHEMA
    assert df.count() == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_polyfill_holes(spark):
    """Donut fill: exterior minus interior ring, ContainsCentroid on
    both.  Cells whose centroid falls inside the hole are excluded,
    ring cells kept, and numpy == distributed == exterior-minus-hole
    set difference."""
    import numpy as np

    from hexspark.geo import (
        grid_encode_np, point_in_polygon_np, polyfill, polyfill_np,
    )

    res = 6
    ext = [(10.0, 20.0), (10.0, 30.0), (20.0, 30.0), (20.0, 20.0)]
    hole = [(13.0, 23.0), (13.0, 27.0), (17.0, 27.0), (17.0, 23.0)]
    full = polyfill_np(ext, res)
    hole_fill = polyfill_np(hole, res)
    donut = polyfill_np(ext, res, holes=[hole])
    assert sorted(donut) == sorted(np.setdiff1d(full, hole_fill))
    assert 0 < len(donut) < len(full)
    # a point deep in the hole maps to a cell NOT in the donut; a point
    # in the ring area maps to a cell in it
    hole_cell = int(grid_encode_np(np.array([15.0]), np.array([25.0]), res)[0])
    ring_cell = int(grid_encode_np(np.array([11.0]), np.array([21.0]), res)[0])
    assert hole_cell not in set(int(c) for c in donut)
    assert ring_cell in set(int(c) for c in donut)
    # distributed form agrees cell-for-cell
    dist = sorted(
        r["cell"] for r in polyfill(spark, ext, res, holes=[hole]).collect()
    )
    assert dist == sorted(int(c) for c in donut)


def test_regions_from_geojson_with_holes(spark):
    """A holed Polygon feature loads as exterior-fill minus hole-fill
    (h3o polyfill semantics)."""
    from hexspark.geo import polyfill_np
    from hexspark.ops import regions_from_geojson

    def ring(poly):
        r = [[lon, lat] for lat, lon in poly]
        return r + [r[0]]

    ext = [(10.0, 20.0), (10.0, 30.0), (20.0, 30.0), (20.0, 20.0)]
    hole = [(13.0, 23.0), (13.0, 27.0), (17.0, 27.0), (17.0, 23.0)]
    gj = {
        "type": "FeatureCollection",
        "features": [{
            "type": "Feature",
            "properties": {"name": "donut"},
            "geometry": {
                "type": "Polygon",
                "coordinates": [ring(ext), ring(hole)],
            },
        }],
    }
    got = regions_from_geojson(spark, gj, res=6, compact=False).collect()
    want = sorted(int(c) for c in polyfill_np(ext, 6, holes=[hole]))
    assert sorted(r["cell"] for r in got) == want
    assert {r["region"] for r in got} == {"donut"}


def test_regions_from_geojson_rejects_degenerate_rings(spark):
    """A ring with fewer than 3 vertices once its closing vertex is
    dropped — exterior or hole, empty included — raises a ValueError
    naming the feature, instead of an anonymous ``min()`` error or a
    region that silently fills 0 cells."""
    from hexspark.ops import regions_from_geojson

    ext = [[20.0, 10.0], [30.0, 10.0], [30.0, 20.0], [20.0, 20.0], [20.0, 10.0]]
    two = [[23.0, 13.0], [27.0, 17.0], [23.0, 13.0]]
    for rings in ([[]], [two], [ext, two], [ext, []]):
        gj = {"type": "FeatureCollection", "features": [{
            "type": "Feature", "properties": {"name": "sliver"},
            "geometry": {"type": "Polygon", "coordinates": rings},
        }]}
        with pytest.raises(ValueError, match="feature 'sliver'.*fewer than 3"):
            regions_from_geojson(spark, gj, res=4)


def test_regions_geojson_roundtrip(spark, tmp_path):
    """Export -> load at the same res reproduces the compacted region
    map cell-for-cell (each exported rectangle polyfills back to
    exactly its own cell)."""
    from hexspark.ops import (
        region_map, regions_from_geojson, regions_to_geojson,
    )

    orig = region_map(spark, res=4)
    p = tmp_path / "export.geojson"
    gj = regions_to_geojson(orig, res=4, path=str(p))
    assert {f["properties"]["name"] for f in gj["features"]} == {
        "alpha", "beta", "gamma"
    }
    back = regions_from_geojson(spark, str(p), res=4)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, orig.collect())
    )


def _distributed_region_map(spark, res, compact=True):
    """The reference build: distributed polyfill per inline polygon,
    then the distributed :func:`build.build_region`."""
    from hexspark.build import build_region
    from hexspark.ops import REGIONS

    parts = [
        polyfill(spark, poly, res).withColumn("region", F.lit(name))
        for name, poly in REGIONS.items()
    ]
    df = parts[0].unionByName(parts[1]).unionByName(parts[2])
    if not compact:
        return df
    return build_region(df, value_col="region", compactor="eq")


def _assert_same_map(spark, got, res, compact):
    """Rows equal the distributed build's; the schema is the polyfill
    union's for compacted and raw maps alike (build_region's groupBy
    would report ``region`` nullable)."""
    want = _distributed_region_map(spark, res, compact)
    assert got.schema == _distributed_region_map(spark, res, False).schema
    assert [(f.name, f.dataType, f.nullable) for f in got.schema] == [
        ("cell", T.LongType(), True), ("region", T.StringType(), False)
    ]
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


@pytest.mark.parametrize("res,compact", [(3, True), (4, True), (5, True), (4, False)])
def test_region_map_equals_distributed_build(spark, res, compact):
    """The driver-side region map (numpy polyfill + numpy build) has the
    rows and schema (nullability included) of the distributed build."""
    from hexspark import ops

    got = ops.region_map(spark, res=res, compact=compact)
    _assert_same_map(spark, got, res, compact)
    if res == 4 and compact:
        assert got.count() == 861


def test_region_map_builds_without_spark_jobs(spark):
    """Building a region map — inline REGIONS or GeoJSON, compacted or
    not — launches no Spark job; using it does."""
    from hexspark import ops

    def ring(poly):
        r = [[lon, lat] for lat, lon in poly]
        return r + [r[0]]

    gj = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "properties": {"name": n},
         "geometry": {"type": "Polygon", "coordinates": [ring(p)]}}
        for n, p in ops.REGIONS.items()
    ]}
    sc = spark.sparkContext
    group = "region-map-build"
    sc.setJobGroup(group, "region map build")
    try:
        maps = [
            ops.region_map(spark),
            ops.region_map(spark, res=5, compact=False),
            ops.regions_from_geojson(spark, gj, res=4),
        ]
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        # the guard can see jobs: the first use of a map runs one
        assert maps[0].count() == 861
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_trace_cells_planted(spark):
    """A purely horizontal segment traverses a contiguous run of
    lattice cells in order; a degenerate (point) segment yields its
    single cell at step 0; traces are connected (no gaps)."""
    import numpy as np

    from hexspark.geo import cell_to_ij_np, trace_cells

    res = 4
    segs = spark.createDataFrame(
        [
            (1, 10.0, 20.0, 10.0, 21.5),   # horizontal run
            (2, -30.0, 5.0, -30.0, 5.0),   # degenerate point
            (3, 40.0, -100.0, 41.0, -99.0),  # diagonal
        ],
        ["seg_id", "lat1", "lon1", "lat2", "lon2"],
    )
    rows = trace_cells(segs, res).collect()
    by_seg = {}
    for r in rows:
        by_seg.setdefault(r["seg_id"], []).append((r["step"], r["cell"]))
    assert len(by_seg[2]) == 1 and by_seg[2][0][0] == 0
    # horizontal: ordered by step, i strictly increasing, j constant,
    # i advancing by exactly 1 (connected, no gaps, no diagonal jumps)
    cells1 = [c for _, c in sorted(by_seg[1])]
    i, j, _ = cell_to_ij_np(np.array(cells1, dtype=np.int64))
    assert len(set(j.tolist())) == 1
    assert i.tolist() == list(range(i[0], i[0] + len(cells1)))
    # diagonal: consecutive cells are 8-connected (Chebyshev step <= 1)
    cells3 = [c for _, c in sorted(by_seg[3])]
    i3, j3, _ = cell_to_ij_np(np.array(cells3, dtype=np.int64))
    for a in range(1, len(cells3)):
        assert max(abs(i3[a] - i3[a - 1]), abs(j3[a] - j3[a - 1])) <= 1
