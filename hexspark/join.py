"""Containment joins: the engine's lookup operators.

The reference answers one probe at a time by pointer descent
(/root/reference/src/node.rs:83-111).  Here a *column* of probes joins
against a broadcast compacted region table.  Semantics preserved exactly:

* **ancestor hit** — a probe is covered iff some stored leaf is its
  ancestor-or-self; ``get`` returns the *stored* (possibly coarser)
  cell plus its value (/root/reference/src/hex_tree_map.rs:167-190).
* **coarse probe miss** — a probe coarser than every stored leaf under
  it is NOT contained (/root/reference/src/node.rs:93-96).
* **descendants** — the stored leaf covering the probe, or all stored
  leaves under it, in ascending ``lo`` order == reference DFS order
  (/root/reference/src/hex_tree_map.rs:244-261,
  /root/reference/src/disktree/mod.rs:226-230).

One physical form: :func:`get_chained`, one plain broadcast hash join
per resolution present in the region table, results coalesced.  The
probe side stays in whole-stage codegen end to end — no row blowup, no
Python boundary, no shuffle — for shallow and deep (US915, 8 levels)
region maps alike.  :func:`contains` is the same join flagged by a
non-NULL ``stored_cell``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import cells as cx


_RES_SET_MEMO: dict[tuple, list[int]] = {}
_RES_SET_MEMO_CAP = 512


def _plan_fingerprint(df: DataFrame):
    """Fingerprint stable across *rebuilt* DataFrame objects over the
    same source (two ``spark.read.parquet(p)`` calls canonicalize
    identically), so the res-set memo survives per-round plan rebuilds.

    The semantic hash alone is NOT enough: a file relation hashes by
    root path, so overwriting the parquet at the same path would hit a
    stale memo.  Combining in ``inputFiles()`` (the concrete part-file
    names — every Spark write emits fresh UUID names) invalidates on
    overwrite/append.  None when the backing JVM API is unavailable
    (e.g. Spark Connect) — callers then skip the process-wide memo."""
    try:
        sem = df._jdf.queryExecution().analyzed().semanticHash()
        files = df.inputFiles()
    except Exception:
        return None
    return (sem, hash(tuple(sorted(files))))


def region_res_set(region: DataFrame, region_col: str = "cell") -> list[int]:
    """Distinct leaf resolutions in a region table (tiny driver fetch).

    Memoized twice: on the DataFrame object (same-object lookups are
    free), and process-wide by the analyzed plan's semantic hash — so
    callers that rebuild the plan per query (the bench harness does, by
    design) still pay the tiny driver job only once per distinct region
    relation."""
    memo = getattr(region, "_hexspark_res_set", None)
    if isinstance(memo, dict) and region_col in memo:
        return memo[region_col]
    fp = _plan_fingerprint(region)
    key = (fp, region_col)
    if fp is not None and key in _RES_SET_MEMO:
        rs = _RES_SET_MEMO[key]
    else:
        rows = region.select(cx.res(region_col).alias("r")).distinct().collect()
        rs = sorted(int(r["r"]) for r in rows)
        if fp is not None:
            if len(_RES_SET_MEMO) >= _RES_SET_MEMO_CAP:
                _RES_SET_MEMO.clear()
            _RES_SET_MEMO[key] = rs
    try:
        if not isinstance(memo, dict):
            memo = {}
            region._hexspark_res_set = memo
        memo[region_col] = rs
    except AttributeError:  # slotted/frozen DataFrame impls: skip memo
        pass
    return rs


def get_chained(
    probes: DataFrame,
    region: DataFrame,
    probe_col: str = "cell",
    region_col: str = "cell",
    how: str = "inner",
) -> DataFrame:
    """Nearest-ancestor lookup (``get``) as a chain of plain broadcast
    hash joins — one per resolution present in the region table,
    results coalesced.

    Output: probe columns + ``stored_cell`` + the region's value
    columns (a value column named like a probe column replaces it —
    project the region first when that matters).  Compacted leaves are
    pairwise non-related, so at most one of the chained joins matches
    any probe.  NULL and invalid probe cells never match: promotion
    keeps the mode/reserved/base bits, and stored leaves are valid."""
    if how not in ("inner", "left"):
        raise ValueError(f"get_chained: how must be 'inner' or 'left', got {how!r}")
    rs = region_res_set(region, region_col)
    region_cols = [c for c in region.columns if c != region_col]
    out = probes
    for i, r in enumerate(rs):
        reg_r = region.filter(cx.res(region_col) == r).select(
            F.col(region_col).alias(f"__c{i}"),
            *[F.col(c).alias(f"__v{i}_{c}") for c in region_cols],
        )
        out = out.join(
            F.broadcast(reg_r),
            cx.to_parent(F.col(probe_col), r) == F.col(f"__c{i}"),
            "left",
        )
    stored = F.coalesce(*[F.col(f"__c{i}") for i in range(len(rs))]) if rs else F.lit(None).cast("long")
    out = out.withColumn("stored_cell", stored)
    for c in region_cols:
        # empty region table: typed NULLs (F.coalesce() with zero args
        # is an analysis error)
        v = (
            F.coalesce(*[F.col(f"__v{i}_{c}") for i in range(len(rs))])
            if rs
            else F.lit(None).cast(region.schema[c].dataType)
        )
        out = out.withColumn(c, v)
    out = out.drop(*[f"__c{i}" for i in range(len(rs))],
                   *[f"__v{i}_{c}" for i in range(len(rs)) for c in region_cols])
    if how == "inner":
        out = out.filter(F.col("stored_cell").isNotNull())
    return out


def contains(
    probes: DataFrame,
    region: DataFrame,
    probe_col: str = "cell",
    region_col: str = "cell",
    out_col: str = "contained",
) -> DataFrame:
    """Mark each probe row contained or not: a left :func:`get_chained`
    against the region's key column alone, flagged by a non-NULL
    ``stored_cell``."""
    out = get_chained(probes, region.select(region_col), probe_col, region_col, how="left")
    return out.withColumn(out_col, F.col("stored_cell").isNotNull()).drop("stored_cell")


# ---------------------------------------------------------------------------
# subtree scans / aggregation
# ---------------------------------------------------------------------------

def descendants(
    region: DataFrame,
    probe_cell: int,
    region_col: str = "cell",
) -> DataFrame:
    """All stored leaves related to ``probe_cell``: the covering leaf if
    the probe sits at-or-under one, else every stored leaf under the
    probe; ordered by ``lo`` == reference DFS emission order."""
    q = F.lit(int(probe_cell)).cast("long")
    return (
        region.filter(cx.overlaps(F.col(region_col), q))
        .orderBy(cx.lo(region_col))
    )


def _descendants_range(
    region: DataFrame,
    probes: DataFrame,
    region_col: str,
    probe_col: str,
) -> DataFrame:
    """``descendants_join`` as a broadcast nested-loop join on
    subtree-range overlap — O(|region| × |probes|) predicate
    evaluations.  Serves the empty-probe case and is the reference
    the chained form is tested against."""
    p = F.broadcast(
        probes.select(
            F.col(probe_col),
            cx.lo(probe_col).alias("__plo"),
            cx.hi(probe_col).alias("__phi"),
        )
    )
    r = region.withColumn("__rlo", cx.lo(region_col)).withColumn(
        "__rhi", cx.hi(region_col)
    )
    cond = (F.col("__rlo") <= F.col("__phi")) & (F.col("__rhi") >= F.col("__plo"))
    return r.join(p, cond, "inner").drop("__plo", "__phi", "__rlo", "__rhi")


def descendants_join(
    region: DataFrame,
    probes: DataFrame,
    region_col: str = "cell",
    probe_col: str = "probe",
) -> DataFrame:
    """Set-oriented ``descendants``: one output row per (probe, leaf).

    Output carries both keys so callers can aggregate per probe
    (subtree-sum etc.).  ``related(leaf, probe)`` is decomposed by
    resolution into plain **equi-joins** — for each probe res ``p``,
    leaves at-or-below ``p`` match on ``to_parent(leaf, p) == probe``,
    and the covering-leaf case (leaf coarser than probe) matches on
    ``leaf == to_parent(probe, r)`` per coarser region res ``r``.
    Every branch is a BroadcastHashJoin: O(|region|) hash lookups
    total, independent of probe count.
    """
    p_res = region_res_set(probes, probe_col)
    r_res = region_res_set(region, region_col)
    out = None
    for pr in p_res:
        p_r = F.broadcast(probes.filter(cx.res(probe_col) == pr))
        # leaves at-or-below the probe res (probe covers leaf, or ==)
        branches = [
            region.filter(cx.res(region_col) >= pr).join(
                p_r, cx.to_parent(region_col, pr) == F.col(probe_col), "inner"
            )
        ]
        # covering leaf coarser than the probe: one equi-join per
        # coarser region res (disjoint from the branch above)
        for rr in [s for s in r_res if s < pr]:
            branches.append(
                region.filter(cx.res(region_col) == rr).join(
                    F.broadcast(
                        probes.filter(cx.res(probe_col) == pr).withColumn(
                            "__pp", cx.to_parent(probe_col, rr)
                        )
                    ),
                    F.col(region_col) == F.col("__pp"),
                    "inner",
                ).drop("__pp")
            )
        for b in branches:
            out = b if out is None else out.unionByName(b)
    if out is None:  # empty probe table
        return _descendants_range(region, probes, region_col, probe_col)
    return out


def subtree_agg(
    region: DataFrame,
    probes: DataFrame,
    aggs: list,
    region_col: str = "cell",
    probe_col: str = "probe",
) -> DataFrame:
    """Aggregate region values under each probe cell (A5 subtree-sum).

    ``aggs`` are Column aggregate expressions over region columns.
    Equivalent of ``map.descendants(anc).map(|(_, v)| v).sum()``
    (/root/reference/src/iteration.rs:378-399)."""
    return descendants_join(region, probes, region_col, probe_col).groupBy(
        probe_col
    ).agg(*aggs)
