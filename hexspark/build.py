"""Region-table construction: batch insert semantics + compaction.

Reimplements the reference tree-build semantics
(/root/reference/src/node.rs:23-73, /root/reference/src/compaction.rs:29-72)
as set-oriented DataFrame transformations:

1. **validate** — invalid raw indices quarantine to a side DataFrame
   (the analogue of ``Error::Index``).
2. **dedupe** — multiple values for the same exact cell resolve by a
   *declared deterministic policy* (the reference's sequential
   ``insert`` is order-dependent: last write wins at a leaf,
   /root/reference/src/node.rs:34).
3. **ancestor-wins** — a cell whose strict ancestor is also in the
   input is dropped (inserting into a covered subtree is a no-op,
   /root/reference/src/node.rs:35-38; inserting the ancestor later
   replaces the subtree — batch form: the coarsest related cell wins).
4. **compact** — bottom-up fixpoint: a parent with *all 7* children
   present (Set) / present-and-equal (Eq) replaces them
   (/root/reference/src/node.rs:54-73).  Note this is the reference's
   own rule, NOT H3 ``compactCells``: pentagon parents (6 real
   children) never compact, exactly like the reference.

Scale shape: region tables are broadcast-scale (≤ millions of rows —
continent-size regions compact to tens of thousands,
/root/reference/README.md:29-31).  Ancestor-wins is a single
window-function pass over ``lo``-sorted cells (no explode, no
self-join); compaction is ONE shuffle — ``groupBy(base_cell)`` +
``applyInPandas`` running a vectorized numpy fixpoint per base (the
122 root slots, /root/reference/src/hex_tree_map.rs:66-71, are a
natural partitioning: compaction never crosses a base boundary).
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import cells as cx
from . import cells_np as cnp
from . import constants as K
from .cachepool import CachePool

_BUILD_POOL = CachePool()

VALUE_POLICIES = ("min", "max", "count", "sum", "any")


def validate_cells(df: DataFrame, cell_col: str = "cell") -> tuple[DataFrame, DataFrame]:
    """Split into (valid, quarantine) on ``Cell::from_raw`` rules.

    NULL cells are invalid (quarantined): a bare ``filter(~ok)`` would
    evaluate NULL and drop such rows from *both* outputs, undercounting
    ``quarantined_rows`` in checkpoint manifests."""
    ok = F.coalesce(cx.is_valid(cell_col), F.lit(False))
    return df.filter(ok), df.filter(~ok)


def dedupe_cells(
    df: DataFrame,
    cell_col: str = "cell",
    value_col: Optional[str] = None,
    policy: str = "min",
) -> DataFrame:
    """Resolve duplicate exact cells with a deterministic value policy."""
    if value_col is None:
        return df.select(cell_col).distinct()
    if policy not in VALUE_POLICIES:
        raise ValueError(f"policy must be one of {VALUE_POLICIES}")
    agg = {
        "min": F.min,
        "max": F.max,
        "count": F.count,
        "sum": F.sum,
        "any": F.first,
    }[policy]
    return df.groupBy(cell_col).agg(agg(value_col).alias(value_col))


def _drop_covered_window(df: DataFrame, cell_col: str, part_expr) -> DataFrame:
    """One ancestor-wins window pass partitioned by ``part_expr``:
    sorted by (lo asc, res asc), every possible ancestor of a row *in
    the same partition* precedes it, so the row is covered iff the
    running max of ``hi`` over preceding rows reaches its own ``hi``.
    No explode, no self-join."""
    w = (
        Window.partitionBy(part_expr)
        .orderBy(F.col("__lo").asc(), F.col("__res").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.withColumn("__lo", cx.lo(cell_col))
        .withColumn("__hi", cx.hi(cell_col))
        .withColumn("__res", cx.res(cell_col))
        .withColumn("__maxhi", F.max("__hi").over(w))
        .filter(F.col("__maxhi").isNull() | (F.col("__maxhi") < F.col("__hi")))
        .drop("__lo", "__hi", "__res", "__maxhi")
    )


def drop_covered(
    df: DataFrame, cell_col: str = "cell", prefix_res: Optional[int] = None
) -> DataFrame:
    """Drop cells covered by a strict ancestor also present in ``df``.

    Default: one window pass partitioned by base cell — parallelism
    caps at the 122 roots, which is right for broadcast-scale region
    tables (the engine's stated contract) but makes one dense base a
    straggler on a continent-scale *raw* res-15 ingest.

    ``prefix_res=B`` is the scale path for such ingests: rows at
    ``res >= B`` window within their res-``B`` prefix group (every
    ancestor at res ≥ B shares the prefix, so the split is exact) —
    up to 122·7^B partitions instead of 122.  The few rows coarser
    than B (bounded above by the total cell count at res < B, ≤ ~50k
    for B=4) get their own base-partitioned pass, then prune their
    fine descendants through B chained broadcast anti-joins — the
    boundary fix-up.  Output is identical to the default path (tested)."""
    if prefix_res is None or prefix_res <= 0:
        return _drop_covered_window(df, cell_col, cx.base_cell(cell_col))
    res_c = cx.res(cell_col)
    coarse = df.filter(res_c < prefix_res)
    fine = df.filter(res_c >= prefix_res)
    # coarse-vs-coarse: tiny by construction — base window suffices
    coarse_kept = _drop_covered_window(coarse, cell_col, cx.base_cell(cell_col))
    # fine-vs-fine within the shared res-B prefix
    fine_kept = _drop_covered_window(
        fine, cell_col, cx.to_parent(cell_col, prefix_res)
    )
    # fine-vs-coarse boundary fix-up: a fine row under any coarse cell
    # is covered; coarse cells can never be covered by finer rows
    for r in range(prefix_res):
        anc_r = coarse_kept.filter(res_c == r).select(
            F.col(cell_col).alias("__anc")
        )
        fine_kept = fine_kept.join(
            F.broadcast(anc_r),
            cx.to_parent(F.col(cell_col), r) == F.col("__anc"),
            "left_anti",
        )
    return fine_kept.unionByName(coarse_kept)


# ---------------------------------------------------------------------------
# numpy compaction core (runs per base-cell group, or driver-side)
# ---------------------------------------------------------------------------

def compact_np(
    cells: np.ndarray,
    values: Optional[np.ndarray] = None,
    compactor: str = "set",
) -> tuple[np.ndarray, Optional[np.ndarray]]:
    """Bottom-up fixpoint compaction of pairwise non-related cells.

    ``compactor``: 'none' (NullCompactor), 'set' (all 7 children
    present), or 'eq' (all 7 present with equal values; parent takes
    the value).  Mirrors /root/reference/src/compaction.rs:29-72.
    """
    cells = np.asarray(cells, dtype=np.int64)
    if compactor == "none" or len(cells) == 0:
        return cells, values
    if callable(compactor):
        return _compact_np_custom(cells, values, compactor)
    if compactor not in ("set", "eq"):
        raise ValueError(f"unknown compactor {compactor!r}")
    if compactor == "eq" and values is None:
        raise ValueError("eq compactor requires values")

    vals = None if values is None else np.asarray(values)
    for r in range(K.MAX_RES, 0, -1):
        rs = cnp.res(cells)
        at = np.flatnonzero(rs == r)
        if len(at) == 0:
            continue
        parents = cnp.to_parent(cells[at], r - 1)
        if compactor == "set":
            uniq, counts = np.unique(parents, return_counts=True)
            full = uniq[counts == 7]
        else:
            # all 7 children present AND equal AND non-null: pandas
            # nunique ignores nulls, so 6-equal+1-null would otherwise
            # compact and silently overwrite the null leaf (the
            # reference EqCompactor requires 7 real equal values).
            pdf = pd.DataFrame({"p": parents, "v": vals[at]})
            g = pdf.groupby("p")["v"].agg(["size", "nunique", "count"])
            full = g.index[
                (g["size"] == 7) & (g["count"] == 7) & (g["nunique"] == 1)
            ].to_numpy(dtype=np.int64)
        if len(full) == 0:
            continue
        doomed_local = np.isin(parents, full)
        doomed = at[doomed_local]
        keep = np.ones(len(cells), dtype=bool)
        keep[doomed] = False
        full_sorted = np.sort(full)
        if vals is not None:
            # parent takes one child's value — for 'eq' all 7 are equal;
            # for 'set'+values the choice must be DETERMINISTIC, so sort
            # by (parent, child cell): the digit-0 child's value wins
            # regardless of shuffle arrival order
            child_parents = parents[doomed_local]
            order = np.lexsort((cells[doomed], child_parents))
            new_vals = vals[doomed][order][::7]
            cells = np.concatenate([cells[keep], full_sorted])
            vals = np.concatenate([vals[keep], new_vals])
        else:
            cells = np.concatenate([cells[keep], full_sorted])
    return cells, vals


def _compact_np_custom(cells, values, fn):
    """User-pluggable compactor (the ``Compactor`` trait,
    /root/reference/src/compaction.rs:13-20): ``fn(parent_cell,
    children)`` gets the 7-slot list of child values (None = absent)
    and returns the coalesced value or None.  Called bottom-up only on
    parents none of whose children is itself a Parent node
    (/root/reference/src/node.rs:58-64); batch semantics are the
    deterministic fixpoint of the final cell set."""
    vals = None if values is None else list(values)
    cl = list(cells)
    for r in range(K.MAX_RES, 0, -1):
        arr = np.array(cl, dtype=np.int64)
        rs = cnp.res(arr)
        at = np.flatnonzero(rs == r)
        if len(at) == 0:
            continue
        deeper = arr[rs > r]
        blocked = set(cnp.to_parent(deeper, r - 1).tolist()) if len(deeper) else set()
        parents = cnp.to_parent(arr[at], r - 1)
        by_parent: dict[int, list[int]] = {}
        for local, p in zip(at.tolist(), parents.tolist()):
            if p not in blocked:
                by_parent.setdefault(p, []).append(local)
        shift = (K.MAX_RES - r) * K.DIGIT_BITS
        doomed: set[int] = set()
        new_rows: list[tuple[int, object]] = []
        for p, idxs in by_parent.items():
            children = [None] * 7
            for i in idxs:
                d = (cl[i] >> shift) & 0x7
                children[d] = vals[i] if vals is not None else ()
            v = fn(p, children)
            if v is not None:
                doomed.update(idxs)
                new_rows.append((p, v))
        if not new_rows:
            continue
        keep = [i for i in range(len(cl)) if i not in doomed]
        cl = [cl[i] for i in keep] + [p for p, _ in new_rows]
        if vals is not None:
            vals = [vals[i] for i in keep] + [v for _, v in new_rows]
    out_c = np.array(cl, dtype=np.int64)
    out_v = None if vals is None else np.array(vals, dtype=object)
    return out_c, out_v


# ---------------------------------------------------------------------------
# distributed build
# ---------------------------------------------------------------------------

def compact_df(
    df: DataFrame,
    cell_col: str = "cell",
    value_col: Optional[str] = None,
    compactor: str = "set",
    prefix_res: Optional[int] = None,
) -> DataFrame:
    """Distributed compaction: one shuffle, ``groupBy(base_cell)`` +
    vectorized numpy fixpoint per base group.

    Compaction can only merge siblings under one parent, so it never
    crosses a base-cell boundary — the 122 root slots partition the
    problem exactly.  For value types that aren't numpy-friendly the
    'eq' compactor compares pandas object equality.

    ``prefix_res=B`` is the scale path for continent-scale raw ingests
    (pairs with :func:`drop_covered`'s): pass 1 compacts cells at
    ``res >= B`` within their res-B prefix group (122·7^B partitions);
    the split is exact because a merge at res > B only involves
    siblings sharing the res-B ancestor, and pass 1 runs each group to
    its fixpoint — any cell left deeper than B can never merge again.
    Pass 2 then compacts the small residue that can still cascade
    (cells at res ≤ B plus the original coarse rows) by base cell.
    Built-in compactors only ('set'/'eq' — a custom callable's
    blocked-parent rule needs whole-base visibility)."""
    if compactor == "none":
        return df
    cols = [cell_col] + ([value_col] if value_col else [])
    src = df.select(*cols)
    schema = src.schema

    def _compact_group(pdf: pd.DataFrame) -> pd.DataFrame:
        cells = pdf[cell_col].to_numpy(dtype=np.int64)
        vals = pdf[value_col].to_numpy() if value_col else None
        out_c, out_v = compact_np(cells, vals, compactor=compactor)
        out = {cell_col: out_c}
        if value_col:
            out[value_col] = out_v
        return pd.DataFrame(out)

    if prefix_res is None or prefix_res <= 0:
        return src.groupBy(cx.base_cell(cell_col).alias("__base")).applyInPandas(
            lambda key, pdf: _compact_group(pdf), schema=schema
        )
    if callable(compactor):
        raise ValueError(
            "compact_df: prefix_res requires a built-in compactor "
            "('set'/'eq') — custom compactors need whole-base groups"
        )
    res_c = cx.res(cell_col)
    fine = src.filter(res_c >= prefix_res)
    coarse = src.filter(res_c < prefix_res)
    # pooled persist: pass1 feeds TWO branches (deep_final + residue);
    # without the barrier each branch re-runs the dominant per-group
    # numpy fixpoint — the exact cost this path exists to parallelize
    _BUILD_POOL.new_generation()
    pass1 = _BUILD_POOL.add(
        fine.groupBy(cx.to_parent(cell_col, prefix_res).alias("__pfx"))
        .applyInPandas(lambda key, pdf: _compact_group(pdf), schema=schema)
        .persist()
    )
    # only cells that reached res <= B can still cascade; deeper
    # survivors are final (their groups ran to fixpoint)
    deep_final = pass1.filter(res_c > prefix_res)
    residue = pass1.filter(res_c <= prefix_res).unionByName(coarse)
    pass2 = residue.groupBy(cx.base_cell(cell_col).alias("__base")).applyInPandas(
        lambda key, pdf: _compact_group(pdf), schema=schema
    )
    return deep_final.unionByName(pass2)


def build_region(
    df: DataFrame,
    cell_col: str = "cell",
    value_col: Optional[str] = None,
    compactor: str = "set",
    dedupe_policy: str = "min",
    prefix_res: Optional[int] = None,
) -> DataFrame:
    """Full build pipeline: validate → dedupe → ancestor-wins → compact.

    Returns the compacted leaf table — the engine's ``HexTreeMap``
    (``HexTreeSet`` when ``value_col`` is None).  Equivalent to
    ``FromIterator`` + per-insert coalesce in the reference
    (/root/reference/src/hex_tree_map.rs:291-331) under the declared
    deterministic batch conflict policy (coarsest cell wins; exact
    duplicates resolve by ``dedupe_policy``).

    ``prefix_res``: pass a small B (e.g. 4) for continent-scale raw
    fine-res ingests — sub-partitions BOTH the ancestor-wins pass (see
    :func:`drop_covered`) and the compaction (see :func:`compact_df`)
    past the 122 base roots.  Output identical.
    """
    valid, _ = validate_cells(df, cell_col)
    deduped = dedupe_cells(valid, cell_col, value_col, dedupe_policy)
    pruned = drop_covered(deduped, cell_col, prefix_res=prefix_res)
    cpfx = prefix_res if not callable(compactor) else None
    return compact_df(pruned, cell_col, value_col, compactor, prefix_res=cpfx)


def build_region_np(
    pdf: pd.DataFrame,
    cell_col: str = "cell",
    value_col: Optional[str] = None,
    compactor: str = "set",
    dedupe_policy: str = "min",
) -> pd.DataFrame:
    """:func:`build_region` in numpy/pandas, no Spark: validate → dedupe
    → ancestor-wins → compact over a non-NULL ``cell_col`` int64 frame.
    Returns the compacted leaves as a pandas frame (``cell_col`` plus
    ``value_col`` when given)."""
    cells = pdf[cell_col].to_numpy(dtype=np.int64)
    pdf = pdf[cnp.is_valid(cells)]
    if value_col:
        agg = {"min": "min", "max": "max", "sum": "sum", "count": "count",
               "any": "first"}[dedupe_policy]
        pdf = pdf.groupby(cell_col, as_index=False)[value_col].agg(agg)
    else:
        pdf = pdf[[cell_col]].drop_duplicates()
    cells = pdf[cell_col].to_numpy(dtype=np.int64)
    vals = pdf[value_col].to_numpy() if value_col else None
    # ancestor-wins: sort by (lo, res); a row is covered iff the running
    # max of hi over preceding rows reaches its own hi
    lo = cnp.lo(cells)
    res = cnp.res(cells)
    hi = cnp.hi(cells)
    order = np.lexsort((res, lo))
    hi_s = hi[order]
    runmax = np.maximum.accumulate(np.concatenate([[np.int64(-1)], hi_s[:-1]]))
    keep = order[runmax < hi_s]
    cells, vals = cells[keep], (vals[keep] if vals is not None else None)
    out_c, out_v = compact_np(cells, vals, compactor=compactor)
    if value_col:
        return pd.DataFrame({cell_col: out_c, value_col: out_v})
    return pd.DataFrame({cell_col: out_c})


def local_frame(spark, pdf: pd.DataFrame, schema: StructType) -> DataFrame:
    """A driver-built pandas frame as a Spark input, through Arrow: one
    ``LocalTableScan`` and no Python workers, empty frames included.
    ``createDataFrame`` of an EMPTY pandas frame takes PySpark's
    Python-list path instead, which plans a ``Scan ExistingRDD``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pandas(pdf, schema=to_arrow_schema(schema), preserve_index=False)
    return spark.createDataFrame(table, schema)


def upsert(
    region: DataFrame,
    updates: DataFrame,
    cell_col: str = "cell",
    value_col: str = "value",
    mode: str = "or_insert",
    compactor: str = "none",
    modify_fn=None,
    insert_vacant: bool = True,
) -> DataFrame:
    """Read-modify-write upsert — the ``entry()`` API re-expressed
    (/root/reference/src/entry.rs:59-182) as join + rebuild.

    * ``or_insert``    — keep the existing value where the *exact or
      ancestor* cell already resolves (a vacant-entry insert only);
      mirrors ``entry(c).or_insert(v)``: inserting under a covering
      leaf is a no-op (rule 3), inserting at a stored leaf keeps it.
    * ``overwrite``    — update wins at exact cells; new cells insert
      (whole-value replacement).
    * ``or_insert_with`` — ``entry(c).or_insert_with(f)``
      (/root/reference/src/entry.rs:118-147): vacant rows insert
      ``modify_fn(cell)``; occupied rows untouched.
    * ``or_default``   — ``entry(c).or_default()``
      (/root/reference/src/entry.rs:149-182): vacant rows insert the
      type default (NULL, or ``modify_fn``'s value if given).
    * ``and_modify``   — ``entry(c).and_modify(f).or_insert(v)``
      (/root/reference/src/entry.rs:59-95): where the update's cell
      *resolves* (exact leaf or covering ancestor — the occupied
      entry), apply ``modify_fn(actual_cell, value)`` to the stored
      leaf's value; vacant updates insert their own value (suppress
      with ``insert_vacant=False`` for a pure ``and_modify``).  Batch
      semantics: a leaf touched by one or more update rows has ``f``
      applied once (set-oriented twin of the per-call doctest; pass a
      count-aware fn over ``overwrite`` mode for per-hit arithmetic).

    All modes re-run the ancestor-wins + compaction pipeline so the
    result is again a canonical compacted table.
    """
    from . import join as jx

    if mode == "or_insert_with":
        # entry.rs:118-147 — lazy default; in batch form the default
        # expression is a Column fn of the target cell, evaluated only
        # for vacant rows (Spark is lazy anyway, so this is exact)
        if modify_fn is None:
            raise ValueError("or_insert_with requires modify_fn(cell) -> Column")
        updates = updates.select(
            F.col(cell_col), modify_fn(F.col(cell_col)).alias(value_col)
        )
        mode = "or_insert"
    elif mode == "or_default":
        # entry.rs:149-182 — or_insert_with(V::default): vacant rows
        # insert the value column's type default (NULL in SQL terms;
        # pass modify_fn to pin a concrete zero value)
        fn = modify_fn or (lambda _c: F.lit(None))
        updates = updates.select(
            F.col(cell_col), fn(F.col(cell_col)).alias(value_col)
        )
        mode = "or_insert"

    if mode == "and_modify":
        if modify_fn is None:
            raise ValueError("and_modify requires modify_fn(cell, value) -> Column")
        probed = jx.get_chained(
            updates.select(cell_col, value_col), region.select(cell_col),
            probe_col=cell_col, region_col=cell_col, how="left",
        ).withColumnRenamed("stored_cell", "__hit")
        vacant = probed.filter(F.col("__hit").isNull()).drop("__hit")
        touched = (
            probed.filter(F.col("__hit").isNotNull())
            .select(F.col("__hit").alias("__touched"))
            .distinct()
        )
        reg = region.select(cell_col, value_col).join(
            F.broadcast(touched),
            F.col(cell_col) == F.col("__touched"),
            "left",
        )
        modified = reg.select(
            F.col(cell_col),
            F.when(
                F.col("__touched").isNotNull(),
                modify_fn(F.col(cell_col), F.col(value_col)),
            )
            .otherwise(F.col(value_col))
            .alias(value_col),
        )
        merged = modified.unionByName(vacant) if insert_vacant else modified
    elif mode == "or_insert":
        # drop updates already covered by (ancestor-or-self) leaves
        probed = jx.get_chained(
            updates.select(cell_col, value_col), region.select(cell_col),
            probe_col=cell_col, region_col=cell_col, how="left",
        ).withColumnRenamed("stored_cell", "__hit")
        fresh = probed.filter(F.col("__hit").isNull()).drop("__hit")
        merged = region.select(cell_col, value_col).unionByName(fresh)
    elif mode == "overwrite":
        upd = updates.select(
            F.col(cell_col), F.col(value_col).alias("__new")
        )
        merged = (
            region.select(cell_col, value_col)
            .join(upd, on=cell_col, how="full")
            .select(
                cell_col,
                F.coalesce(F.col("__new"), F.col(value_col)).alias(value_col),
            )
        )
    else:
        raise ValueError(f"unknown mode {mode!r}")
    return build_region(
        merged, cell_col=cell_col, value_col=value_col, compactor=compactor,
        dedupe_policy="min",
    )


def map_values(df: DataFrame, value_col: str, fn) -> DataFrame:
    """``iter_mut`` equivalent: immutable whole-table value rewrite
    (/root/reference/src/iteration.rs:125-201).  ``fn`` maps a Column
    to a Column; keys are untouched, so compaction state is preserved."""
    return df.withColumn(value_col, fn(F.col(value_col)))


def uncompact_df(
    df: DataFrame, res: int, cell_col: str = "cell", min_res: int = 0
) -> DataFrame:
    """Expand every cell to all its descendants at resolution ``res``.

    Cells already at ``res`` pass through; finer cells are dropped
    (cannot demote).  Inverse of compaction for idempotence checks:
    ``compact(uncompact(compact(X), r)) == compact(X)`` when all of X
    is at res ``r``.

    ``min_res``: the coarsest resolution present in ``df`` (when the
    caller knows it, as :func:`hexspark.geo.polyfill` does for its
    cover) — skips building explode stages for levels below it."""
    out = df
    for r in range(min_res, res):
        child_shift = (K.MAX_RES - (r + 1)) * K.DIGIT_BITS
        is_here = cx.res(cell_col) == r
        children = F.array([F.lit(d) for d in range(7)])
        out = out.withColumn(
            "__d", F.explode(F.when(is_here, children).otherwise(F.array(F.lit(-1))))
        )
        # child = bump res to r+1, replace that digit's 0b111 fill with d
        bumped = (
            F.col(cell_col)
            .bitwiseAND(F.lit(~K.RES_MASK))
            .bitwiseOR(F.lit((r + 1) << K.RES_OFFSET))
        )
        child = bumped - (F.lit(7).cast("long") - F.col("__d")) * F.lit(
            1 << child_shift
        )
        out = out.withColumn(
            cell_col, F.when(F.col("__d") >= 0, child).otherwise(F.col(cell_col))
        ).drop("__d")
    return out.filter(cx.res(cell_col) == res)


def uncompact_np(cells: np.ndarray, res: int) -> np.ndarray:
    """numpy twin of :func:`uncompact_df` (same child bit math): every
    cell expanded to its descendants at ``res``, finer cells dropped."""
    cells = np.asarray(cells, dtype=np.int64)
    for r in range(int(cnp.res(cells).min(initial=res)), res):
        here = cnp.res(cells) == r
        bumped = (cells[here] & ~np.int64(K.RES_MASK)) | np.int64((r + 1) << K.RES_OFFSET)
        shift = (K.MAX_RES - (r + 1)) * K.DIGIT_BITS
        kids = bumped[:, None] - ((7 - np.arange(7, dtype=np.int64)) << shift)
        cells = np.concatenate([cells[~here], kids.ravel()])
    return cells[cnp.res(cells) == res]
