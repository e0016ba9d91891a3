"""Scale-safe per-key top-k (kNN / ANN ranking tail).

``row_number().over(Window.partitionBy(key))`` shuffles every candidate
row into ONE reducer partition per key and sorts it there — with a
handful of anchors/queries and 10^12 candidates that is a few reducers
sorting ~10^11 rows each.  This module replaces that tail with the
two-phase form:

1. **partial top-k** — group by ``(key, spark_partition_id())``: the
   grouping key includes the input partition, so no reducer ever sees
   more than one input partition's candidates for one key, and the
   per-group ``slice(array_sort(collect_list(struct)), 1, k)`` keeps
   only k rows per (key, partition);
2. **global merge** — the surviving ``n_partitions × keys × k`` rows
   (tiny) re-group by key alone and take the final top-k.

Output rows are IDENTICAL to the window form whenever the order columns
end in a unique tie-break (all callers pass one) — asserted by tests
and unchanged DuckDB oracles.  Everything is native Columns: struct
comparison in ``array_sort`` is field-by-field in declaration order, so
the order columns lead the struct and payload trails.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cachepool import CachePool

_DRAW_POOL = CachePool()


def topk_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column],
    payload: Sequence[str],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-``k`` rows per distinct ``keys``, ranked by ``order`` ascending.

    ``order``: Columns compared ascending, field by field — negate
    numeric columns for descending.  Must end in a unique tie-break for
    deterministic output (same requirement as the window form).  Order
    columns must be non-null (array_sort sorts NULL last; windows sort
    NULL first).

    ``payload``: column names carried through to the output.  Returns
    ``keys + [rank_col] + payload`` with ``rank_col`` 1-based long.
    """
    strct = F.struct(
        *[o.alias(f"__o{i}") for i, o in enumerate(order)],
        *[F.col(c).alias(c) for c in payload],
    )
    partial = (
        df.withColumn("__pid", F.spark_partition_id())
        .groupBy(*keys, "__pid")
        .agg(F.slice(F.array_sort(F.collect_list(strct)), 1, k).alias("__top"))
    )
    merged = (
        partial.select(*keys, F.explode("__top").alias("__s"))
        .groupBy(*keys)
        .agg(F.slice(F.array_sort(F.collect_list("__s")), 1, k).alias("__top"))
    )
    out = merged.select(*keys, F.posexplode("__top").alias("__pos", "__s"))
    return out.select(
        *keys,
        (F.col("__pos") + 1).cast("long").alias(rank_col),
        *[F.col("__s").getField(c).alias(c) for c in payload],
    )


def topk_per_key_by_draw(
    df: DataFrame,
    keys: Sequence[str],
    draw: Column,
    order_tail: Sequence[Column],
    payload: Sequence[str],
    k: int,
    draw_scale: int = 10_000,
    safety: int = 4,
    counts_broadcast_rows: int = 4_000_000,
    rank_col: str = "rank",
    n_keys_bound: "int | None" = None,
) -> DataFrame:
    """:func:`topk_per_key` for callers whose leading order column is a
    uniform deterministic ``draw`` in ``[0, draw_scale)`` (the
    cap_per_domain / cap_per_tile selectors), with the full-volume
    partial shuffle cut to ``O(keys × k)``.

    The plain two-phase form buffers EVERY input row inside the partial
    ``collect_list`` that crosses the exchange (``slice`` evaluates
    after the shuffle), so at 10^12 pages the cap shuffles the whole
    corpus.  Here the draw's uniformity turns the cap into a filter:

    1. per-key counts ``n`` — one tiny map-side-combinable agg;
    2. broadcast the counts and keep rows with
       ``draw < ceil(draw_scale × safety × k / n)`` — a whole-stage
       codegen filter that passes ~``safety × k`` rows per key, so the
       exchange that follows carries ``O(keys × k)`` rows, not O(N).

       Exactness of the prefix: survivors are ALL rows with draw below
       the threshold, a prefix of the (draw, tie) order — if a key
       keeps ≥ min(k, n) survivors, its top-k over survivors IS its
       global top-k (any excluded row sorts after every survivor);
    3. exact two-phase top-k over the survivors;
    4. keys that undershoot (< min(k, n) result rows — possible since
       draws are random; P ≈ exp(-k·(safety-1)²/2·safety) per key) are
       re-capped exactly from a second filtered pass over the input,
       restricted by a broadcast semi-join on the (tiny) undershot key
       set.  The common case costs one extra tiny count on the result.

    Falls back to :func:`topk_per_key` verbatim when the key count
    exceeds ``counts_broadcast_rows`` (the counts relation must ride a
    broadcast or step 2 would itself shuffle the corpus).

    ``order_tail`` expressions must reference only ``keys``/``payload``
    columns (they are evaluated over the pruned projection).

    Output is IDENTICAL to ``topk_per_key(df, keys, [draw, *order_tail],
    payload, k)`` — asserted by tests and unchanged DuckDB oracles.
    """
    # Materialize the pruned (keys, draw, payload) projection ONCE as a
    # pooled persist barrier.  Two measured reasons (sf0.1, 20M pages,
    # synthetic keys derived through the full grid-encode expression):
    # (a) counts, survivors and the rescue pass would each recompute
    #     the key-defining expressions from scratch;
    # (b) without the barrier, the join/filter stage embeds the key's
    #     WHOLE defining expression tree (the join infers
    #     isnotnull(key), CollapseProject inlines) — the generated
    #     method blows past codegen limits and the stage silently runs
    #     interpreted (~1 MiB task binaries, probe ~6× slower than the
    #     plain two-phase form it was meant to beat).
    # The cached relation is the corpus pruned to keys+draw+payload
    # (three longs for the cap callers) — strictly cheaper than the
    # full-row shuffle this function replaces, and local-disk-spillable.
    _DRAW_POOL.new_generation()
    probe = _DRAW_POOL.add(
        df.select(
            *keys,
            draw.alias("__draw"),
            *[c for c in payload if c not in keys],
        ).persist()
    )
    counts = _DRAW_POOL.add(
        probe.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n")).persist()
    )
    # ``n_keys_bound``: a caller-supplied STATIC upper bound on the key
    # cardinality (e.g. a lattice cell count).  When the bound already
    # fits the broadcast budget the gating count() job is skipped and
    # counts first materialize inside the survivor job itself.
    # MEASURED TRAP (r7): skipping the gate is ~0.9 s faster in
    # isolation but ~1-1.7 s SLOWER when the query runs late in a
    # bench suite — materializing the probe persist inside the
    # broadcast-build thread of the survivor job interacts badly with
    # a warm session.  Callers therefore do NOT pass it by default;
    # it remains for workloads that verified the trade locally.
    if n_keys_bound is None or n_keys_bound > counts_broadcast_rows:
        n_keys = counts.count()
        if n_keys > counts_broadcast_rows:
            return topk_per_key(
                probe, keys, [F.col("__draw"), *order_tail], payload, k, rank_col
            )
    budget = int(draw_scale) * int(k) * int(safety)
    # exact int64 ceil-divide (div, not /: double rounding is not exact)
    thr = F.least(
        F.lit(int(draw_scale)).cast("long"),
        F.expr(f"(CAST({budget} AS BIGINT) + __n - 1) div __n"),
    )
    # LEFT join, not inner: every probe key exists in counts by
    # construction, so the result is identical — but a left join infers
    # no isnotnull constraint on the probe-side key expression (see
    # above), and the __thr filter drops nothing extra
    survivors = (
        probe.join(
            F.broadcast(counts.withColumn("__thr", thr).drop("__n")),
            list(keys),
            "left",
        )
        .filter(F.col("__draw") < F.col("__thr"))
        .drop("__thr")
    )
    res = topk_per_key(
        survivors, keys, [F.col("__draw"), *order_tail], payload, k, rank_col
    )
    # tiny (keys × k rows); pooled so the undershoot probe + the final
    # result compute the survivor top-k once
    res = _DRAW_POOL.add(res.persist())
    got = res.groupBy(*keys).agg(F.count(F.lit(1)).alias("__got"))
    short = (
        counts.join(got, list(keys), "left")
        .filter(
            F.coalesce(F.col("__got"), F.lit(0))
            < F.least(F.lit(k).cast("long"), F.col("__n"))
        )
        .select(*keys)
    )
    bad_keys = short.toArrow()  # tiny: undershot keys only
    if bad_keys.num_rows == 0:
        return res
    # from Arrow, not a list of Rows: a local relation, no Python workers
    bad = df.sparkSession.createDataFrame(bad_keys, short.schema)
    rescue = topk_per_key(
        probe.join(F.broadcast(bad), list(keys), "semi"),
        keys, [F.col("__draw"), *order_tail], payload, k, rank_col,
    )
    kept = res.join(F.broadcast(bad), list(keys), "anti")
    return kept.unionByName(rescue)
