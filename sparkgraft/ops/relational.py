"""Relational operator surface (reference §2.2-2.4, §2.6-2.7).

Most of the reference's relational ops map 1:1 onto DataFrame methods and
need no wrapper; this module keeps the few compositions worth naming, plus
numeric helpers that make floating-point aggregates exactly reproducible
(engine vs DuckDB oracle) — exact decimal arithmetic internally, double out.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F


def left_join(
    left: DataFrame, right: DataFrame, on: str | list[str], broadcast_right: bool = False
) -> DataFrame:
    """Left outer equi-join (J1, reference DataLoadTransformer.scala:139).

    ``broadcast_right=True`` pins a broadcast-hash plan for known-small build
    sides (the continuity frontier, dimension tables); otherwise AQE picks.
    """
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=on, how="left")


def union_all(dfs: Sequence[DataFrame]) -> DataFrame:
    """Positional bag-semantics union of N frames (U1/U2, reference
    UserActivityHiveConnector.scala:29, DataLoadTransformer.scala:135).
    Shuffle-free."""
    return reduce(DataFrame.union, dfs)


def _approx_input_bytes(df: DataFrame) -> int | None:
    """Sum of the ANALYZED plan's leaf-relation size estimates — the cheap
    stand-in for "how many scan splits will this subtree get".  Reads only
    leaf metadata (file-size sums for scans): no catalyst optimization, no
    physical planning, no plan->RDD conversion, so it stays O(#leaves)
    driver calls even on a 100 TB-wide plan — the previous
    ``df.rdd.getNumPartitions()`` probe forced a full second planning pass
    per call (~70-150 ms here, unbounded at scale).  Unknown-size leaves
    (e.g. a checkpointed LogicalRDD) report huge defaults, which safely
    maps to "wide enough, don't repartition"."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        # py4j maps the scala BigInt through to a Python int
        return sum(
            int(leaves.apply(i).computeStats().sizeInBytes())
            for i in range(leaves.size())
        )
    except Exception:
        return None


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition to core count — ONLY when the incoming data
    is smaller than one scan split per core.

    Compute-heavy per-row stages (interpreted higher-order functions,
    md5/regex chains, codec work) inherit the scan's byte-sized split
    count: a 2 MB table is ONE task at any maxPartitionBytes >= 2 MB, so
    the whole stage serializes on one core of a many-core host (measured
    3.4x on repetition_stats at sf0.1).  At production scale the scan
    already carries >= cores splits and this is the identity — the knob
    stays scale-adaptive rather than tuned for either regime (guide §2.5
    input-skew note: 'one huge unsplittable file … repartition immediately
    after the read').  Row content is order-independent downstream
    (per-row projections or aggregations), so results are unchanged.
    (Round-robin repartition cannot key on map-typed columns; no current
    caller passes one.)

    The width probe is ``_approx_input_bytes`` (analysis-only, r14): the
    subtree gets fanned out iff its leaf inputs sum below cores x
    maxPartitionBytes — the same decision the old partition-count probe
    made for every current caller (scan-rooted narrow subtrees), without
    the per-call physical-planning pass.  When leaf stats are unavailable
    the old RDD probe is the fallback.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    approx = _approx_input_bytes(df)
    if approx is not None:
        # the JVM's own byte-string parser: '1g', '64mb', '134217728' alike
        mpb = (
            df.sparkSession._jsparkSession.sessionState()
            .conf()
            .filesMaxPartitionBytes()
        )
        if approx >= target * mpb:
            return df
        return df.repartition(target)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """Deterministic top-k: caller must make ``order`` a total order
    (include a key tiebreak). Spark plans TakeOrderedAndProject — a per-
    partition heap + single-reduce merge, no global sort."""
    return df.orderBy(*order).limit(k)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_col: str,
    tiebreak: Sequence[str] = (),
    out_col: str | None = None,
) -> DataFrame:
    """As-of join: attach to each left row the ``value_col`` of the latest
    right row with the same key and ``right_ts <= left_ts``.

    Spark has no native as-of join; the classic distributed formulation is
    union + forward-fill — one shuffle on the key, no range cross-product:

    1. tag left (src=1) and right (src=0) rows, union on (key, ts, value)
    2. running ``last(value, ignoreNulls)`` over (key) ordered by
       (ts, tiebreak, src) — at fully-equal sort keys the right marker
       sorts before its left twin, making the match at-or-before inclusive
    3. keep the left rows

    ``tiebreak`` columns are taken from the RIGHT side too when it has
    them (falling back to NULL, which sorts first), so ordering among
    same-(key, ts) rows is deterministic and matches a window-function
    formulation ordered by (ts, tiebreak).

    This beats a range-condition join (which Spark plans as a
    broadcast-nested-loop or cross product) at any scale: wall-clock is
    one sort-shuffle of |left| + |right| rows.
    """
    out_col = out_col or f"asof_{value_col}"
    lcols = left.columns
    l2 = left.select(
        *lcols,
        F.col(left_ts).alias("__ts"),
        F.lit(None).cast(right.schema[value_col].dataType).alias("__val"),
        F.lit(1).alias("__src"),
    )

    def _right_col(c: str):
        if c == on or (c in tiebreak and c in right.columns):
            return F.col(c)
        return F.lit(None).cast(left.schema[c].dataType).alias(c)

    r2 = right.select(
        *[_right_col(c) for c in lcols],
        F.col(right_ts).alias("__ts"),
        F.col(value_col).alias("__val"),
        F.lit(0).alias("__src"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy(on)
        .orderBy("__ts", *tiebreak, "__src")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        l2.union(r2)
        .withColumn(out_col, F.last("__val", ignorenulls=True).over(w))
        .where(F.col("__src") == 1)
        .drop("__ts", "__val", "__src")
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_start: str,
    right_end: str,
    slab_seconds: int = 3600,
    extra_keys: Sequence[str] = (),
) -> DataFrame:
    """Point-in-interval join: left rows where
    ``right_start <= left_ts < right_end`` (+ optional equi keys).

    A naive range-condition join has no equi key, so Spark plans
    BroadcastNestedLoopJoin — O(|L|x|R|) compute and a broadcast of a
    whole side; the classic scale trap. Slab bucketing restores an
    equi-join: left rows get their one covering time slab
    (``floor(epoch/slab)``); each right interval EXPLODES into the slabs
    it overlaps; join on (slab, *extra_keys) and re-check the exact bound.
    Every true pair meets in exactly one slab (the left row's), so no
    dedup is needed and no pair is lost.

    ``slab_seconds`` tunes fan-out: right rows duplicate
    ``~interval/slab`` times, left rows never duplicate. Pick a slab near
    the typical interval length; shuffles |L| + |R|*(len/slab) rows —
    linear, skew-safe, AQE-splittable, at any scale.

    Empty/degenerate intervals (end <= start) are dropped up front —
    required for correctness anyway, and it sidesteps Spark's
    ``sequence(a, b)`` descending when a > b.
    """
    slab_us = int(slab_seconds) * 1_000_000

    def _slab(c: str) -> Column:
        return F.floor(F.unix_micros(F.col(c).cast("timestamp")) / F.lit(slab_us))

    l2 = left.withColumn("__slab", _slab(left_ts))
    r2 = (
        right.where(F.col(right_end) > F.col(right_start))
        .withColumn("__end_slab", _slab(right_end) - F.when(
            F.unix_micros(F.col(right_end).cast("timestamp")) % slab_us == 0, 1
        ).otherwise(0))
        .withColumn(
            "__slab",
            F.explode(F.sequence(_slab(right_start), F.col("__end_slab"))),
        )
        .drop("__end_slab")
    )
    return (
        l2.join(r2, on=["__slab", *extra_keys])
        .where(
            (F.col(left_ts) >= F.col(right_start)) & (F.col(left_ts) < F.col(right_end))
        )
        .drop("__slab")
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 16,
    salt_source: str | None = None,
) -> DataFrame:
    """Inner equi-join that survives a pathologically hot join key.

    A plain shuffle join sends every row of a hot key (the bot user, the
    null-ish default id) to ONE reducer. Salting splits it: each big-side
    row gets a deterministic salt in [0, n_salts) — from ``salt_source``
    (a unique-ish column, e.g. the event id) so the hot key's rows spread
    evenly — and the small side is replicated once per salt (explode of a
    literal range, n_salts× the SMALL relation only). The join key becomes
    (key, salt): the hot key now occupies n_salts reducers. Results are
    exactly the plain join's (equality-tested); use when the skew is too
    extreme for AQE's skew-join splitting or the engine lacks it.

    Prefer ``F.broadcast(small)`` outright when the small side fits in
    memory — salting is for the mid-size dim / fact⋈fact case.  And
    prefer :func:`salted_join_auto` over calling this directly: salting
    unconditionally is itself a measured cost (0.76x/0.62x below the
    crossover — it replicates the small side n_salts-fold and widens the
    shuffle key for skew a single reducer would absorb anyway); the auto
    form engages it only when the key distribution actually needs it.
    """
    src = F.col(salt_source) if salt_source else F.col(on)
    b = big.withColumn("__salt", F.pmod(F.hash(src), F.lit(n_salts)))
    s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return b.join(s, on=[on, "__salt"]).drop("__salt")


def salted_join_auto(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 16,
    salt_source: str | None = None,
    hot_rows: int = 2_000_000,
    hotness: tuple[int, int] | None = None,
) -> DataFrame:
    """:func:`salted_join` with the skew defense engaged only when the
    big side's key distribution is actually hot — the join-side twin of
    ``ops.sessionize.sessionize_auto`` (same decision statistic, same
    measured crossover).

    The A/B grid (SCALE_CHECK_r08 ``skew_ab``) shows salting LOSES below
    its crossover (0.76x/0.62x at 10-100x — it pays an n_salts-fold
    replication of the small side and a wider shuffle key for skew that a
    single reducer absorbs anyway) and wins 1.5x once one key's rows
    dominate a reducer, so hard-coding either plan is wrong somewhere.
    Decision rule: salt iff some key holds at least ``hot_rows`` big-side
    rows — absolute rows, not share, because reducer wall-clock is set by
    the biggest single key partition, not its fraction of the table.  The
    default sits at the measured local[32] crossover; on a real cluster
    the crossover arrives earlier (idle neighbors don't absorb the
    straggler), so tune ``hot_rows`` DOWN, never up.

    ``hotness``: pass a cached ``(max rows on one key, total rows)``
    statistic — e.g. ``catalog.load_table_stats``'s per-epoch figure — to
    skip the measuring scan entirely (the once-per-epoch amortization
    SCALE.md §Planning statistics describes).  When omitted, one
    column-pruned map-side-combined pass computes it.

    Output is exactly the plain join's either way (salting is
    equality-tested; pinned again for the auto form by the property
    test), so the flip is invisible to results.
    """
    from sparkgraft.ops.sessionize import measure_hotness

    mx, _n = hotness if hotness is not None else measure_hotness(big, on)
    if mx >= int(hot_rows):
        return salted_join(
            big, small, on, n_salts=n_salts, salt_source=salt_source
        )
    return big.join(small, on=on)


def exact_sum(col: Column | str, scale: int = 6, precision: int = 28) -> Column:
    """Order-insensitive SUM for double columns.

    Summing doubles is non-associative — a shuffle reorder changes the last
    bits, which breaks value-hash comparison against any oracle. Casting each
    addend to a decimal first makes the sum exact and order-free; the final
    cast back to double is a single deterministic rounding. The per-row cast
    is whole-stage-codegen'd — no measurable cost next to the shuffle.
    """
    c = F.col(col) if isinstance(col, str) else col
    # Cross-engine validity domain (measured, round 5): the decimal sum is
    # exact in every engine, but the final decimal->double conversion is
    # only guaranteed engine-identical while |sum| * 10^scale < 2^53.
    # Beyond that, Spark (BigDecimal.doubleValue) stays correctly rounded
    # while DuckDB's int128 -> double -> /10^scale path can double-round
    # 1 ulp off (observed at a 3.8e16 micro-unit sum: ...93881 vs the
    # correct ...93882).  At scale 6 the boundary is ~9e9 in column units
    # per group — driver scales sit >20x under it; a deployment summing
    # past it should compare the DECIMAL (or its string) instead of the
    # double.
    return F.sum(c.cast(f"decimal({precision},{scale})")).cast("double")


def _fixed_units(col: Column | str, scale: int, precision: int) -> Column:
    """Exact per-row fixed-point units (10^-scale) as BIGINT.

    The decimal cast is the same exact-rounding step :func:`exact_sum`
    performs (engine-identical: 10^-scale grid points are never halfway
    between doubles at the magnitudes these columns carry); shifting the
    scale out and casting to BIGINT is exact integer arithmetic.

    The multiply must dodge Spark's decimal precision ADJUSTMENT: an
    unadjusted product type of decimal(p1 + p2 + 1, scale) wider than 38
    gets its scale clamped back toward 6 (``adjustPrecisionScale``),
    silently ROUNDING the units before the BIGINT cast — exactness lost
    for any scale >= 7 had we multiplied at the caller's full precision.
    So the cast precision is capped at 36 - scale (product precision
    p1 + (scale+1) + 1 <= 38, never adjusted, exact) and the literal is
    cast to its minimal decimal(scale+1, 0) rather than letting Spark
    promote the long to decimal(20, 0)."""
    c = F.col(col) if isinstance(col, str) else col
    if not 0 <= scale <= 17:
        raise ValueError(
            f"scale must be in [0, 17] (10^scale must fit a decimal literal "
            f"and leave integer digits in the 38-digit product), got {scale}"
        )
    p1 = min(precision, 36 - scale)
    shift = F.lit(10**scale).cast(f"decimal({scale + 1},0)")
    return (c.cast(f"decimal({p1},{scale})") * shift).cast("bigint")


def exact_sum_fixed(col: Column | str, scale: int = 6, precision: int = 28) -> Column:
    """Order-insensitive SUM that stays engine-identical PAST the 2^53
    decimal->double boundary documented on :func:`exact_sum`.

    ``exact_sum``'s one cross-engine divergence class is the final
    decimal->double conversion: once |sum|*10^scale exceeds 2^53, DuckDB's
    int128 -> double -> /10^scale path can double-round 1 ulp off while
    Spark's BigDecimal.doubleValue stays correctly rounded (measured on the
    10x adversarial rig at a 3.8e16 micro-unit sum).  Here the sum itself
    is an exact BIGINT in fixed-point units, and the conversion to double
    is int64 -> double (correctly rounded, identically, in every engine)
    followed by one double division by 10^scale — the same two IEEE
    operations on the same inputs on both sides, at ANY magnitude.  The
    validity domain moves from 2^53 micro-units (~9e9 column units at
    scale 6) to int64 overflow (~9.2e18 micro-units, ~9.2e12 column
    units — three decades further; past that, sum ``_fixed_units`` into
    DECIMAL(38,0) and compare the integer string).

    Oracle-side twin::

        CAST(SUM(CAST(CAST(expr AS DECIMAL(28,6)) * 1000000 AS BIGINT))
             AS DOUBLE) / 1000000.0

    At scales past 6 mirror the precision cap ``_fixed_units`` applies
    (DuckDB widths ADD on multiply: ``DECIMAL(36-s, s) * DECIMAL(s+1, 0)``
    keeps the product inside width 38 on both engines), e.g. scale 12::

        CAST(SUM(CAST(CAST(expr AS DECIMAL(24,12))
                      * CAST(1000000000000 AS DECIMAL(13,0)) AS BIGINT))
             AS DOUBLE) / 1000000000000.0
    """
    units = _fixed_units(col, scale, precision)
    return F.sum(units).cast("double") / F.lit(float(10**scale))


def exact_avg(col: Column | str, scale: int = 6, precision: int = 28) -> Column:
    """Order-insensitive AVG: exact decimal sum, then one double division."""
    c = F.col(col) if isinstance(col, str) else col
    return exact_sum(c, scale, precision) / F.count(c)


def exact_avg_fixed(col: Column | str, scale: int = 6, precision: int = 28) -> Column:
    """Order-insensitive AVG via :func:`exact_sum_fixed`: the big sum is the
    part that crosses 2^53, so it is the part that must stay integer; the
    trailing ``/count`` is one further double division, identical on both
    sides when performed in the same order (sum -> /10^scale -> /count)."""
    c = F.col(col) if isinstance(col, str) else col
    return exact_sum_fixed(c, scale, precision) / F.count(c)


def ordered_funnel(
    ev: "DataFrame",
    steps: tuple[str, ...],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> "DataFrame":
    """Per-user completion times of an ordered step funnel.

    Step k completes at the earliest step-k event AT OR AFTER step (k-1)'s
    completion; output is one row per user with columns t1..tk (null =
    step never completed).

    One shuffle total: all k min-over-window expressions share the same
    (user, ts-range) window spec — range frames include ts-peers, so a
    step-k event at the same timestamp as step k-1's completion counts,
    deterministically. The groupBy reuses the window's partitioning.
    """
    from pyspark.sql import Window, functions as F

    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cols = []
    prev = None
    for i, etype in enumerate(steps, start=1):
        name = f"t{i}"
        cond = F.col(type_col) == etype
        if prev is not None:
            cond = cond & F.col(prev).isNotNull()
        ev = ev.withColumn(name, F.min(F.when(cond, F.col(ts_col))).over(w))
        cols.append(name)
        prev = name
    return ev.groupBy(user_col).agg(*[F.min(c).alias(c) for c in cols])
