"""Aggregation operators: hash aggregate, distinct, rollup/cube/grouping sets.

Absent from the reference entirely (its operator enum stops at
JOIN/SEL/PROJ/UNION/LEAF — reference RPC.cs:20-28); table stakes for an
OLAP engine. All of these compile to Spark's partial+final hash
aggregate: the map side pre-combines inside each input partition, so
the shuffle carries one row per (partition, group), not per input row —
the property that keeps a 100 TB groupBy tractable.

Numeric policy: double-typed aggregates are rounded via `round_cols`
before comparison against the DuckDB oracle, because floating-point
summation order differs between engines (both are correct; bitwise
equality is not a meaningful target).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def round_cols(df: DataFrame, decimals: int = 4, cols: Sequence[str] | None = None) -> DataFrame:
    """Round double columns for engine-portable comparison."""
    target = set(cols) if cols else {f.name for f in df.schema.fields if f.dataType.typeName() == "double"}
    return df.select(
        *[F.round(F.col(c), decimals).alias(c) if c in target else F.col(c) for c in df.columns]
    )


def group_agg(df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]) -> DataFrame:
    """Plain hash aggregate. Empty `keys` → global aggregate (single group)."""
    return df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)


def grouped(df: DataFrame, keys: Sequence[str], aggs: Sequence[Column], mode: str = "groupby") -> DataFrame:
    """groupBy / rollup / cube with the same agg list.

    rollup(a, b) = grouping sets {(a,b), (a), ()}; cube adds (b). Spark
    expands these into a single Expand + hash aggregate — one pass over
    the data regardless of how many grouping sets, which matters when
    the input is 100 TB and a naive per-set re-scan would be N passes.
    """
    modes = {"groupby": df.groupBy, "rollup": df.rollup, "cube": df.cube}
    if mode not in modes:
        raise ValueError(f"mode {mode!r} not in {sorted(modes)}")
    return modes[mode](*keys).agg(*aggs)


def distinct_counts(df: DataFrame, keys: Sequence[str], col: str, approx: bool = False, rsd: float = 0.02) -> DataFrame:
    """Exact or HyperLogLog distinct counts per group.

    Exact COUNT(DISTINCT) forces a two-phase expand/aggregate;
    `approx=True` uses approx_count_distinct (HLL++), a single-pass
    mergeable sketch — the only option that scales to billions of
    distinct keys without a giant shuffle.
    """
    agg = (
        F.approx_count_distinct(col, rsd) if approx else F.countDistinct(col)
    ).alias(("approx_" if approx else "") + f"distinct_{col}")
    return df.groupBy(*keys).agg(agg)


def hll_rollup(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    lgk: int = 12,
) -> DataFrame:
    """Per-group MERGEABLE distinct-count sketches (Datasketches HLL,
    `hll_sketch_agg`): (keys..., sk binary, est long).

    The capability approx_count_distinct does NOT give you: the sketch
    itself is a value, so fine-grained rollups (per source, per day)
    can be PERSISTED and later re-aggregated to any coarser grain with
    `hll_reaggregate` — no raw-data rescan. At 100 TB this is the
    incremental-rollup pattern: sketch each new partition once, answer
    "distinct users this month/quarter/ever" by unioning kilobyte
    sketches. lgk=12 → ~2.5% relative error, 4 KB per sketch.
    """
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(col, F.lit(lgk)).alias("sk"),
        F.hll_sketch_estimate(F.hll_sketch_agg(col, F.lit(lgk))).alias("est"),
    )


def hll_reaggregate(
    sketches: DataFrame, keys: Sequence[str], sk_col: str = "sk"
) -> DataFrame:
    """Union persisted HLL sketches up to a coarser grain: (keys...,
    est long). Empty `keys` → one global estimate. Union is exact over
    sketch registers — re-aggregated estimates are IDENTICAL to
    sketching the raw data directly (pinned in tests), so rollup
    hierarchies stay consistent."""
    agg = F.hll_sketch_estimate(F.hll_union_agg(F.col(sk_col))).alias("est")
    return sketches.groupBy(*keys).agg(agg) if keys else sketches.agg(agg)


def winsorize(
    df,
    value_cols,
    lower: float = 0.01,
    upper: float = 0.99,
    by=(),
):
    """Clip each value column to its [lower, upper] EXACT interpolated
    percentiles, optionally per group — the standard outlier guard
    before sums/means/regressions on heavy-tailed measures (and before
    feature normalization in a training pipeline).

    Shape: one aggregate computes both bounds for every column
    (percentile() is exact-interpolated, matching ANSI
    PERCENTILE_CONT / DuckDB quantile_cont, so the op is
    differential-testable), then the bounds — one row per group, tiny
    by construction — broadcast-join back and clip with
    least/greatest. Two passes over the data, zero UDFs; the exact
    percentile does buffer each group's column in the aggregate, so at
    extreme group cardinality swap in approx_percentile with the same
    plan shape (the trade is documented, not silent).

    Returns the input frame with value columns clipped in place.
    """
    from pyspark.sql import functions as F

    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError(f"need 0 <= lower < upper <= 1, got {lower}/{upper}")
    keys = list(by)
    aggs = []
    for c in value_cols:
        aggs.append(F.percentile(c, F.lit(lower)).alias(f"__lo_{c}"))
        aggs.append(F.percentile(c, F.lit(upper)).alias(f"__hi_{c}"))
    bounds = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
    if keys:
        # eqNullSafe join back: groupBy computes bounds for the NULL-key
        # group, and a plain equi-join would silently leave NULL-key rows
        # unclipped (NULL = NULL is never true in SQL join conditions).
        renamed = bounds
        for k in keys:
            renamed = renamed.withColumnRenamed(k, f"__bk_{k}")
        cond = None
        for k in keys:
            c = F.col(k).eqNullSafe(F.col(f"__bk_{k}"))
            cond = c if cond is None else (cond & c)
        joined = df.join(F.broadcast(renamed), cond, "left").drop(
            *[f"__bk_{k}" for k in keys]
        )
    else:
        joined = df.crossJoin(F.broadcast(bounds))
    out_cols = []
    for c in df.columns:
        if c in value_cols:
            clipped = F.least(
                F.greatest(F.col(c), F.col(f"__lo_{c}")), F.col(f"__hi_{c}")
            ).alias(c)
            out_cols.append(clipped)
        else:
            out_cols.append(F.col(c))
    return joined.select(*out_cols)


# -------------------------------------- incremental aggregate maintenance

#: kind -> (state columns built from the value, merge op per state col)
_MERGEABLE_KINDS = ("sum", "count", "min", "max", "avg")


def _state_cols(name: str, kind: str):
    """State column names backing one logical aggregate. avg keeps
    (sum, count) so it stays algebraic — never a stored ratio."""
    if kind == "avg":
        return [f"{name}__sum", f"{name}__cnt"]
    return [f"{name}__{kind}"]


def build_agg_state(df, keys, specs):
    """Partial-aggregate state table for `specs` (name -> (value_col,
    kind), kind in sum|count|min|max|avg): one row per key holding
    mergeable state columns — the materialized-view pattern for append-
    only data at 100 TB: aggregate each arriving increment alone, merge
    states, and NEVER rescan history. count counts non-null values of
    the column (SQL COUNT(col) semantics), matching what a direct
    groupBy would produce."""
    from pyspark.sql import functions as F

    aggs = []
    for name, (col, kind) in specs.items():
        if kind not in _MERGEABLE_KINDS:
            raise ValueError(f"{name}: kind must be one of {_MERGEABLE_KINDS}")
        if kind == "sum":
            aggs.append(F.sum(col).alias(f"{name}__sum"))
        elif kind == "count":
            aggs.append(F.count(col).alias(f"{name}__count"))
        elif kind == "min":
            aggs.append(F.min(col).alias(f"{name}__min"))
        elif kind == "max":
            aggs.append(F.max(col).alias(f"{name}__max"))
        else:  # avg
            aggs.append(F.sum(col).alias(f"{name}__sum"))
            aggs.append(F.count(col).alias(f"{name}__cnt"))
    return df.groupBy(*keys).agg(*aggs)


def merge_agg_states(states, keys, specs):
    """Combine any number of build_agg_state results: union + one hash
    aggregate with each state column's own merge op (sum-of-sums,
    min-of-mins, ...). Associative and commutative, so increments can
    merge in any order or hierarchy (per-hour -> per-day -> total)."""
    from functools import reduce

    from pyspark.sql import functions as F

    unioned = reduce(lambda a, b: a.unionByName(b), states)
    merges = []
    for name, (_, kind) in specs.items():
        if kind == "min":
            merges.append(F.min(f"{name}__min").alias(f"{name}__min"))
        elif kind == "max":
            merges.append(F.max(f"{name}__max").alias(f"{name}__max"))
        elif kind == "count":
            merges.append(F.sum(f"{name}__count").alias(f"{name}__count"))
        elif kind == "sum":
            merges.append(F.sum(f"{name}__sum").alias(f"{name}__sum"))
        else:  # avg
            merges.append(F.sum(f"{name}__sum").alias(f"{name}__sum"))
            merges.append(F.sum(f"{name}__cnt").alias(f"{name}__cnt"))
    return unioned.groupBy(*keys).agg(*merges)


def finalize_agg_state(state, keys, specs):
    """Render state to the user-facing aggregate columns (avg becomes
    sum/count; everything else passes through under its logical name)."""
    from pyspark.sql import functions as F

    out = [F.col(k) for k in keys]
    for name, (_, kind) in specs.items():
        if kind == "avg":
            out.append(
                (F.col(f"{name}__sum") / F.col(f"{name}__cnt")).alias(name)
            )
        else:
            out.append(F.col(f"{name}__{kind}").alias(name))
    return state.select(*out)


def quantile_discretize(
    df,
    value_col: str,
    n_bins: int = 10,
    out_col: str | None = None,
):
    """Add a quantile-bin column (1..n_bins) to every row: edges are the
    EXACT interpolated percentiles at i/n_bins (matching ANSI
    PERCENTILE_CONT / DuckDB quantile_cont, so the op is
    differential-testable), and a row's bin is 1 + the number of
    INTERIOR edges strictly below-or-equal... precisely:
    bin = 1 + count(edges e where x > e) over the n_bins-1 interior
    edges — ties at an edge fall in the lower bin, NULLs stay NULL.

    Unlike ntile (which balances COUNTS by row order and gives
    non-reproducible bins for tied values across engines), this is a
    pure function of the VALUE — the feature-discretization contract a
    training pipeline needs (the same row always lands in the same
    bin, and new data can be bucketed against frozen edges).

    Shape: one aggregate computes all interior edges (exact percentile
    buffers the column once — swap approx_percentile in at extreme
    scale, same plan), broadcast 1-row cross join, then a pure
    JVM-side aggregate over the tiny edge array per row."""
    from pyspark.sql import functions as F

    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    out_col = out_col or f"{value_col}_bin"
    ps = [i / n_bins for i in range(1, n_bins)]
    edges = df.agg(
        F.percentile(
            F.col(value_col).cast("double"), F.array(*[F.lit(p) for p in ps])
        ).alias("__edges")
    )
    x = F.col(value_col).cast("double")
    bin_ = (
        F.lit(1)
        + F.size(F.filter("__edges", lambda e: x > e))
    ).cast("int")
    return (
        df.crossJoin(F.broadcast(edges))
        .withColumn(out_col, F.when(x.isNotNull(), bin_))
        .drop("__edges")
    )


def exact_percentiles_grouped(
    df: DataFrame,
    group_col: str,
    value_col: str,
    percentages: Sequence[float],
    out_col: str = "bounds",
) -> DataFrame:
    """Exact interpolated percentiles per group, as one array column —
    Spark `percentile()` semantics (position = p·(n−1) over the sorted
    values WITH duplicates, linear interpolation between the two
    straddling order statistics) computed as a DISTRIBUTED plan
    instead of the ObjectHashAggregate that `F.percentile` plans
    (which buffers a value→count map per group through an interpreted
    row-at-a-time path — measured 1.7s vs 0.55s for the whole-stage-
    codegen approx sketch over the same 600k rows at sf0.1).

    Shape (r17 rework — r16 ADVICE flagged the r16 form's one-window-
    task-per-group scale cliff, which F.percentile's parallel partial
    aggregation did not have): the global rank per group comes from
    the in-plan segmented prefix (`operators.windows._segment_prefix`)
    — rows segment into monotone fixed-width value ranges per group,
    the per-(group, segment) counts become exclusive rank bases, and
    each (group, segment) ranks its own slice in parallel. One hash
    aggregate then picks the straddling order statistics for every
    target rank with conditional maxes. No per-group serialization
    anywhere; zero construction-time jobs. NULL values are ignored and
    a NULL group key is a group of its own, both matching
    `percentile()`. The interpolation expression mirrors Spark's
    `getPercentile` term for term, so results are bit-identical
    doubles (pinned in tests/test_relational.py). Ranks within a tied
    value are arbitrary, which is irrelevant: a rank hit inside a tie
    run always selects the same value, and equal values share one
    segment by construction.

    Semantics note (r16 ADVICE): groups whose values are ALL NULL are
    OMITTED from the output — `F.percentile` would return them with
    NULL array entries. Join consumers should use a LEFT join if such
    groups can exist.

    The 100 TB note from q_approx_sketches stands: exact percentiles
    of any flavor need the full value multiset; at scale you run the
    GK/bottom-k sketch and verify on a sample. This helper keeps that
    verification side in whole-stage codegen with parallel spillable
    segment sorts instead of an in-memory value map per group."""
    from pyspark.sql.window import Window

    from distributedqueryengine_spark.operators.windows import _segment_prefix

    v = F.col(value_col).cast("double")
    t0 = df.where(v.isNotNull()).select(group_col, v.alias("__v"))
    b = _segment_prefix(t0, [group_col], "__v", 256, None)
    w = Window.partitionBy(group_col, "__seg").orderBy("__v")
    t = b.select(
        group_col,
        "__v",
        (F.col("__base") + F.row_number().over(w) - 1).alias("__i"),
        F.col("__tot").alias("__n"),
    )
    # conditional-max straddling order statistics + Spark's
    # getPercentile interpolation, term for term
    aggs = [F.max("__n").alias("__n")]
    for i, p in enumerate(percentages):
        pos = F.lit(float(p)) * (F.col("__n") - 1).cast("double")
        aggs.append(
            F.max(
                F.when(F.col("__i") == F.floor(pos), F.col("__v"))
            ).alias(f"__vlo{i}")
        )
        aggs.append(
            F.max(
                F.when(F.col("__i") == F.ceil(pos), F.col("__v"))
            ).alias(f"__vhi{i}")
        )
    agged = t.groupBy(group_col).agg(*aggs)
    outs = []
    for i, p in enumerate(percentages):
        pos = F.lit(float(p)) * (F.col("__n") - 1).cast("double")
        lower = F.floor(pos)
        higher = F.ceil(pos)
        outs.append(
            F.when(higher == lower, F.col(f"__vlo{i}")).otherwise(
                (higher.cast("double") - pos) * F.col(f"__vlo{i}")
                + (pos - lower.cast("double")) * F.col(f"__vhi{i}")
            )
        )
    return agged.select(group_col, F.array(*outs).alias(out_col))


def mg_summary(
    df,
    value_col: str,
    k: int = 100,
):
    """Misra-Gries frequent items with BOUNDED memory: every item whose
    true count exceeds n/(k+1) is guaranteed present, with
    (count_lo, count_hi) bracketing its true count. The answer to "top
    domains / tokens / user-agents over 100 TB" when the exact
    vocabulary is too wide to shuffle: state per task is k counters —
    not distinct-values — and the summaries merge losslessly by
    summation (merged MG keeps the n/(k+1) bound).

    Phases: (1) mapInPandas runs the classic k-counter decrement
    summary per PARTITION over Arrow batches (pure Python dict of at
    most k entries — this is the rare case where a Python kernel is
    the right call: the algorithm is data-dependent branching on a
    tiny dict, not a vectorizable expression, and it touches each row
    once); each partition also emits its total decrement mass under
    the reserved NULL item. (2) one k·partitions-sized hash aggregate
    sums per-item counters (count_lo) and the global decrement mass;
    count_hi = count_lo + sum(decrements) is the upper bound. `top`
    truncates via TakeOrderedAndProject on count_lo.

    Output: the MERGED summary (item string nullable, c long) — one row
    per surviving counter plus a NULL-item row carrying the total
    decrement-round mass (the error term). Summaries from disjoint data
    merge by summation + re-truncation; NULL
    input values are ignored. heavy_hitters() below converts a summary
    to (item, count_lo, count_hi)."""
    import pandas as pd

    from pyspark.sql import functions as F

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def summarize(batches):
        counters: dict = {}
        decremented = 0
        for pdf in batches:
            for v in pdf["__v"]:
                if v is None:
                    continue
                if v in counters:
                    counters[v] += 1
                elif len(counters) < k:
                    counters[v] = 1
                else:
                    # decrement-all: each round removes one occurrence of
                    # k+1 distinct items (this one + k counters)
                    decremented += 1
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        out = {
            "item": list(counters.keys()) + [None],
            "c": list(counters.values()) + [decremented],
        }
        yield pd.DataFrame(out)

    summaries = df.select(
        F.col(value_col).cast("string").alias("__v")
    ).mapInPandas(summarize, "item string, c long")
    return summaries.groupBy("item").agg(F.sum("c").alias("c"))


def heavy_hitters(
    df,
    value_col: str,
    k: int = 100,
    top: int | None = None,
):
    """(item, count_lo, count_hi): see mg_summary for the algorithm and
    guarantees. count_lo <= true <= count_hi for every reported item;
    `top` truncates via a sort of the k-bounded result."""
    from pyspark.sql import functions as F

    merged = mg_summary(df, value_col, k)
    err = merged.filter(F.col("item").isNull()).select(
        # total decrement rounds across partitions: each round reduces
        # any single item's counter by at most 1 — the classic MG bound
        F.coalesce(F.sum("c"), F.lit(0)).alias("__err")
    )
    out = (
        merged.filter(F.col("item").isNotNull())
        .crossJoin(F.broadcast(err))
        .select(
            "item",
            F.col("c").alias("count_lo"),
            (F.col("c") + F.col("__err")).alias("count_hi"),
        )
    )
    if top is not None:
        out = out.orderBy(F.col("count_lo").desc(), F.col("item").asc()).limit(top)
    return out


def mutual_information(df, col_a: str, col_b: str, base: float = 2.718281828459045):
    """Mutual information I(A;B) between two categorical columns (nats
    by default; pass base=2 for bits) — the feature-association
    primitive that catches non-linear dependence chi-square ranks
    miss. Returns a float.

    One joint-count aggregate (|A|x|B| rows) + two marginal aggregates
    derived FROM it (never a second data pass); the Σ p·ln(p/(pa·pb))
    fold runs on the contingency-sized frame. NULLs form their own
    category (they carry information too)."""
    from pyspark.sql import functions as F

    a = F.coalesce(F.col(col_a).cast("string"), F.lit("\x00NULL"))
    b = F.coalesce(F.col(col_b).cast("string"), F.lit("\x00NULL"))
    joint = df.groupBy(a.alias("a"), b.alias("b")).agg(
        F.count(F.lit(1)).alias("n")
    )
    from pyspark.sql.window import Window

    n_tot = F.sum("n").over(Window.partitionBy())
    pa = F.sum("n").over(Window.partitionBy("a"))
    pb = F.sum("n").over(Window.partitionBy("b"))
    mi_row = (
        joint.withColumn("__p", F.col("n") / n_tot)
        .withColumn("__pa", pa / n_tot)
        .withColumn("__pb", pb / n_tot)
        .agg(
            F.sum(
                F.col("__p")
                * F.log(float(base), F.col("__p") / (F.col("__pa") * F.col("__pb")))
            ).alias("mi")
        )
        .collect()[0]
    )
    return float(mi_row["mi"] or 0.0)


# ------------------------------------------------------------------
# Mergeable bottom-k quantile sketch (round 10)
# ------------------------------------------------------------------

def quantile_state_build(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    id_col: str,
    r: int = 1024,
    portable: bool = False,
) -> DataFrame:
    """Per-group MERGEABLE quantile state — the quantile companion to
    `hll_rollup`: (keys..., n long, sample array<struct<rank,v>>).

    The state is a BOTTOM-k-by-hash sample: each row's rank is a hash
    of its `id_col` (the VALUE never enters the hash, so duplicates
    sample correctly and the rank is independent of the distribution),
    and the state keeps the r smallest ranks — a uniform random sample
    without replacement that is EXACTLY mergeable: bottom-r of a union
    equals bottom-r of the concatenated bottom-r states, so fine
    states (per source, per day) can be persisted and re-aggregated to
    any coarser grain with `quantile_state_merge`, and the merged
    state is bit-identical to building directly at the coarse grain
    (pinned in tests — the same consistency contract as
    `hll_reaggregate`). Rank error of the estimate is
    ~sqrt(p(1-p)/r) (~1.6% at the median for r=1024).

    `portable=True` uses the md5-derived 60-bit hash whose DuckDB
    mirror is documented on `dedup.portable_hash64`, making the whole
    sketch — sample AND estimates — engine-reproducible for oracle
    checks; the default xxhash64 is the fast production path.

    Shape: one per-group window (rank sort) + one aggregate. At scale
    the window is keyed by the FINE grain, whose groups are
    increment-sized; merging then never rescans history. NULL values
    are excluded (quantiles over present values, count reflects the
    sampled population)."""
    from distributedqueryengine_spark.functions.dedup import portable_hash64

    if r < 1:
        raise ValueError(f"r must be >= 1, got {r}")
    from pyspark.sql.window import Window

    ks = list(keys)
    rid = F.col(id_col).cast("string")
    rank = (
        portable_hash64(rid) if portable
        else F.xxhash64(rid)
    )
    v = F.col(col).cast("double")
    base = df.filter(v.isNotNull()).select(
        *ks, v.alias("v"), rank.alias("rank"), rid.alias("__rid")
    )
    # Threshold pre-filter (r10): the window only needs the ~r smallest
    # ranks per group, so sorting all n rows is O(n log n) waste at
    # coarse grains. One cheap count aggregate sizes a per-group rank
    # threshold keeping ~8r expected survivors (hash ranks are
    # uniform); groups with n <= 8r skip the filter. EXACTNESS is
    # guarded in-plan: a starved group (sample < min(r, n), probability
    # ~exp(-3r) by Chernoff) raises instead of silently under-sampling.
    over = 8 * r
    counts = (
        base.groupBy(*ks).agg(F.count(F.lit(1)).alias("__gn"))
        if ks else base.agg(F.count(F.lit(1)).alias("__gn"))
    )
    frac = F.least(F.lit(1.0), F.lit(float(over)) / F.col("__gn"))
    if portable:
        thresh = (frac * F.lit(float(1 << 60))).cast("long")
    else:  # xxhash64 spans the full signed-long range
        thresh = (
            F.lit(-(2.0**63)) + frac * F.lit(2.0**64)
        ).cast("long")
    joined = (
        base.join(F.broadcast(counts), ks) if ks
        else base.crossJoin(F.broadcast(counts))
    )
    pruned = joined.filter(
        (F.col("__gn") <= F.lit(over)) | (F.col("rank") <= thresh)
    )
    w = Window.partitionBy(*ks).orderBy("rank", "v", "__rid")
    ranked = pruned.withColumn("__rn", F.row_number().over(w))
    agg = ranked.groupBy(*ks).agg(
        F.coalesce(F.max("__gn"), F.lit(0)).alias("n"),
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("__rn") <= r, F.struct(F.col("rank"), F.col("v"))
                )
            )
        ).alias("sample"),
    )
    short = F.size("sample") < F.least(F.lit(r), F.col("n").cast("int"))
    guarded_sample = F.when(
        short,
        F.raise_error(
            F.lit(
                "quantile_state_build: rank pre-filter starved a group "
                "(astronomically unlikely); raise r or report a bug"
            )
        ).cast("array<struct<rank:bigint,v:double>>"),
    ).otherwise(F.col("sample"))
    return agg.select(*ks, F.col("n"), guarded_sample.alias("sample"))


def quantile_state_merge(
    states: Sequence[DataFrame], keys: Sequence[str], r: int = 1024
) -> DataFrame:
    """Union quantile states up to a coarser grain (empty `keys` → one
    global state): counts add, samples concatenate and re-truncate to
    the r smallest ranks — exactly the state a direct build at the
    coarse grain would produce (same hash, same tie-break)."""
    from functools import reduce

    from pyspark.sql.window import Window

    ks = list(keys)
    u = reduce(lambda a, b: a.unionByName(b), states)
    counts = (
        u.groupBy(*ks).agg(F.sum("n").alias("n"))
        if ks else u.agg(F.sum("n").alias("n"))
    )
    elems = u.select(
        *ks, F.explode("sample").alias("e")
    ).select(*ks, F.col("e.rank").alias("rank"), F.col("e.v").alias("v"))
    w = Window.partitionBy(*ks).orderBy("rank", "v")
    kept = elems.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= r
    )
    samples = (
        kept.groupBy(*ks) if ks else kept.groupBy()
    ).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("rank"), F.col("v")))
        ).alias("sample")
    )
    return counts.join(samples, ks) if ks else counts.crossJoin(samples)


def quantile_state_estimate(
    state: DataFrame, keys: Sequence[str], probs: Sequence[float]
) -> DataFrame:
    """Quantile estimates from a (merged) state: (keys..., n, q_<p>...).
    Each estimate is the sample's lower empirical quantile — element
    floor(p·(m−1))+1 of the value-sorted sample — a REAL observed
    value, reproducible in any engine from the same sample."""
    ks = list(keys)
    vals = F.array_sort(
        F.transform(F.col("sample"), lambda s: s.getField("v"))
    )
    m = F.size(vals)
    out = [*(F.col(k) for k in ks), F.col("n")]
    for p in probs:
        if not (0.0 <= p <= 1.0):
            raise ValueError(f"prob {p} outside [0, 1]")
        idx = (F.floor(F.lit(float(p)) * (m - 1)) + 1).cast("int")
        out.append(
            F.element_at(vals, idx).alias(f"q_{str(p).replace('.', '_')}")
        )
    return state.select(*out)


# ------------------------------------------------------- KMV distinct sketch

_KMV_SPACE = float(1 << 60)  # portable_hash64 / xxhash64-folded hash space


def _kmv_hash(c: Column, portable: bool) -> Column:
    from distributedqueryengine_spark.functions.dedup import portable_hash64

    if portable:
        return portable_hash64(c.cast("string"))
    # fold xxhash64 into the same non-negative 60-bit space so the
    # estimator constant is shared between modes
    return F.pmod(F.xxhash64(c.cast("string")), F.lit(1 << 60))


def kmv_build(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    k: int = 256,
    portable: bool = False,
) -> DataFrame:
    """Per-group MERGEABLE K-Minimum-Values distinct sketch — the
    DISTINCT-COUNT and SET-OVERLAP companion to `quantile_state_build`
    (which samples ROWS; this samples the distinct-VALUE space):
    (keys..., kmin array<long> — the k smallest 60-bit hashes of the
    group's distinct values).

    Exactly mergeable: bottom-k of a union ≡ bottom-k over concatenated
    bottom-k states (`kmv_merge`, bit-identical to a direct coarse
    build). Beyond counts, KMV states support SET ALGEBRA estimates
    HLL can't give directly: `kmv_overlap` estimates Jaccard /
    intersection of two groups from their states alone (Beyer et al.,
    SIGMOD'07).

    `portable=True` uses the md5-60-bit hash (DuckDB mirror on
    `dedup.portable_hash64`) so state and estimates are
    engine-reproducible; default is xxhash64 folded into the same
    space. NULLs are excluded.

    Shape: one distinct-hash aggregate (the dedup shuffle carries
    8-byte hashes, partial-combined map-side) + one per-group window
    over DISTINCT hashes + the state aggregate. The window is guarded
    by the same rank-threshold pre-filter as `quantile_state_build`:
    one cheap count over the distinct hashes sizes a per-group
    threshold keeping ~8k expected survivors (hashes are uniform in
    the 60-bit space), so the sort is O(k) per group instead of
    O(d log d) at high distinct cardinality; a starved group
    (P ~ exp(-3k) by Chernoff) raises in-plan rather than silently
    under-sketching.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    from pyspark.sql.window import Window

    ks = list(keys)
    c = F.col(col)
    h = (
        df.where(c.isNotNull())
        .select(*ks, _kmv_hash(c, portable).alias("__h"))
        .distinct()
    )
    over = 8 * k
    counts = (
        h.groupBy(*ks).agg(F.count(F.lit(1)).alias("__gn"))
        if ks else h.agg(F.count(F.lit(1)).alias("__gn"))
    )
    frac = F.least(F.lit(1.0), F.lit(float(over)) / F.col("__gn"))
    thresh = (frac * F.lit(_KMV_SPACE)).cast("long")  # both modes 60-bit
    joined = (
        h.join(F.broadcast(counts), ks) if ks
        else h.crossJoin(F.broadcast(counts))
    )
    pruned = joined.filter(
        (F.col("__gn") <= F.lit(over)) | (F.col("__h") <= thresh)
    )
    w = Window.partitionBy(*[F.col(x) for x in ks]).orderBy(F.col("__h"))
    agg = (
        pruned.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .groupBy(*ks)
        .agg(
            F.array_sort(F.collect_list("__h")).alias("kmin"),
            F.max("__gn").alias("__gn"),
        )
    )
    short = F.size("kmin") < F.least(
        F.lit(k), F.col("__gn").cast("int")
    )
    guarded = F.when(
        short,
        F.raise_error(
            F.lit(
                "kmv_build: rank pre-filter starved a group "
                "(astronomically unlikely); raise k or report a bug"
            )
        ).cast("array<bigint>"),
    ).otherwise(F.col("kmin"))
    return agg.select(*ks, guarded.alias("kmin"), F.lit(k).alias("k"))


def kmv_merge(states: Sequence[DataFrame], keys: Sequence[str]) -> DataFrame:
    """Union KMV states per group: distinct hashes of the concatenated
    samples, keep the k smallest — EXACTLY the state a direct build
    over the union would produce (bit-identical, pinned in tests)."""
    if not states:
        raise ValueError("states must be non-empty")
    u = states[0]
    for s in states[1:]:
        u = u.unionByName(s)
    ks = list(keys)
    return (
        u.groupBy(*ks)
        .agg(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("kmin")))
            ).alias("__all"),
            F.max("k").alias("k"),
        )
        .select(
            *ks,
            F.slice(F.col("__all"), 1, F.col("k")).alias("kmin"),
            "k",
        )
    )


def kmv_estimate(state: DataFrame, keys: Sequence[str]) -> DataFrame:
    """(keys..., n_distinct_est double): exact |kmin| when the group
    held fewer than k distinct values, else the standard KMV estimator
    (k-1) · SPACE / kmin[k-1]. Relative error ~ 1/sqrt(k-2)."""
    m = F.size("kmin")
    kth = F.element_at(F.col("kmin"), F.col("k")).cast("double")
    est = F.when(m < F.col("k"), m.cast("double")).otherwise(
        (F.col("k") - 1) * F.lit(_KMV_SPACE) / kth
    )
    return state.select(*keys, F.round(est, 2).alias("n_distinct_est"))


def kmv_overlap(state_a: DataFrame, state_b: DataFrame) -> DataFrame:
    """Jaccard / intersection / union estimates from two GLOBAL KMV
    states (1-row each, same k): the bottom-k of the merged sample is
    a uniform sample of the union, so J ≈ |{x ∈ X : x ∈ A ∧ x ∈ B}|/|X|
    with X the union's bottom-k. Output 1 row:
    (jaccard, n_union_est, n_intersect_est).

    This is the estimate HLL cannot provide from states alone
    (inclusion-exclusion over HLLs subtracts two large noisy numbers;
    the KMV sample answers membership directly)."""
    a = state_a.select(
        F.col("kmin").alias("ka"), F.col("k").alias("k_a")
    )
    b = state_b.select(
        F.col("kmin").alias("kb"), F.col("k").alias("k_b")
    )
    both = a.crossJoin(F.broadcast(b))
    merged = F.slice(
        F.array_sort(F.array_distinct(F.concat("ka", "kb"))), 1, F.col("k_a")
    )
    inter = F.size(F.array_intersect(merged, F.array_intersect("ka", "kb")))
    jacc = inter / F.size(merged)
    m = F.size(merged)
    kth = F.element_at(merged, m).cast("double")
    union_est = F.when(
        m < F.col("k_a"), m.cast("double")
    ).otherwise((m - 1) * F.lit(_KMV_SPACE) / kth)
    chk = F.when(
        F.col("k_a") == F.col("k_b"), F.lit(True)
    ).otherwise(
        F.raise_error(F.lit("kmv_overlap: states built with different k"))
    )
    return both.where(chk).select(
        F.round(jacc, 6).alias("jaccard"),
        F.round(union_est, 2).alias("n_union_est"),
        F.round(jacc * union_est, 2).alias("n_intersect_est"),
    )


def kmv_overlap_matrix(state: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Pairwise Jaccard / union / intersection estimates between ALL
    groups of one KMV state table — e.g. "user overlap between every
    pair of event types" from one scan's worth of sketches.

    One self-join over the (tiny: one row per group) state table with
    a lexicographic key guard, then the same per-pair array math as
    `kmv_overlap`. Output: (a_<keys...>, b_<keys...>, jaccard,
    n_union_est, n_intersect_est) per unordered group pair. States
    must share k (a single build guarantees it)."""
    ks = list(keys)
    if not ks:
        raise ValueError("kmv_overlap_matrix needs grouped states; for "
                         "two global states use kmv_overlap")
    a = state.select(
        *[F.col(x).alias(f"a_{x}") for x in ks],
        F.col("kmin").alias("ka"), F.col("k").alias("k_a"),
    )
    b = state.select(
        *[F.col(x).alias(f"b_{x}") for x in ks],
        F.col("kmin").alias("kb"),
    )
    # Struct comparison is field-wise lexicographic — unlike a string
    # concat, ('ab','c') vs ('a','bc') stay distinct, so every distinct
    # unordered pair emits exactly one row.
    guard = F.struct(*[F.col(f"a_{x}") for x in ks]) < \
        F.struct(*[F.col(f"b_{x}") for x in ks])
    both = a.crossJoin(b).where(guard)
    merged = F.slice(
        F.array_sort(F.array_distinct(F.concat("ka", "kb"))), 1, F.col("k_a")
    )
    inter = F.size(F.array_intersect(merged, F.array_intersect("ka", "kb")))
    m = F.size(merged)
    jacc = inter / m
    kth = F.element_at(merged, m).cast("double")
    union_est = F.when(m < F.col("k_a"), m.cast("double")).otherwise(
        (m - 1) * F.lit(_KMV_SPACE) / kth
    )
    return both.select(
        *[f"a_{x}" for x in ks],
        *[f"b_{x}" for x in ks],
        F.round(jacc, 6).alias("jaccard"),
        F.round(union_est, 2).alias("n_union_est"),
        F.round(jacc * union_est, 2).alias("n_intersect_est"),
    )
