"""Deterministic hash-based sampling and dataset splitting.

Training-data pipelines need reproducible row-level sampling and
train/val/test splits that (a) never depend on row order or partition
layout, (b) are stable across reruns and engines, and (c) assign a row
to exactly one side. Seeded `df.sample` satisfies none of these across
engines (implementation-defined RNG streams); the standard trick is to
hash a stable key and threshold the hash.

We use the first 4 hex chars of `md5(key || salt)` — a uniform draw
over a 65,536-point space, identical in any engine with md5 (Spark and
DuckDB produce the same lowercase hex, so the DuckDB oracle replays the
exact assignment). Thresholds compare *hex strings* lexicographically
(equivalent to numeric compare on lowercase fixed-width hex), avoiding
engine-specific hex→int conversion quirks.

Scale: pure codegen'd expressions per row — no shuffle, no state, no
driver participation; safe at any cardinality. The salt gives
independent re-rolls (e.g. per-epoch subsampling) without touching the
key. Reference has no sampling surface; this is part of the
beyond-reference training-data operator set (SURVEY §7.3 M5).

The module also holds the package's one distributed-rank kernel,
`ordered_prefix`: exact ranks and running totals under any order
without a single-partition window. Value orders sample their own cut
points (`value_prefix`: `range_cut_points` → `range_bucket`); hash orders
(`hash_order_prefix` and the caps, budgets and exact splits built on
it) bucket on the first hash byte.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

HEX_BITS = 4  # hex chars of the digest used ⇒ 16^4 = 65,536 buckets
HEX_SPACE = 16**HEX_BITS
CUT_BUCKETS = 64  # value-order buckets: range_cut_points returns ≤ 63 cuts
CUT_SAMPLE_ROWS = 4096  # hash-sampled values the cut points come from


def hash_hex_prefix(key: Column | str, salt: str = "") -> Column:
    """First `HEX_BITS` hex chars of md5(key || salt) — the uniform
    [0, HEX_SPACE) draw behind all sampling/splitting here."""
    c = F.col(key) if isinstance(key, str) else key
    s = c.cast("string")
    if salt:
        s = F.concat(s, F.lit(salt))
    return F.substring(F.md5(s), 1, HEX_BITS)


def hex_threshold(fraction: float) -> str:
    """Hex-string threshold t such that P(prefix < t) == `fraction`,
    quantized to the 16^HEX_BITS grid. Only valid for fraction < 1;
    fractions within half a grid step of 1 clamp to (HEX_SPACE-1)/
    HEX_SPACE — the largest probability a strict 4-hex compare can
    express (a 5-char '10000' would break the lexicographic order)."""
    if not 0.0 <= fraction < 1.0:
        raise ValueError(f"fraction must be in [0, 1): {fraction}")
    return format(min(int(round(fraction * HEX_SPACE)), HEX_SPACE - 1), f"0{HEX_BITS}x")


def hash_sample(df: DataFrame, key: Column | str, fraction: float, salt: str = "") -> DataFrame:
    """Deterministic ~`fraction` sample: keep rows whose hash prefix
    falls below the threshold. Stable under reruns, row order, and
    partitioning; disjoint salts give independent samples."""
    if fraction >= 1.0:
        return df
    return df.filter(hash_hex_prefix(key, salt) < F.lit(hex_threshold(fraction)))


def split_column(key: Column | str, splits: Mapping[str, float], salt: str = "") -> Column:
    """Label column assigning each row to exactly one named split.

    `splits` maps name → fraction in iteration order; fractions must sum
    to 1 (±1e-9). The last split takes the remainder of the hash space,
    so boundary rounding never drops a row.
    """
    items = list(splits.items())
    if len(items) < 2:
        raise ValueError("need at least 2 splits")
    total = sum(f for _, f in items)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    h = hash_hex_prefix(key, salt)
    expr = None
    cum = 0.0
    for name, frac in items[:-1]:
        cum += frac
        cond = h < F.lit(hex_threshold(cum))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return expr.otherwise(items[-1][0])


def hash_split(
    df: DataFrame,
    key: Column | str,
    splits: Mapping[str, float],
    salt: str = "",
    col_name: str = "split",
) -> DataFrame:
    """Attach a deterministic train/val/test-style split label."""
    return df.withColumn(col_name, split_column(key, splits, salt))


def stratified_hash_sample(
    df: DataFrame,
    key: Column | str,
    strata_col: str,
    fractions: Mapping[str, float],
    salt: str = "",
    default: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-mixture /
    source-weighting primitive (keep 100% of wiki, 10% of crawl, ...).
    The deterministic analog of `df.sampleBy`: same hash-threshold
    mechanics as `hash_sample`, with the threshold chosen per stratum.
    Strata missing from `fractions` get `default` (0 = drop)."""
    h = hash_hex_prefix(key, salt)
    keep = F.lit(False)
    for stratum, frac in fractions.items():
        cond = (F.col(strata_col) == stratum) & (
            F.lit(True) if frac >= 1.0 else h < F.lit(hex_threshold(frac))
        )
        keep = keep | cond
    # NULL strata take the default too: isNull is explicit because a
    # NULL == / isin comparison is NULL, which filter() would DROP —
    # silently losing null-stratum rows even at default=1.0
    if fractions:
        others = F.col(strata_col).isNull() | ~F.col(strata_col).isin(*fractions.keys())
    else:
        others = F.lit(True)
    if default >= 1.0:
        keep = keep | others
    elif default > 0.0:
        keep = keep | (others & (h < F.lit(hex_threshold(default))))
    return df.filter(keep)


def hash_order_prefix(
    df: DataFrame,
    key: Column | str,
    group_cols: Iterable[str] = (),
    salt: str = "",
    weight: Column | str | None = None,
    out_pos: str = "position",
    out_prefix: str = "cum_weight",
) -> DataFrame:
    """Distributed rank — and, with `weight`, inclusive running total —
    under the deterministic order (md5(key || salt), key), optionally
    partitioned by `group_cols` (e.g. per-source corpus quotas).

    `ordered_prefix` under a hash order: the first hash byte is a
    RANGE prefix of that order, so it serves as the bucket — 256
    uniform buckets, skew-free by construction, no sampling pass. The
    salt re-rolls the order without touching the key."""
    c = F.col(key) if isinstance(key, str) else key
    s = c.cast("string")
    if salt:
        s = F.concat(s, F.lit(salt))
    # a NULL key hashes to NULL, which sorts first: bucket -1 keeps
    # those rows ahead of every hash byte (a NULL bucket would miss the
    # rejoin)
    out = ordered_prefix(
        df.withColumn("_h", F.md5(s)),
        [F.col("_h"), c],
        F.coalesce(F.conv(F.substring("_h", 1, 2), 16, 10).cast("long"), F.lit(-1)),
        group_cols,
        out_pos=out_pos,
        weight=weight,
        out_prefix=out_prefix,
    )
    return out.drop("_h")


def hash_order_position(
    df: DataFrame,
    key: Column | str,
    salt: str = "",
    out: str = "position",
) -> DataFrame:
    """Deterministic global training-order shuffle: 1-based contiguous
    `position` of every row under the order (md5(key || salt), key).
    The ungrouped case of `hash_order_prefix` (see `ordered_prefix`)."""
    return hash_order_prefix(df, key, (), salt, out_pos=out)


def range_cut_points(df: DataFrame, value: str) -> list[float]:
    """Cut points splitting `value`'s distribution into ~`CUT_BUCKETS`
    equal-mass ranges — the bucketing side of the value-order
    distributed rank (`ordered_prefix`). The cut points only steer
    PARALLELISM, never correctness — any monotone bucketing yields the
    same exact ranks, a degenerate cut list merely loses fan-out.

    One bounded driver-side action: empirical quantiles of the
    `CUT_SAMPLE_ROWS` hash-smallest values (ORDER BY xxhash64(value)
    LIMIT N → Spark's TakeOrderedAndProject: a size-N bounded heap per
    partition, no sort shuffle, ≤ N*8 bytes to the driver at any
    scale). Deterministic under layout/reruns (pure value-hash order),
    and a 4096-row uniform sample pins each cut within ~1.6% rank
    error — far finer than the 1/64 bucket width needs."""
    rows = (
        df.select(F.col(value).cast("double").alias("_v"))
        .where(F.col("_v").isNotNull())
        .orderBy(F.xxhash64("_v"))
        .limit(CUT_SAMPLE_ROWS)
        .collect()
    )
    vals = sorted(r["_v"] for r in rows)
    if not vals:
        return []
    qs = [i / CUT_BUCKETS for i in range(1, CUT_BUCKETS)]
    return sorted({vals[min(int(q * len(vals)), len(vals) - 1)] for q in qs})


def parquet_footer_cuts(
    path: str,
    column: str,
    n_buckets: int = CUT_BUCKETS,
    max_footers: int = 64,
) -> list[float] | None:
    """Range cut points from parquet row-group STATISTICS — a driver-
    side footer read, zero Spark jobs. Cut points only steer the
    parallelism of `ordered_prefix` (any monotone bucketing yields the
    same exact ranks), so metadata-grade precision is enough; callers
    save the sample action (and the localCheckpoint that existed only
    to keep that action off an expensive upstream, e.g. a corpus
    tokenize).

    Equal-mass argument: parquet row groups are written at a fixed
    target size, so the sorted per-row-group (min+max)/2 midpoints are
    an ~equal-weight sample of the column's distribution — every k-th
    midpoint is an approximate quantile even when files overlap in
    range. With fewer row groups than buckets (small/single-file
    tables), cuts interpolate uniformly inside the global [min, max]:
    exact equal-mass for dense keys, and merely uneven fan-out — never
    wrong results — for clustered ones. Datasets with pathologically
    clustered keys AND few row groups should keep the sampled
    `range_cut_points` path.

    Returns None when footers can't vouch for the column (missing
    stats, column absent, non-numeric min/max, no files) — the caller
    falls back to `range_cut_points`. At most `max_footers` evenly
    spaced file footers are read so a million-file lake costs a
    bounded driver read."""
    import glob
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = sorted(
            f
            for pat in ("*.parquet", "part-*")
            for f in glob.glob(os.path.join(path, pat))
        )
        files = sorted(set(files))
    else:
        files = [path] if os.path.exists(path) else []
    if not files:
        return None
    if len(files) > max_footers:
        step = len(files) / max_footers
        files = [files[int(i * step)] for i in range(max_footers)]
    spans: list[tuple[float, float]] = []
    try:
        for f in files:
            md = pq.ParquetFile(f).metadata
            ci = next(
                (i for i in range(md.num_columns) if md.schema.column(i).name == column),
                None,
            )
            if ci is None:
                return None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    return None
                spans.append((float(st.min), float(st.max)))
    except Exception:
        return None
    if not spans:
        return None
    qs = [i / n_buckets for i in range(1, n_buckets)]
    if len(spans) >= n_buckets:
        mids = sorted((lo + hi) / 2.0 for lo, hi in spans)
        cuts = {mids[min(int(q * len(mids)), len(mids) - 1)] for q in qs}
    else:
        lo = min(s[0] for s in spans)
        hi = max(s[1] for s in spans)
        if hi <= lo:
            return []
        cuts = {lo + (hi - lo) * q for q in qs}
    return sorted(cuts)


def _uniform_step(cuts: Sequence[float]) -> float | None:
    """The common spacing of `cuts` if they are (numerically) uniformly
    spaced, else None. The criterion is the ADJACENT-GAP ratio
    (max_gap ≤ min_gap·(1+1e-9)), not a span-relative tolerance: a
    span-relative check lets one extreme outlier cut (span 1e18,
    everything else clustered) swallow the whole fine structure and
    misdetect wildly skewed equal-mass cuts as uniform — the closed
    form would then put nearly all mass in one bucket and silently
    collapse the depth bound. Gap-ratio admits footer-interpolated
    cuts (gaps equal up to float ulps) and rejects anything whose
    uniformization would move a bucket boundary by more than ~1e-9 of
    a gap."""
    if len(cuts) < 2:
        return None
    # A non-finite cut (inf/nan can arrive from parquet footer stats or
    # a data sample over a double column containing inf) poisons the
    # gap arithmetic below — inf gaps compare False against inf*(1+eps)
    # and NaN compares False against everything — and would return an
    # inf/nan step instead of rejecting. Non-finite cuts always take
    # the total CASE-chain path.
    if not all(math.isfinite(float(c)) for c in cuts):
        return None
    gaps = [float(cuts[i + 1]) - float(cuts[i]) for i in range(len(cuts) - 1)]
    lo = min(gaps)
    if lo <= 0:
        return None
    if max(gaps) > lo * (1 + 1e-9):
        return None
    return (float(cuts[-1]) - float(cuts[0])) / (len(cuts) - 1)


def range_bucket(value: str, cuts: Sequence[float], descending: bool = False) -> Column:
    """Monotone bucket index of `value` along the ascending (or
    descending) value order: the count of cut points strictly before
    the value in sort direction. A pure per-row codegen expression —
    ties of `value` always share a bucket, so any order whose leading
    key is `value` is respected by construction. NaN needs no special
    case: Spark's comparisons treat NaN as the LARGEST value (matching
    its sort position), so `c < NaN` is true for every cut — NaN lands
    in the last bucket ascending and bucket 0 descending
    (regression-tested). NULL keys match Spark's default sort
    position WITHIN Spark — first ascending (bucket 0), last
    descending (last bucket) — so ranks agree with a naive
    Window.orderBy; but DuckDB sorts NULLs last either way, so a
    null-keyed rank cannot be engine-stable across oracles.

    Implementation notes (both forms produce a MONOTONE bucketing
    with the identical NULL/NaN placement — callers' ranks are exact
    under any of them, so the choice is purely a plan-size/driver-cost
    trade):
    - UNIFORM cuts (footer-interpolated ones always are) take a
      closed-form ~10-node expression — CEIL of an affine map, clamped
      — instead of a |cuts|-term CASE chain. The chain's cost is NOT
      execution (codegen collapses it) but DRIVER latency: ~6 py4j
      round trips per cut to build, and every subsequent DataFrame op
      re-walks the big subtree in analysis — measured ~0.65 s of plan
      build per bucketed-prefix query at 64 cuts. NaN is guarded
      explicitly: Spark's CEIL/FLOOR cast NaN to 0, which would send
      NaN to the FIRST bucket while the sort puts it LAST.
    - Non-uniform cuts render the whole CASE chain as ONE spark-sql
      string (`F.expr`): the same tree as a per-cut Column chain, with
      zero per-cut py4j round trips. Non-finite cuts (inf/nan can
      arrive from parquet footer stats or a sampled double column)
      are string casts — `inf` is not a SQL literal. Not
      `size(filter(array))` — the higher-order-function form hits a
      Spark 4 internal error (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND) when
      the optimizer inlines the lambda into a downstream window sort;
      the CASE chain codegens identically and collapses fine."""
    if not cuts:
        return F.lit(0).cast("long")
    v = F.col(value).cast("double")
    n = len(cuts)
    step = _uniform_step(cuts)
    if step is not None:
        c0 = float(cuts[0])
        # FLOOR/CEIL convert double→long; a value whose distance from
        # c0 exceeds ~9.2e18·step would overflow that conversion (an
        # error under ANSI mode) where the CASE-chain forms are total
        # over all doubles. Clamp the RATIO to [-1, n+1] first: values
        # beyond the cut span land in an end bucket regardless, and the
        # when() keeps NULL as NULL — a bare least/greatest would SKIP
        # the null and return the clamp literal, silently moving NULL
        # rows out of their documented bucket. (NaN passes through the
        # clamp arbitrarily; the explicit isnan branch below wins.)
        r = (v - c0) / step
        r = F.when(r.isNull(), r).otherwise(
            F.least(F.lit(float(n) + 1.0), F.greatest(F.lit(-1.0), r))
        )
        if descending:
            # count of cuts strictly above v = n - count(c_i <= v)
            below_or_eq = F.least(
                F.lit(n).cast("long"),
                F.greatest(F.lit(0).cast("long"), F.floor(r) + 1),
            )
            return (
                F.when(F.isnan(v), F.lit(0))  # NaN sorts FIRST desc
                .otherwise(F.lit(n) - below_or_eq)  # NULL: n - 0 = n, sorts last ✓
                .cast("long")
            )
        below = F.least(
            F.lit(n).cast("long"),
            F.greatest(F.lit(0).cast("long"), F.ceil(r)),
        )
        # NaN sorts LAST asc; NULL: GREATEST skips it -> bucket 0 ✓
        return F.when(F.isnan(v), F.lit(n)).otherwise(below).cast("long")
    name = "`" + value.replace("`", "``") + "`"
    vs = f"CAST({name} AS DOUBLE)"
    op = "<" if descending else ">"
    lits = [repr(c) if math.isfinite(c) else f"'{c}'" for c in map(float, cuts)]
    chain = " + ".join(f"(CASE WHEN {vs} {op} CAST({c} AS DOUBLE) THEN 1 ELSE 0 END)" for c in lits)
    if descending:
        # Spark sorts NULL last under desc; the NULL comparisons all
        # fall to ELSE 0, which would put NULL rows in the FIRST bucket
        # and silently shift every rank
        return F.expr(f"CAST(CASE WHEN {name} IS NULL THEN {n} ELSE {chain} END AS BIGINT)")
    return F.expr(f"CAST({chain} AS BIGINT)")


def _bucket_axis(gcols: list[str]) -> WindowSpec:
    """Per-group window over the (group, bucket) side relation in
    bucket order. Its input is bounded by the bucketing: ≤ 64 value
    buckets per group (`range_cut_points`), ≤ 256 hash buckets (the
    first hash byte), or a caller's composite bound (curriculum_order:
    10 NTILEs × 256). So ONE task per group is the intended plan. An
    ungrouped axis partitions by the constant `_bk & 0`: an empty
    partition spec makes WindowExec warn "No Partition Defined" on
    every such bounded window, burying the warnings about unbounded
    ones, and the optimizer folds a literal key (or `_bk * 0` on a
    non-nullable bucket) back into an empty spec."""
    return Window.partitionBy(*(gcols or [F.col("_bk").bitwiseAND(0)])).orderBy("_bk")


def ordered_prefix(
    df: DataFrame,
    order_cols: Sequence[Column],
    bucket: Column,
    group_cols: Iterable[str] = (),
    out_pos: str | None = None,
    weight: Column | str | None = None,
    out_prefix: str = "cum_weight",
    out_total: str | None = None,
    out_total_weight: str | None = None,
    offsets_from_source: bool = False,
    weights: Sequence[tuple[Column | str, str]] = (),
) -> DataFrame:
    """Distributed rank / running total under `order_cols`, optionally
    partitioned by `group_cols` — the one bucketed prefix kernel behind
    the package's ranks, percentiles, NTILEs, trims and hash-order caps.

    A naive ROW_NUMBER()/SUM() OVER (ORDER BY ...) is a single-partition
    window — the whole table (or the whole hot group) through one task.
    The scalable shape is the classic distributed rank:
      1. `bucket` — a monotone non-decreasing function of `order_cols`
         within each group, so bucket boundaries respect the order;
      2. row_number (+ running weights) within each (group, bucket) —
         a parallel window even inside ONE hot group;
      3. per-(group, bucket) counts/weight sums → running offsets via
         a window over the tiny bucket axis (`_bucket_axis`) →
         broadcast back;
      4. position = bucket offset + within-bucket row number (same for
         each weight prefix).
    Two shuffles of the data (bucket exchange + window sort) — the same
    cost as any global sort — plus a tiny side plan. Ranks are EXACT
    however balanced the buckets are; balance only steers parallelism.

    `value_prefix` passes a VALUE order's sampled range bucket,
    `hash_order_prefix` the first hash byte; a caller may pass any
    other monotone, non-NULL bucket.

    The rejoin is null-safe: a NULL group key is a real group (the
    windows keep it), so its rows are ranked as their own group rather
    than dropped — the group columns come back renamed and compared
    with eqNullSafe (still a hashable equi-key, the broadcast join
    survives).

    `out_total` additionally attaches the per-group row count (from
    the same side relation — no extra pass), which callers like the
    exact-NTILE curriculum bucketing need; `out_total_weight` does the
    same for the per-group WEIGHT total (requires `weight`), sparing
    weighted-quantile callers a separate groupBy pass over `df` plus a
    totals join.

    `offsets_from_source=True` derives the per-bucket counts/weight
    sums from a direct hash agg on the PRE-WINDOW stream instead of
    re-consuming the windowed one. Exchange reuse only dedupes the
    SHUFFLE WRITE — each consumer of the window exchange still pays
    its own sort + window, so the default shape sorts the axis twice.
    The source-agg shape replaces that second sort+window with one
    map-side-combined agg (tiny shuffle: ≤ |groups|·|buckets| rows per
    task) at the price of a second source scan — a strict win whenever
    `df` is localCheckpoint'd or otherwise cheap to rescan (measured
    2.36 s → 1.98 s on trimmed_mean_price at sf0.1, identical rows).
    Keep the default when the source embeds an expensive upstream
    (pack_chunks' tokenize) that a second scan would recompute.
    DETERMINISM: the flag scans `df` TWICE (ranked branch + offsets
    agg); a source embedding nondeterministic expressions (rand,
    monotonically_increasing_id, an uncheckpointed sample) can
    disagree between the two scans and corrupt the offsets — the flag
    requires a deterministic or checkpointed source, same as the cost
    caveat above already steers to.

    `weights` adds EXTRA running totals in the same single pass:
    each (column, out_name) pair gets its own inclusive prefix under
    the identical order — one bucket exchange, one sort, one offsets
    side for ALL of them, where chaining ordered_prefix calls would
    pay the full machinery per measure (the ks_test_sources shape:
    cumulative group-A count and cumulative total count in one pass)."""
    gcols = list(group_cols)
    b = df.withColumn("_bk", bucket.cast("long"))
    w = Window.partitionBy(*gcols, "_bk").orderBy(*order_cols)
    # row_number is ALWAYS computed (not only when out_pos is asked
    # for): the offsets side below aggregates the WINDOWED stream —
    # max(_rn) is the bucket count and max_by(_cw, _rn) the bucket
    # weight total (_rn is unique within the bucket, so no tie
    # ambiguity). Aggregating from `ranked` instead of from `b` means
    # the source is scanned ONCE: a groupBy on `b` plans its partial
    # aggregation below a fresh Exchange, which is structurally
    # different from the window's Exchange and defeats reuse — the
    # pre-r8 shape paid a full second source pass (a second tokenize,
    # for pack_chunks). The agg over the window output is partition-
    # local (already hashed on (group, _bk)), so it adds NO exchange;
    # the one window shuffle is written once and read twice.
    ranked = b.withColumn("_rn", F.row_number().over(w))
    aggs = [F.max("_rn").alias("_n")]
    src_aggs = [F.count(F.lit(1)).alias("_n")]
    # (weight column, output name, running col, offset col, bucket-sum col)
    # — the single `weight`/`out_prefix` pair is just the first entry
    wlist: list[tuple[Column, str, str, str, str]] = []
    if weight is not None:
        wc = F.col(weight) if isinstance(weight, str) else weight
        wlist.append((wc, out_prefix, "_cw", "_woff", "_ws"))
    for i, (wcol, oname) in enumerate(weights):
        wc = F.col(wcol) if isinstance(wcol, str) else wcol
        wlist.append((wc, oname, f"_cw{i}", f"_woff{i}", f"_ws{i}"))
    for wc, _oname, cwn, _woffn, wsn in wlist:
        ranked = ranked.withColumn(
            cwn, F.sum(wc).over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        aggs.append(F.max_by(cwn, "_rn").alias(wsn))
        src_aggs.append(F.sum(wc).alias(wsn))
    ow = _bucket_axis(gcols).rowsBetween(Window.unboundedPreceding, -1)
    # same values either way: count == max(_rn), sum(w) == max_by(_cw, _rn)
    offsets = (
        b.groupBy(*gcols, "_bk").agg(*src_aggs)
        if offsets_from_source
        else ranked.groupBy(*gcols, "_bk").agg(*aggs)
    )
    # all bucket-axis windows in ONE projection, so they share one
    # partition key and one Window operator
    axis = {}
    if out_pos is not None:
        axis["_off"] = F.coalesce(F.sum("_n").over(ow), F.lit(0))
    for _wc, _oname, _cwn, woffn, wsn in wlist:
        axis[woffn] = F.coalesce(F.sum(wsn).over(ow), F.lit(0))
    tw = _bucket_axis(gcols).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    if out_total is not None:
        axis["_tot"] = F.sum("_n").over(tw)
    if out_total_weight is not None:
        if weight is None:
            raise ValueError("out_total_weight requires weight")
        axis["_wtot"] = F.sum("_ws").over(tw)
    gkeys = [f"_g{i}" for i in range(len(gcols))]
    side = offsets.withColumns(axis).select(
        *[F.col(g).alias(k) for g, k in zip(gcols, gkeys)], F.col("_bk").alias("_obk"), *axis
    )
    cond = F.col("_bk") == F.col("_obk")
    for g, k in zip(gcols, gkeys):
        cond = cond & F.col(g).eqNullSafe(F.col(k))
    outs = {}
    if out_pos is not None:
        outs[out_pos] = F.col("_off") + F.col("_rn")
    for _wc, oname, cwn, woffn, _wsn in wlist:
        outs[oname] = F.col(woffn) + F.col(cwn)
    if out_total is not None:
        outs[out_total] = F.col("_tot")
    if out_total_weight is not None:
        outs[out_total_weight] = F.col("_wtot")
    out = ranked.join(F.broadcast(side), cond).withColumns(
        {name: c.cast("long") for name, c in outs.items()}
    )
    drop = ["_bk", "_obk", "_rn", *gkeys, *axis]
    drop += [cwn for _wc, _o, cwn, _woffn, _wsn in wlist]
    return out.drop(*drop)


def value_prefix(
    df: DataFrame,
    value: str,
    tiebreak: Sequence[str] = (),
    descending: bool = False,
    **kw,
) -> DataFrame:
    """`ordered_prefix` under the VALUE order (`value` asc or desc, then
    `tiebreak`), bucketed by cut points sampled from `value`:
    `range_cut_points` — one bounded driver-side action over `df` —
    then `range_bucket`. `kw` passes through to `ordered_prefix`."""
    lead = F.col(value).desc() if descending else F.col(value).asc()
    bucket = range_bucket(value, range_cut_points(df, value), descending)
    return ordered_prefix(df, [lead, *map(F.col, tiebreak)], bucket, **kw)


def grouped_prefix_peak(
    df: DataFrame,
    order_cols: Sequence[Column],
    bucket: Column,
    group_cols: Iterable[str] = (),
    weight: Column | str = "delta",
    out: str = "peak",
) -> DataFrame:
    """Per-group MAX of the inclusive running total of `weight` under
    the bucketed order — the sweep-line "peak concurrency" reduction,
    fused so the windowed stream has exactly ONE consumer.

    The identity: with per-bucket offsets off(bk) = Σ weight of all
    preceding buckets (same-group), the global running total at a row
    is off(bk) + cw(row), so

        max_rows(off + cw)  ==  max_buckets(off(bk) + max_rows∈bk cw)

    — both sides exact integer arithmetic. Where `ordered_prefix` +
    `groupBy().max()` pays a SECOND sort+window for the offsets
    branch, a broadcast join back onto the full boundary stream, and
    a group-wide aggregation over the whole curve, this shape pays
    one bucket exchange + one sort + a partition-local per-(group,
    bucket) agg (max running total, weight sum — no new exchange:
    the window output is already hash-partitioned on those keys),
    then finishes on the tiny |groups|·|buckets| axis (one bounded
    exchange for the offsets window + final max). Same contract as
    `ordered_prefix`: `bucket` must be monotone non-decreasing in
    `order_cols` within each group; `weight` must be non-NULL (a
    NULL weight row would be skipped by the running sum but change
    no downstream offset — callers feed ±1 deltas)."""
    gcols = list(group_cols)
    wc = F.col(weight) if isinstance(weight, str) else weight
    b = df.withColumn("_bk", bucket.cast("long")).withColumn("_wv", wc)
    w = Window.partitionBy(*gcols, "_bk").orderBy(*order_cols)
    run = b.withColumn(
        "_cw", F.sum("_wv").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    per_bk = run.groupBy(*gcols, "_bk").agg(
        F.max("_cw").alias("_mx"), F.sum("_wv").alias("_ws")
    )
    ow = _bucket_axis(gcols).rowsBetween(Window.unboundedPreceding, -1)
    return (
        per_bk.withColumn("_off", F.coalesce(F.sum("_ws").over(ow), F.lit(0)))
        .groupBy(*gcols)
        .agg(F.max(F.col("_off") + F.col("_mx")).cast("long").alias(out))
    )


def cap_per_group(
    df: DataFrame,
    key: Column | str,
    group_cols: Iterable[str],
    max_rows: int,
    salt: str = "",
    out: str = "position",
) -> DataFrame:
    """Per-group row cap: keep the `max_rows` hash-smallest rows of
    each group — the per-domain/per-source document cap every crawl
    curation applies (no single domain may dominate the corpus).
    Deterministic under reruns and layout; `out` is the 1-based rank
    of the kept row within its group. Skew-safe: the rank comes from
    `hash_order_prefix`, which fans even one hot domain across 256
    bucket windows instead of one task."""
    ranked = hash_order_prefix(df, key, group_cols, salt, out_pos=out)
    return ranked.filter(F.col(out) <= max_rows)


def budget_per_group(
    df: DataFrame,
    key: Column | str,
    group_cols: Iterable[str],
    weight: Column | str,
    budget: int,
    salt: str = "",
    out: str = "cum_weight",
) -> DataFrame:
    """Per-group weight budget: walk each group in deterministic hash
    order accumulating `weight` (token counts, bytes) and keep rows
    while the INCLUSIVE running total stays ≤ `budget` — "take ~N
    tokens per source" corpus composition. A row that would cross the
    budget is dropped, as is everything after it (hash order makes
    "after" well-defined and layout-independent). `out` is the
    inclusive running total over kept rows. Same skew-safe distributed
    prefix-sum machinery as `cap_per_group`."""
    pref = hash_order_prefix(df, key, group_cols, salt, weight=weight, out_prefix=out)
    return pref.filter(F.col(out) <= budget)


def temperature_mixture(
    df: DataFrame,
    key: Column | str,
    strata_col: str,
    alpha: float = 0.5,
    target_rows: int = 1000,
    salt: str = "",
) -> DataFrame:
    """Temperature-balanced corpus mixing: sample ~`target_rows` rows
    with per-stratum probability ∝ n_s^alpha (the multilingual /
    multi-source balancing rule — alpha<1 up-weights small sources,
    alpha=1 is proportional). Per-row keep probability
    p_s = min(1, target·n_s^alpha / (Σ_t n_t^alpha) / n_s),
    applied as a deterministic hash threshold, so the draw is stable
    under reruns, row order, and partitioning — unlike `sampleBy`.

    Everything derives INSIDE the plan: a tiny per-stratum size agg,
    a 1-row normalizer, thresholds as column expressions (hex-grid
    quantized exactly like `hex_threshold`, floor(p·16^4 + 0.5)
    capped at the grid max with a p≥1 keep-all branch) broadcast back
    to the corpus — two tiny aggs + one broadcast join, no driver
    round-trip, replayable verbatim by a SQL oracle."""
    c = F.col(key) if isinstance(key, str) else key
    sizes = df.groupBy(strata_col).agg(F.count(F.lit(1)).cast("double").alias("_n"))
    z = sizes.agg(F.sum(F.pow("_n", F.lit(alpha))).alias("_z"))
    th = (
        sizes.crossJoin(F.broadcast(z))
        .select(
            strata_col,
            F.least(
                F.lit(1.0),
                F.lit(float(target_rows)) * F.pow("_n", F.lit(alpha)) / F.col("_z") / F.col("_n"),
            ).alias("_p"),
        )
        .select(
            strata_col,
            "_p",
            F.lower(
                F.lpad(
                    F.hex(
                        F.least(F.floor(F.col("_p") * HEX_SPACE + 0.5), F.lit(HEX_SPACE - 1)).cast(
                            "long"
                        )
                    ),
                    HEX_BITS,
                    "0",
                )
            ).alias("_t"),
        )
    )
    h = hash_hex_prefix(c, salt)
    return (
        df.join(F.broadcast(th), strata_col)
        .filter((F.col("_p") >= 1.0) | (h < F.col("_t")))
        .drop("_p", "_t")
    )


def stratified_exact_split(
    df: DataFrame,
    key: Column | str,
    strata_cols: Iterable[str],
    fractions: dict[str, int],
    salt: str = "",
    out: str = "split",
) -> DataFrame:
    """Exact-proportion stratified split: within every stratum, assign
    the first floor(f1*n) rows of the deterministic hash order to the
    first label, the next slab to the second, and so on — the
    class-balanced sibling of the hash-RANGE split (`split_column`),
    for when per-stratum proportions must hold EXACTLY (eval sets per
    language, per-source holdouts) rather than in expectation.

    `fractions` maps label -> integer PERMILLE (parts per 1000), e.g.
    {"train": 800, "val": 100, "test": 100}; permille must sum to
    1000. Cut points compare 1000*position <= cum_permille*n in exact
    integers, so the assignment is reproducible across engines,
    layouts, and reruns. Rank comes from `hash_order_prefix` — even a
    single dominant stratum fans across 256 bucket windows. The
    per-stratum counts are a |strata|-row broadcast."""
    permille = list(fractions.items())
    if sum(p for _, p in permille) != 1000:
        raise ValueError("fractions (permille) must sum to 1000")
    ranked = hash_order_prefix(df, key, strata_cols, salt)
    strata = list(strata_cols)
    # counts from the PRE-rank input (the rank branch would otherwise
    # execute twice), joined null-safely so a NULL stratum keeps its
    # rows (a plain `on=strata` equi-join silently drops them)
    counts = df.groupBy(*strata).agg(F.count(F.lit(1)).alias("_n"))
    # aliased copies avoid self-join column ambiguity (ranked and
    # counts share df's lineage)
    counts = counts.select(
        *[F.col(s).alias(f"_s_{s}") for s in strata], "_n"
    )
    cond = None
    for s in strata:
        c = F.col(s).eqNullSafe(F.col(f"_s_{s}"))
        cond = c if cond is None else cond & c
    joined = ranked.join(F.broadcast(counts), cond).drop(*[f"_s_{s}" for s in strata])
    cum = 0
    expr: Column | None = None
    for label, p in permille[:-1]:
        cum += p
        cond = 1000 * F.col("position") <= cum * F.col("_n")
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    last = permille[-1][0]
    split = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return joined.withColumn(out, split).drop("_n")
