"""Point-in-time temporal operators: sessionize, lag/lead, bounded
rolling aggregates, forward-fill (backfill), and the as-of join.

These are the engine's temporal core (SURVEY.md §2.9): didtool assumes
a pre-built flat feature matrix; this module builds that matrix from
(conv_id, turn_idx, role, text, tool, ts) transcripts with zero
temporal leakage — every feature at anchor (entity, ts) reads only rows
with ts' <= ts (strictly earlier for lag-style features).

Scale notes:
- All operators are pure ``pyspark.sql`` Window/DataFrame expressions —
  whole-stage-codegen'd, one shuffle on the partition keys, no Python
  in the row path.
- Hot entities (a conversation with millions of turns) break a naive
  ``Window.partitionBy(conv_id)``: EVERY operator here accepts
  ``strategy="bucketed"``, which range-splits time into buckets per key
  so no single task ever sees a whole hot key. Bucket boundaries are
  stitched by one carry mechanism, ``_carry_chain``, shared by
  sessionize, with_lags (lags), with_rolling (rows mode) and
  forward_fill, and called once for the whole materialize chain: one
  in-bucket window pass, one per-(key, bucket) summary (first/last ts,
  gap count, last K rows, last non-null value), one small window over
  buckets and one join back (leads run it in reverse event order).
  asof_join keeps its own carry table and with_rolling time mode
  next-bucket context duplication. Output is identical to the window
  strategy.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window, WindowSpec

__all__ = [
    "epoch_seconds",
    "ordered_window",
    "sessionize",
    "with_lags",
    "with_rolling",
    "forward_fill",
    "asof_join",
    "interval_join",
    "FeatureTable",
    "build_training_set",
]


def epoch_seconds(col: Column | str) -> Column:
    """Epoch seconds (floor) for TIMESTAMP and TIMESTAMP_NTZ alike —
    TIMESTAMP_NTZ has no direct long cast in Spark 4; route through a
    session-UTC timestamp."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp").cast("long")


def ordered_window(
    keys: Sequence[str] | str = "conv_id",
    order: Sequence[str] | str = ("ts", "turn_idx"),
) -> WindowSpec:
    """Per-entity event-order window. ``order`` must make row order stable
    (ts alone is not unique: duplicate-second bursts are tie-broken by
    turn_idx)."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    order = [order] if isinstance(order, str) else list(order)
    return Window.partitionBy(*keys).orderBy(*order)


def sessionize(
    df: DataFrame,
    gap_seconds: int = 1800,
    keys: Sequence[str] | str = "conv_id",
    ts_col: str = "ts",
    order: Sequence[str] | str = ("ts", "turn_idx"),
    out_col: str = "session_id",
    strategy: str = "window",
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since
    the previous event exceeds ``gap_seconds``.

    strategy="window": session_id = cumulative sum of is-new-session
    indicators over the per-key ordered window (0-based). One shuffle on
    ``keys``; each key is one task — fine until a key is hot.

    strategy="bucketed": the carry-in trick for hot keys (a conversation
    with millions of turns). Time is range-split into ``bucket_seconds``
    buckets; the boundary indicator needs only the LAST event of the
    previous bucket, the cumulative gap count runs per (key, bucket),
    and the session offset is a prefix sum of per-bucket session counts
    over the small carry table (``_carry_chain``) — no task ever scans
    a whole hot key. Identical output to the window strategy.
    """
    keys_l = [keys] if isinstance(keys, str) else list(keys)
    order_l = [order] if isinstance(order, str) else list(order)

    if strategy == "window":
        w = ordered_window(keys_l, order_l)
        prev_ts = F.lag(F.col(ts_col)).over(w)
        is_new = (
            prev_ts.isNull()
            | (epoch_seconds(ts_col) - epoch_seconds(prev_ts) > F.lit(gap_seconds))
        ).cast("int")
        cum = Window.partitionBy(*keys_l).orderBy(*order_l).rowsBetween(
            Window.unboundedPreceding, 0
        )
        return df.withColumn(out_col, F.sum(is_new).over(cum) - F.lit(1))

    if strategy != "bucketed":
        raise ValueError(f"unknown sessionize strategy {strategy!r}")
    return _carry_chain(
        df, keys_l, order_l, ts_col, bucket_seconds,
        gap_seconds=gap_seconds, session_col=out_col,
    )


def _bucketize(df: DataFrame, ts_col: str, bucket_seconds: int) -> DataFrame:
    return df.withColumn(
        "__bucket", F.floor(epoch_seconds(ts_col) / F.lit(int(bucket_seconds)))
    )


def _carry_chain(
    df: DataFrame,
    keys_l: list[str],
    order_l: list[str],
    ts_col: str,
    bucket_seconds: int,
    gap_seconds: int | None = None,
    session_col: str = "session_id",
    lag_cols: Sequence[str] = (),
    lags: Sequence[int] = (),
    rolling: Sequence[tuple[str, str, int]] = (),
    include_current: bool = False,
    ffill_cols: Sequence[str] = (),
    ffill_suffix: str = "_ffill",
    descending: bool = False,
) -> DataFrame:
    """Bucketed (skew-split) sessionize + lags + rows-mode rolling +
    forward-fill in ONE in-bucket window pass and ONE carry join.

    Every window runs per (key, bucket), so no task sees a whole hot
    key.  The same windowed rows feed a per-(key, bucket) summary —
    first/last ts, internal session-gap count, the last K rows (picked
    by row_number against the bucket's row count, so memory is bounded
    by K) and the last non-null fill value — and one small window over
    buckets turns it into the carry: session offset, K-row prefix and
    the fill value of strictly earlier buckets.  After the join every
    output column is a row-wise fix-up.  Output columns follow the
    chain order (session, lags, rolling, fills), identical to the
    window strategy.  ``descending`` reverses event order, turning the
    lags into leads (``{c}_lead{k}``; the prefix holds following rows).
    """
    part = [*keys_l, "__bucket"]
    wb = Window.partitionBy(*part).orderBy(
        *[F.col(c).desc() if descending else F.col(c) for c in order_l]
    )
    upto = wb.rowsBetween(Window.unboundedPreceding, 0)
    upper = 0 if include_current else -1
    K = max([*lags, *(k for _, _, k in rolling)], default=0)
    payload = sorted({*(lag_cols if lags else ()), *(c for c, _, _ in rolling)})

    win = {
        "__rn": F.row_number().over(wb),
        "__n": F.count(F.lit(1)).over(
            wb.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ),
    }
    if gap_seconds is not None:
        win["__prev_ts"] = F.lag(ts_col).over(wb)
    win.update({f"__lag_{c}_{k}": F.lag(c, k).over(wb) for c in lag_cols for k in lags})
    for col, agg, k in rolling:
        fr = wb.rowsBetween(-k, upper)
        win[f"__cnt_{col}_{k}"] = F.count(col).over(fr)
        if agg in ("min", "max"):
            win[f"__{agg}_{col}_{k}"] = _AGG[agg](col).over(fr)
        elif agg in ("sum", "avg"):
            cast_t = "long" if _is_integral(df, col) else "double"
            win[f"__sum_{col}_{k}"] = F.sum(F.col(col).cast(cast_t)).over(fr)
        elif agg == "stddev":
            x = F.col(col).cast("double")
            win[f"__s1_{col}_{k}"] = F.sum(x).over(fr)
            win[f"__s2_{col}_{k}"] = F.sum(x * x).over(fr)
        elif agg != "count":
            raise ValueError(f"unsupported bucketed rolling agg {agg!r}")
    win.update({f"__ff_{c}": F.last(c, ignorenulls=True).over(upto) for c in ffill_cols})
    w = _bucketize(df, ts_col, bucket_seconds).select(
        "*", *[e.alias(n) for n, e in win.items()]
    )
    if gap_seconds is not None:
        is_gap = F.when(
            epoch_seconds(ts_col) - epoch_seconds("__prev_ts") > F.lit(gap_seconds), 1
        ).otherwise(0)
        w = w.withColumn("__gaps", F.sum(is_gap).over(upto))

    # per-(key, bucket) summary over the windowed rows (same partitioning)
    rn = F.col("__rn")
    summ = []
    if gap_seconds is not None:
        summ += [
            F.min_by(ts_col, "__rn").alias("__first_ts"),
            F.max_by(ts_col, "__rn").alias("__last_ts"),
            F.max("__gaps").alias("__bucket_gaps"),
        ]
    if K:
        tail_row = F.struct(rn, *[F.col(c).alias(f"__p_{c}") for c in payload])
        summ.append(
            F.array_sort(
                F.collect_list(F.when(rn > F.col("__n") - K, tail_row))
            ).alias("__tail")
        )
    summ += [F.max_by(f"__ff_{c}", "__rn").alias(f"__fl_{c}") for c in ffill_cols]
    s = w.groupBy(*part).agg(*summ)

    # carry: one window over each key's buckets
    wc = Window.partitionBy(*keys_l).orderBy(
        F.col("__bucket").desc() if descending else F.col("__bucket")
    )
    before = wc.rowsBetween(Window.unboundedPreceding, -1)
    carry = {}
    if gap_seconds is not None:
        prev_last = F.lag("__last_ts").over(wc)
        s = s.withColumn("__first_new", (
            prev_last.isNull()
            | (epoch_seconds("__first_ts") - epoch_seconds(prev_last) > F.lit(gap_seconds))
        ).cast("long"))
        # sessions started before this bucket + whether its first row starts one
        carry["__offset"] = F.coalesce(
            F.sum(F.col("__first_new") + F.col("__bucket_gaps")).over(before), F.lit(0)
        ) + F.col("__first_new")
    if K:
        # each non-empty bucket holds >= 1 row, so K buckets back suffice
        flat = F.flatten(F.collect_list("__tail").over(wc.rowsBetween(-K, -1)))
        carry["__prefix"] = F.slice(
            flat, F.greatest(F.lit(1), F.size(flat) - F.lit(K) + 1), F.lit(K)
        )
    carry.update({
        f"__prev_{c}": F.last(f"__fl_{c}", ignorenulls=True).over(before)
        for c in ffill_cols
    })
    j = w.join(
        s.select(*part, *[e.alias(n) for n, e in carry.items()]), part, "left"
    )

    # row-wise fix-ups
    out = []
    if gap_seconds is not None:
        out.append(
            (F.col("__offset") + F.col("__gaps") - 1).cast("long").alias(session_col)
        )
    for c in lag_cols:
        for k in lags:
            from_prefix = F.try_element_at(F.col("__prefix"), rn - F.lit(k + 1))
            out.append(
                F.when(rn > k, F.col(f"__lag_{c}_{k}"))
                .otherwise(from_prefix[f"__p_{c}"])
                .alias(f"{c}_{'lead' if descending else 'lag'}{k}")
            )
    for col, agg, k in rolling:
        # the frame's rows before the bucket: the prefix's last k - rn + 1
        m = F.lit(k + 1) - rn
        sl = F.slice(
            F.col("__prefix"),
            F.greatest(F.lit(1), F.size("__prefix") - m + 1),
            F.greatest(m, F.lit(0)),
        )
        nn = F.filter(F.transform(sl, _prefix_vals(col)), _notnull())
        total_cnt = F.col(f"__cnt_{col}_{k}") + F.size(nn).cast("long")
        if agg == "count":
            e = total_cnt
        elif agg == "min":
            e = F.least(F.col(f"__min_{col}_{k}"), F.array_min(nn))
        elif agg == "max":
            e = F.greatest(F.col(f"__max_{col}_{k}"), F.array_max(nn))
        elif agg == "stddev":
            s1 = F.coalesce(F.col(f"__s1_{col}_{k}"), F.lit(0.0)) + F.aggregate(
                nn, F.lit(0.0), _sum_merge("double")
            )
            s2 = F.coalesce(F.col(f"__s2_{col}_{k}"), F.lit(0.0)) + F.aggregate(
                nn, F.lit(0.0), _sumsq_merge()
            )
            n_d = total_cnt.cast("double")
            var = (s2 - s1 * s1 / n_d) / (n_d - F.lit(1.0))
            e = F.when(total_cnt >= 2, F.sqrt(F.greatest(var, F.lit(0.0))))
        else:
            cast_t = "long" if _is_integral(df, col) else "double"
            zero = F.lit(0).cast(cast_t)
            total = F.coalesce(F.col(f"__sum_{col}_{k}"), zero) + F.aggregate(
                nn, zero, _sum_merge(cast_t)
            )
            if agg == "avg":
                total = total.cast("double") / total_cnt.cast("double")
            e = F.when(total_cnt > 0, total)
        out.append(e.alias(f"{col}_{agg}_last{k}"))
    out += [
        F.coalesce(F.col(f"__ff_{c}"), F.col(f"__prev_{c}")).alias(f"{c}{ffill_suffix}")
        for c in ffill_cols
    ]
    return j.select(*df.columns, *out)


def with_lags(
    df: DataFrame,
    cols: Iterable[str],
    lags: Iterable[int] = (1,),
    leads: Iterable[int] = (),
    keys: Sequence[str] | str = "conv_id",
    order: Sequence[str] | str = ("ts", "turn_idx"),
    strategy: str = "window",
    ts_col: str = "ts",
    bucket_seconds: int = 86400,
) -> DataFrame:
    """lag/lead feature columns ``{col}_lag{k}`` / ``{col}_lead{k}``.

    Lags are leakage-safe (strictly past rows); leads read the future by
    definition and must only feed *labels*, never features.

    strategy="window": one shuffle on ``keys``; each key is one task.
    strategy="bucketed": the carry-in trick for hot keys — time is
    range-split into ``bucket_seconds`` buckets; each bucket shifts
    locally and its first k rows read a tiny per-(key, bucket) carry
    prefix (the K=max(k) trailing rows of earlier buckets; following
    rows for leads). Identical output, task size bounded by bucket not
    key.
    """
    keys_l = [keys] if isinstance(keys, str) else list(keys)
    order_l = [order] if isinstance(order, str) else list(order)
    lags_l, leads_l = sorted(set(lags)), sorted(set(leads))
    cols_l = list(cols)

    if strategy == "window":
        w = ordered_window(keys_l, order_l)
        out = df
        for c in cols_l:
            for k in lags_l:
                out = out.withColumn(f"{c}_lag{k}", F.lag(c, k).over(w))
            for k in leads_l:
                out = out.withColumn(f"{c}_lead{k}", F.lead(c, k).over(w))
        return out

    if strategy != "bucketed":
        raise ValueError(f"unknown with_lags strategy {strategy!r}")

    out = df
    for ks, desc in ((lags_l, False), (leads_l, True)):
        if ks:
            out = _carry_chain(
                out, keys_l, order_l, ts_col, bucket_seconds,
                lag_cols=cols_l, lags=ks, descending=desc,
            )
    return out


_AGG = {
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "stddev": F.stddev,
}


def _is_integral(df: DataFrame, col: str) -> bool:
    return df.schema[col].dataType.simpleString() in (
        "tinyint", "smallint", "int", "bigint", "long",
    )


def _prefix_vals(c: str):
    # closure factories: pyspark HOF lambdas count every python param,
    # so default-arg capture would change the lambda's arity.
    return lambda x: x[f"__p_{c}"]


def _notnull():
    return lambda v: v.isNotNull()


def _sum_merge(cast_t: str):
    return lambda acc, v: acc + v.cast(cast_t)


def _sumsq_merge():
    return lambda acc, v: acc + v.cast("double") * v.cast("double")


def with_rolling(
    df: DataFrame,
    specs: Iterable[tuple[str, str, int]],
    keys: Sequence[str] | str = "conv_id",
    order: Sequence[str] | str = ("ts", "turn_idx"),
    include_current: bool = False,
    ts_col: str | None = None,
    strategy: str = "window",
    bucket_ts_col: str = "ts",
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Bounded trailing rolling aggregates.

    specs: (col, agg, k) -> column ``{col}_{agg}_last{k}`` over the
    trailing k rows (or k seconds when ``ts_col`` is set, using a
    rangeBetween frame on unix seconds). ``include_current=False`` keeps
    the frame strictly historical (leakage-safe for same-row targets).

    strategy="window": one shuffle on ``keys``; each key is one task.
    strategy="bucketed" bounds task size by bucket, not key:

    - rows mode (``_carry_chain``): per-(key, ``bucket_ts_col``-bucket)
      window aggregate, combined on the first k rows of each bucket with
      an aggregate over the tiny carry prefix (the trailing K=max(k)
      rows of earlier buckets): sums/counts add, min/max take least/greatest, avg and
      stddev recombine from (count, sum, sum-of-squares). Exact for
      sum/count/min/max/avg; stddev recombination is algebraically exact
      but may differ from the window form in the last float ulps.
    - time mode: overlapping-bucket context duplication — every row is
      also emitted into the *next* bucket tagged as context (bucket
      width >= max window k, so a trailing k-second frame never reaches
      further back than one bucket); the range window runs per (key,
      bucket) over own+context rows and context rows are dropped. Exact
      same results, 2x shuffle volume on the value columns.
    """
    upper = 0 if include_current else -1
    keys_l = [keys] if isinstance(keys, str) else list(keys)
    order_l = [order] if isinstance(order, str) else list(order)
    specs_l = [(c, a, int(k)) for c, a, k in specs]
    out = df

    if strategy == "window":
        if ts_col is not None:
            out = out.withColumn("__ts_long", epoch_seconds(ts_col))
            base = Window.partitionBy(*keys_l).orderBy("__ts_long")
            for col, agg, k in specs_l:
                w = base.rangeBetween(-int(k), upper)
                out = out.withColumn(f"{col}_{agg}_{k}s", _AGG[agg](col).over(w))
            return out.drop("__ts_long")
        base = Window.partitionBy(*keys_l).orderBy(*order_l)
        for col, agg, k in specs_l:
            w = base.rowsBetween(-int(k), upper)
            out = out.withColumn(f"{col}_{agg}_last{k}", _AGG[agg](col).over(w))
        return out

    if strategy != "bucketed":
        raise ValueError(f"unknown with_rolling strategy {strategy!r}")

    if ts_col is not None:
        # time mode: context duplication into the next bucket
        bw = max(int(bucket_seconds), max(k for _, _, k in specs_l))
        base_b = out.withColumn("__ts_long", epoch_seconds(ts_col))
        own = base_b.withColumn(
            "__bucket", F.floor(F.col("__ts_long") / F.lit(bw))
        ).withColumn("__ctx", F.lit(False))
        ctx = base_b.withColumn(
            "__bucket", F.floor(F.col("__ts_long") / F.lit(bw)) + 1
        ).withColumn("__ctx", F.lit(True))
        u = own.unionByName(ctx)
        wbase = Window.partitionBy(*keys_l, "__bucket").orderBy("__ts_long")
        for col, agg, k in specs_l:
            w = wbase.rangeBetween(-int(k), upper)
            u = u.withColumn(f"{col}_{agg}_{k}s", _AGG[agg](col).over(w))
        return u.where(~F.col("__ctx")).drop("__ts_long", "__bucket", "__ctx")

    return _carry_chain(
        df, keys_l, order_l, bucket_ts_col, bucket_seconds,
        rolling=specs_l, include_current=include_current,
    )


def forward_fill(
    df: DataFrame,
    cols: Iterable[str],
    keys: Sequence[str] | str = "conv_id",
    order: Sequence[str] | str = ("ts", "turn_idx"),
    suffix: str = "_ffill",
    strategy: str = "window",
    ts_col: str = "ts",
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Backfill missing values from the most recent non-null earlier row:
    ``last(col, ignorenulls=True)`` over an unbounded-preceding frame.
    Only reads the past — point-in-time correct by construction.

    strategy="window": one shuffle on ``keys``; each key is one task.
    strategy="bucketed": the sessionize-style carry trick for hot keys —
    the fill runs per (key, ``ts_col``-bucket); the carry table
    (``_carry_chain``: last non-null value per bucket, forward-filled
    over strictly earlier buckets) seeds rows whose bucket has no
    earlier non-null. Identical output, task size bounded by bucket.
    """
    keys_l = [keys] if isinstance(keys, str) else list(keys)
    order_l = [order] if isinstance(order, str) else list(order)
    cols_l = list(cols)

    if strategy == "window":
        w = (
            Window.partitionBy(*keys_l)
            .orderBy(*order_l)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        out = df
        for c in cols_l:
            out = out.withColumn(f"{c}{suffix}", F.last(c, ignorenulls=True).over(w))
        return out

    if strategy != "bucketed":
        raise ValueError(f"unknown forward_fill strategy {strategy!r}")

    return _carry_chain(
        df, keys_l, order_l, ts_col, bucket_seconds,
        ffill_cols=cols_l, ffill_suffix=suffix,
    )


def _tag_union(
    anchors: DataFrame,
    features: DataFrame,
    keys: list[str],
    ts_col: str,
    value_cols: list[str],
    anchor_cols: list[str],
    strict: bool,
):
    """Union anchors+features with a source tag so one ordered window pass
    forward-fills feature values onto anchors (sort-merge as-of)."""
    # src: features sort before anchors at equal ts for inclusive (<=),
    # after for strict (<).
    f_tag, a_tag = (0, 1) if not strict else (1, 0)
    f_side = features.select(
        *keys,
        F.col(ts_col).alias("__ts"),
        F.lit(f_tag).alias("__src"),
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
        *[F.lit(None).cast(anchors.schema[c].dataType).alias(c) for c in anchor_cols],
    )
    a_side = anchors.select(
        *keys,
        F.col(ts_col).alias("__ts"),
        F.lit(a_tag).alias("__src"),
        *[F.lit(None).cast(features.schema[c].dataType).alias(f"__v_{c}") for c in value_cols],
        *anchor_cols,
    )
    return f_side.unionByName(a_side), f_tag


def asof_join(
    anchors: DataFrame,
    features: DataFrame,
    keys: Sequence[str] | str = "conv_id",
    ts_col: str = "ts",
    value_cols: Sequence[str] | None = None,
    strict: bool = False,
    suffix: str = "_asof",
    strategy: str = "window",
    n_buckets: int = 32,
    bucket_seconds: int | None = None,
    direction: str = "backward",
    tolerance: float | None = None,
) -> DataFrame:
    """Point-in-time as-of join: each anchor row gets, per value column,
    the value from the latest feature row with ``ts_f <= ts_anchor``
    (``< `` when ``strict``) for the same key.

    ``direction`` extends the match rule (``pandas.merge_asof`` parity,
    verified by the strategy-equivalence units):

    - ``"backward"`` (default): latest feature at-or-before the anchor —
      the point-in-time-correct, zero-leakage rule.
    - ``"forward"``: EARLIEST feature at-or-after the anchor (strictly
      after when ``strict``). Deliberately reads the future — for label
      construction / next-event joins, never for features.
    - ``"nearest"``: closer of the two by absolute time distance;
      equidistant ties take the backward match (pandas' rule). With
      ``strict``, equal-timestamp features are excluded on BOTH sides.

    ``tolerance`` (seconds, inclusive): a match farther than this from
    the anchor is nulled out per value column (each column matches the
    latest row where IT was non-null, so distances are per-column).

    strategy="window" (default): union-tag + one ordered window pass —
    a sort-merge as-of realized as shuffle-on-keys + in-partition sort;
    Catalyst/Tungsten handle spilling. Right for keys whose per-key row
    count fits a task. ``direction="backward"`` with no tolerance is a
    plain per-column ``last(ignorenulls)``; the general form fills
    (ts, value) structs so the match distance is known — forward adds a
    second in-partition sort (same exchange, tag order reversed).

    strategy="bucketed": salted-key skew splitting for hot keys. Time is
    range-split into buckets (fixed ``bucket_seconds`` width, else the
    observed span / ``n_buckets``); the window pass runs per (key,
    bucket) so no task sees a whole hot key; a tiny per-(key, bucket)
    carry table (last feature value at each bucket end, forward-filled
    across buckets) stitches the boundaries via an equi-join that AQE
    can broadcast. Exact same semantics, bounded task size. Backward
    only: get forward by negating the timestamp on both inputs (the
    order-reversal identity); nearest needs both passes — use "window".
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown asof direction {direction!r}")
    if strategy == "bucketed" and (direction != "backward" or tolerance is not None):
        raise ValueError(
            "strategy='bucketed' supports direction='backward' without "
            "tolerance only (negate the timestamp for a forward as-of, "
            "or use strategy='window'/'pandas')"
        )
    keys = [keys] if isinstance(keys, str) else list(keys)
    if value_cols is None:
        value_cols = [
            c for c in features.columns if c not in set(keys) | {ts_col}
        ]
    value_cols = list(value_cols)
    anchor_cols = [c for c in anchors.columns if c not in set(keys) | {ts_col}]
    out_names = {c: f"{c}{suffix}" if c in anchors.columns else c for c in value_cols}

    unioned, f_tag = _tag_union(
        anchors, features, keys, ts_col, value_cols, anchor_cols, strict
    )
    a_tag = 1 - f_tag

    final_cols = (
        [*keys, F.col("__ts").alias(ts_col), *anchor_cols]
        + [F.col(f"__f_{c}").alias(out_names[c]) for c in value_cols]
    )

    if strategy == "window":
        if direction == "backward" and tolerance is None:
            w = (
                Window.partitionBy(*keys)
                .orderBy("__ts", "__src")
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            filled = unioned.select(
                "*",
                *[
                    F.last(f"__v_{c}", ignorenulls=True).over(w).alias(f"__f_{c}")
                    for c in value_cols
                ],
            )
            return filled.where(F.col("__src") == a_tag).select(*final_cols)

        # general form: fill (ts, value) structs so the match distance
        # is known per column.  Tag ordering already encodes strict vs
        # inclusive (features sort after anchors at equal ts when
        # strict); the forward window reverses ONLY the tag order, which
        # flips that rule's mirror image (anchors-first when inclusive).
        # Both windows share one hash exchange on the keys.
        tnum = F.col("__ts").cast("timestamp").cast("double")
        unioned = unioned.withColumn("__tnum", tnum)
        w_back = (
            Window.partitionBy(*keys)
            .orderBy("__ts", "__src")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        w_fwd = (
            Window.partitionBy(*keys)
            .orderBy(F.col("__ts").asc(), F.col("__src").desc())
            .rowsBetween(0, Window.unboundedFollowing)
        )
        fills = []
        for c in value_cols:
            cand = F.when(
                F.col(f"__v_{c}").isNotNull(),
                F.struct(
                    F.col("__tnum").alias("t"), F.col(f"__v_{c}").alias("v")
                ),
            )
            if direction in ("backward", "nearest"):
                fills.append(
                    F.last(cand, ignorenulls=True).over(w_back).alias(f"__b_{c}")
                )
            if direction in ("forward", "nearest"):
                fills.append(
                    F.first(cand, ignorenulls=True).over(w_fwd).alias(f"__w_{c}")
                )
        filled = unioned.select("*", *fills)

        picked = []
        for c in value_cols:
            b = F.col(f"__b_{c}") if direction != "forward" else None
            f_ = F.col(f"__w_{c}") if direction != "backward" else None
            if direction == "backward":
                m = b
            elif direction == "forward":
                m = f_
            else:  # nearest: min |delta|, equidistant tie -> backward
                m = (
                    F.when(b.isNull(), f_)
                    .when(f_.isNull(), b)
                    .when(
                        F.col("__tnum") - b["t"] <= f_["t"] - F.col("__tnum"), b
                    )
                    .otherwise(f_)
                )
            if tolerance is not None:
                m = F.when(
                    F.abs(F.col("__tnum") - m["t"]) <= F.lit(float(tolerance)), m
                )
            picked.append(m["v"].alias(f"__f_{c}"))
        filled = filled.select("*", *picked)
        return filled.where(F.col("__src") == a_tag).select(*final_cols)

    if strategy == "pandas":
        # Arrow-batched per-key merge_asof: right when the feature side
        # vastly outnumbers anchors and the window union would carry
        # mostly-null anchor columns through the sort. Grouped by key,
        # so subject to the same hot-key bound as the window strategy.
        import pandas as pd

        out_schema = ", ".join(
            [f"`{k}` {anchors.schema[k].dataType.simpleString()}" for k in keys]
            + [f"`{ts_col}` {anchors.schema[ts_col].dataType.simpleString()}"]
            + [
                f"`{c}` {anchors.schema[c].dataType.simpleString()}"
                for c in anchor_cols
            ]
            + [
                f"`{out_names[c]}` {features.schema[c].dataType.simpleString()}"
                for c in value_cols
            ]
        )
        a_tagged = anchors.select(*keys, ts_col, *anchor_cols)
        f_tagged = features.select(*keys, ts_col, *value_cols)

        def merge(a_pd, f_pd):
            a_pd = a_pd.sort_values(ts_col, kind="mergesort")
            f_pd = f_pd.sort_values(ts_col, kind="mergesort")
            tol = None
            if tolerance is not None:
                tol = (
                    pd.Timedelta(seconds=float(tolerance))
                    if str(a_pd[ts_col].dtype).startswith("datetime")
                    else float(tolerance)
                )
            res = pd.merge_asof(
                a_pd,
                f_pd.drop(columns=[k for k in keys]),
                on=ts_col,
                direction=direction,
                allow_exact_matches=not strict,
                tolerance=tol,
            )
            return res.rename(columns={c: out_names[c] for c in value_cols})

        return a_tagged.groupBy(*keys).cogroup(f_tagged.groupBy(*keys)).applyInPandas(
            merge, schema=out_schema
        )

    if strategy != "bucketed":
        raise ValueError(f"unknown asof strategy {strategy!r}")

    # ---- bucketed (skew-splitting) path ----
    tsl = epoch_seconds(F.col("__ts"))
    if bucket_seconds is None:
        lo, hi = unioned.select(
            F.min(tsl).alias("lo"), F.max(tsl).alias("hi")
        ).first()
        bucket_seconds = max(1, ((hi or 0) - (lo or 0)) // max(1, n_buckets) + 1)
    b = unioned.withColumn("__bucket", F.floor(tsl / F.lit(int(bucket_seconds))))

    # pass 1: within-(key,bucket) forward fill
    wb = (
        Window.partitionBy(*keys, "__bucket")
        .orderBy("__ts", "__src")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = b.select(
        "*",
        *[
            F.last(f"__v_{c}", ignorenulls=True).over(wb).alias(f"__w_{c}")
            for c in value_cols
        ],
    )

    # carry table: last feature value per (key, bucket), forward-filled
    # across buckets — rows = keys x buckets, tiny vs the data.
    carry = (
        b.where(F.col("__src") == f_tag)
        .groupBy(*keys, "__bucket")
        .agg(
            # last *non-null* value in the bucket: max over (ts, src, v)
            # structs restricted to non-null v (lexicographic max = latest row)
            *[
                F.max(
                    F.when(
                        F.col(f"__v_{c}").isNotNull(),
                        F.struct(
                            F.col("__ts").alias("t"),
                            F.col("__src").alias("s"),
                            F.col(f"__v_{c}").alias("v"),
                        ),
                    )
                )["v"].alias(f"__c_{c}")
                for c in value_cols
            ]
        )
    )
    wc = (
        Window.partitionBy(*keys)
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carry = carry.select(
        *keys,
        (F.col("__bucket") + 1).alias("__next_bucket"),
        *[
            F.last(f"__c_{c}", ignorenulls=True).over(wc).alias(f"__c_{c}")
            for c in value_cols
        ],
    )
    # densify: an anchor in bucket b needs the carry from the latest
    # feature bucket <= b-1; carry rows only exist at feature buckets, so
    # join on an as-of over buckets — realized as equi-join after
    # expanding carry to every bucket present on the anchor side.
    anchor_buckets = (
        filled.where(F.col("__src") == a_tag).select(*keys, "__bucket").distinct()
    )
    carry_dense = (
        anchor_buckets.join(
            carry,
            on=[*[anchor_buckets[k] == carry[k] for k in keys]]
            + [carry["__next_bucket"] <= anchor_buckets["__bucket"]],
            how="left",
        )
        .groupBy(*[anchor_buckets[k] for k in keys], anchor_buckets["__bucket"])
        .agg(
            *[
                F.max_by(f"__c_{c}", "__next_bucket").alias(f"__c_{c}")
                for c in value_cols
            ]
        )
        .select(
            *[anchor_buckets[k].alias(k) for k in keys],
            F.col("__bucket"),
            *[F.col(f"__c_{c}") for c in value_cols],
        )
    )

    res = (
        filled.where(F.col("__src") == a_tag)
        .join(carry_dense, on=[*keys, "__bucket"], how="left")
        .select(
            "*",
            *[
                F.coalesce(f"__w_{c}", f"__c_{c}").alias(f"__f_{c}")
                for c in value_cols
            ],
        )
    )
    return res.select(*final_cols)


class FeatureTable:
    """Spec for one feature table in :func:`build_training_set`.

    ``value_cols=None`` means every non-key, non-ts column; ``strict``
    excludes same-timestamp feature rows (ts_f < ts_anchor instead of
    <=) — per-table, so one training set can mix label-safe strict
    sources with inclusive ones.
    """

    def __init__(self, df: DataFrame, value_cols: Sequence[str] | None = None,
                 strict: bool = False):
        self.df = df
        self.value_cols = value_cols
        self.strict = strict


def build_training_set(
    anchors: DataFrame,
    tables: dict[str, "FeatureTable | DataFrame"],
    keys: Sequence[str] | str = "conv_id",
    ts_col: str = "ts",
    strategy: str = "window",
    **asof_kwargs,
) -> DataFrame:
    """Feature-store-style multi-table point-in-time join: every anchor
    row gets, for each named feature table, the latest value of each of
    its columns as of the anchor timestamp (zero temporal leakage, per
    the north rule's entity x timestamp contract). Output columns are
    ``{table}_{col}``.

    strategy="window" (default): ALL tables are unioned with the
    anchors in one tagged stream and forward-filled in ONE ordered
    window pass — one Exchange+Sort on ``keys`` total, however many
    feature tables join (a chain of N as-of joins would shuffle N
    times). Per-table strictness is encoded in the sort tag: at an
    equal timestamp, inclusive feature rows (tag 0) sort before the
    anchor (tag 1), strict ones (tag 2) after it, so `last(ignorenulls)`
    sees exactly the rows the contract allows.

    strategy="chain": N sequential :func:`asof_join` calls — the
    hot-key fallback, because each pairwise join accepts
    ``strategy="bucketed"`` via ``asof_kwargs`` (the single-pass window
    form, like any keyed window, serializes a hot key in one task).
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    reserved = set(keys) | {ts_col}
    specs: list[tuple[str, DataFrame, list[str], bool]] = []
    for name, spec in tables.items():
        if isinstance(spec, DataFrame):
            spec = FeatureTable(spec)
        vcols = (
            list(spec.value_cols)
            if spec.value_cols is not None
            else [c for c in spec.df.columns if c not in reserved]
        )
        specs.append((name, spec.df, vcols, spec.strict))

    anchor_cols = [c for c in anchors.columns if c not in reserved]

    if strategy == "chain":
        out = anchors
        for name, fdf, vcols, strict in specs:
            renamed = fdf.select(
                *keys, ts_col, *[F.col(c).alias(f"{name}_{c}") for c in vcols]
            )
            out = asof_join(
                out, renamed, keys=keys, ts_col=ts_col,
                value_cols=[f"{name}_{c}" for c in vcols], strict=strict,
                **asof_kwargs,
            )
        return out

    if strategy != "window":
        raise ValueError(f"unknown training-set strategy {strategy!r}")

    all_vals = [(name, fdf, c) for name, fdf, vcols, _ in specs for c in vcols]

    def null_like(src_df: DataFrame, col: str) -> Column:
        return F.lit(None).cast(src_df.schema[col].dataType)

    a_side = anchors.select(
        *keys,
        F.col(ts_col).alias("__ts"),
        F.lit(1).alias("__src"),
        *[null_like(fdf, c).alias(f"__v_{n}_{c}") for n, fdf, c in all_vals],
        *anchor_cols,
    )
    unioned = a_side
    for name, fdf, vcols, strict in specs:
        tag = 2 if strict else 0
        side = fdf.select(
            *keys,
            F.col(ts_col).alias("__ts"),
            F.lit(tag).alias("__src"),
            *[
                (F.col(c) if n == name else null_like(f2, c)).alias(f"__v_{n}_{c}")
                for n, f2, c in all_vals
            ],
            *[null_like(anchors, c).alias(c) for c in anchor_cols],
        )
        unioned = unioned.unionByName(side)

    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__src")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.select(
        "*",
        *[
            F.last(f"__v_{n}_{c}", ignorenulls=True).over(w).alias(f"__f_{n}_{c}")
            for n, _, c in all_vals
        ],
    )
    return filled.where(F.col("__src") == 1).select(
        *keys,
        F.col("__ts").alias(ts_col),
        *anchor_cols,
        *[F.col(f"__f_{n}_{c}").alias(f"{n}_{c}") for n, _, c in all_vals],
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    keys: Sequence[str] | str | None = "conv_id",
    point_ts: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    bucket_seconds: int = 3600,
    how: str = "inner",
    max_buckets_per_interval: int = 10_000,
) -> DataFrame:
    """Containment join: each point row matched to every interval row
    of the same ``keys`` with ``start_col <= point_ts <= end_col``
    (inclusive both ends; a point inside k overlapping intervals
    yields k output rows).  ``how="left"`` keeps unmatched points with
    NULL interval columns.

    Scale design — the raw predicate is a theta join Spark would plan
    as a broadcast-nested-loop (O(|P| x |I|) per key): instead each
    interval is EXPLODED onto the fixed-width time buckets it overlaps
    (``sequence()`` next to the data — no driver loop) and the match
    becomes an EQUI-join on (keys, bucket) plus a residual range
    filter.  A point lives in exactly one bucket, so it meets exactly
    one replica of each interval — no dedup pass.  Shuffle volume is
    |P| + Σ ceil(len/bucket) interval replicas; pick ``bucket_seconds``
    near the TYPICAL interval length (replication factor ~2 there).
    ``max_buckets_per_interval`` guards against a degenerate interval
    (or a bad bucket choice) exploding the build side — raise it
    consciously, don't remove it.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner/left, got {how!r}")
    keys_l = (
        [] if keys is None else [keys] if isinstance(keys, str) else list(keys)
    )
    b = int(bucket_seconds)

    ps = points.withColumn("__pb", F.floor(epoch_seconds(point_ts) / F.lit(b)))
    lo = F.floor(epoch_seconds(start_col) / F.lit(b))
    hi = F.floor(epoch_seconds(end_col) / F.lit(b))
    guard = F.when(
        hi - lo < F.lit(int(max_buckets_per_interval)), hi
    ).otherwise(
        F.raise_error(F.concat(
            F.lit("interval_join: an interval spans more than "
                  f"{max_buckets_per_interval} buckets of {b}s — raise "
                  "bucket_seconds or max_buckets_per_interval (interval "
                  "start epoch: "),
            epoch_seconds(start_col).cast("string"), F.lit(")"),
        ))
    )
    iv = intervals.withColumn(
        "__ib", F.explode(F.sequence(lo, guard))
    )
    # residual on the RAW timestamps — truncated epochs only place
    # rows into buckets; comparing truncated values here would admit a
    # point up to 1s before the interval start (same-second collisions)
    cond = [ps[k] == iv[k] for k in keys_l] + [
        ps["__pb"] == iv["__ib"],
        ps[point_ts] >= iv[start_col],
        ps[point_ts] <= iv[end_col],
    ]
    dropped = [iv[k] for k in keys_l] + [ps["__pb"], iv["__ib"]]
    out = ps.join(iv, cond, how)
    for c in dropped:
        out = out.drop(c)
    return out
