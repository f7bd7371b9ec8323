"""Temporal joins: as-of and range (interval) joins.

Absent from the reference (SURVEY.md §2.5 — its only join is the
single-key equi inner join at main.py:251-263), but essential for
event-time analytics. Both are expressed so the physical plan is a
plain shuffled equi-join — Spark OSS would otherwise plan an
inequality join as BroadcastNestedLoopJoin, which dies at scale.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .registry import register
from .relational import exact_sum


def _resolve(right, views):
    return views[right] if isinstance(right, str) else right


def epoch_seconds(col: F.Column) -> F.Column:
    """Event-time column -> epoch seconds (long), tolerant of
    TIMESTAMP_NTZ inputs: NTZ has no instant semantics so Spark refuses
    a direct long cast; routing through TimestampType interprets the
    wall-clock in the session timezone (pinned UTC at our ingestion
    seams), which is the only consistent reading. Plain timestamps and
    numeric columns pass through unchanged (cast is a no-op/identity)."""
    return col.cast("timestamp").cast("long")


def native_instant(col: F.Column, dtype) -> F.Column:
    """Exact native-unit instant: µs for timestamp/date columns, the
    RAW value for integral ts columns — used DIRECTLY, because the
    seconds→timestamp→long roundtrip in epoch_seconds SATURATES past
    ~9.2e12 s (range_join precedent), and because an integral ts's
    unit is the caller's contract, not ours. Shared by asof nearest
    distances and time_weighted durations (one definition — a future
    type addition must not diverge per site)."""
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType,
                          T.ByteType)):
        return col.cast("long")
    return F.unix_micros(col.cast("timestamp"))


def _drop_null_ts(df: DataFrame, *cols: str) -> DataFrame:
    """Rows with a NULL event-time have no position on the timeline:
    every temporal operator EXCLUDES them (the rolling/time_weighted
    precedent, made uniform by the round-9 NULL-fixture sweep). The
    alternative is worse than undefined — Spark windows order NULLS
    FIRST, so a NULL-ts right row in an as-of carry INVENTS a match
    for every left row before the first real one, and NULL-ts events
    silently seed sessions/sequences in engine-specific order. Every
    oracle replays the exclusion with `ts IS NOT NULL`."""
    for c in cols:
        df = df.filter(F.col(c).isNotNull())
    return df


@register("asof_join")
def op_asof_join(df: DataFrame, config: Mapping, views) -> DataFrame:
    """As-of join: for each left row, attach the most recent right row
    with ``right_ts <= left_ts`` (``direction: "backward"``, default),
    the next right row with ``right_ts >= left_ts``
    (``direction: "forward"``), or whichever of the two is CLOSER in
    event time (``direction: "nearest"``, pandas merge_asof parity),
    per ``by`` key.

    ``nearest`` computes both directional picks in the SAME window
    sort (two frames over one partitioning — still ONE shuffle) and
    chooses by exact native-unit distance (µs for timestamps, raw
    units for integral ts). Pinned tie rules: an at-instant right row
    is a backward candidate at distance 0 (so it always wins);
    equidistant backward/forward candidates resolve BACKWARD;
    equal-ts candidates resolve by tiebreak (backward picks the max,
    forward the min — the directional rules, unchanged).

    Implemented as the union + carry pattern: tag both sides, union by
    name, and take ``last``/``first`` (ignorenulls) of the right
    payload over a running/forward window ordered by (ts, tag,
    tiebreak). ONE shuffle on the key, linear state, no
    point-in-interval cross product — this is the shape that survives
    100 TB, unlike a ``ts <= ts`` theta-join (nested loop) or per-key
    ``collect_list``.

    Config: ``right`` (view name or DataFrame), ``by`` (key columns),
    ``left_ts``/``right_ts`` (default "ts"), ``values`` (right columns
    to carry), ``prefix`` (default "r\\_"), ``right_tiebreak`` (orders
    equal-timestamp right rows; backward picks the LAST, forward the
    FIRST), ``tolerance_seconds`` (optional max staleness/lead),
    ``how`` = "left" (default; unmatched left rows keep NULLs) or
    "inner".
    """
    right_df = _resolve(config["right"], views)
    by = list(config.get("by", []))
    lts = config.get("left_ts", "ts")
    rts = config.get("right_ts", lts)
    values = list(config["values"])
    prefix = config.get("prefix", "r_")
    tiebreak = config.get("right_tiebreak")
    how = config.get("how", "left")
    direction = config.get("direction", "backward")
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"asof direction must be backward|forward|nearest, "
            f"not {direction!r}")
    # nearest rides the backward tag layout: at-instant right rows
    # land in the running frame (distance-0 backward candidates)
    backward = direction != "forward"

    df = _drop_null_ts(df, lts)
    right_df = _drop_null_ts(right_df, rts)

    payload = F.struct(*[F.col(c) for c in values], F.col(rts).alias("__rts"))
    # left rows need a __tb of the SAME TYPE as the right tiebreak for
    # the union; a typed NULL works for any column type (left rows all
    # share (ts, tag=1), so their relative __tb order is irrelevant)
    if tiebreak:
        tb_type = right_df.schema[tiebreak].dataType
        left_tb = F.lit(None).cast(tb_type)
        right_tb = F.col(tiebreak)
    else:
        left_tb = right_tb = F.lit(0)
    # tags order right rows toward the left row at equal timestamps:
    # backward -> right(0) before left(1) so an at-instant right row is
    # inside the running frame; forward -> left(0) before right(1) so
    # it is inside the following frame
    rtag, ltag = (0, 1) if backward else (1, 0)
    r = right_df.select(
        *by,
        F.col(rts).alias("__ts"),
        F.lit(rtag).alias("__tag"),
        payload.alias("__rpay"),
        right_tb.alias("__tb"),
    )
    l = df.select(
        "*",
        F.col(lts).alias("__ts"),
        F.lit(ltag).alias("__tag"),
        left_tb.alias("__tb"),
    )
    merged = l.unionByName(r, allowMissingColumns=True)

    # among equal-ts right rows: backward last() picks the max
    # tiebreak, forward first() picks the min
    w = Window.partitionBy(*by).orderBy("__ts", "__tag", "__tb")
    wb = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    tol = config.get("tolerance_seconds")
    if direction == "nearest":
        # both frames share the one (partition, order) sort — Spark
        # plans a single WindowExec, still exactly one key shuffle
        matched = (merged
                   .withColumn("__mb",
                               F.last("__rpay", ignorenulls=True).over(wb))
                   .withColumn("__mf",
                               F.first("__rpay", ignorenulls=True).over(wf)))
        out = matched.filter(F.col("__tag") == ltag)

        def _unit(c: F.Column) -> F.Column:
            return native_instant(c, df.schema[lts].dataType)

        d_b = _unit(F.col("__ts")) - _unit(F.col("__mb.__rts"))
        d_f = _unit(F.col("__mf.__rts")) - _unit(F.col("__ts"))
        if tol is not None:
            # tolerance stays SECOND-granular like the directional
            # modes (epoch_seconds difference), applied per candidate
            # BEFORE the nearest choice
            age_b = (epoch_seconds(F.col("__ts"))
                     - epoch_seconds(F.col("__mb.__rts")))
            age_f = (epoch_seconds(F.col("__mf.__rts"))
                     - epoch_seconds(F.col("__ts")))
            out = (out.withColumn(
                "__mb", F.when(age_b <= int(tol), F.col("__mb")))
                .withColumn(
                "__mf", F.when(age_f <= int(tol), F.col("__mf"))))
            d_b = _unit(F.col("__ts")) - _unit(F.col("__mb.__rts"))
            d_f = _unit(F.col("__mf.__rts")) - _unit(F.col("__ts"))
        # ties resolve backward (d_b <= d_f)
        out = out.withColumn(
            "__m",
            F.when(F.col("__mb").isNull(), F.col("__mf"))
             .when(F.col("__mf").isNull(), F.col("__mb"))
             .when(d_b <= d_f, F.col("__mb"))
             .otherwise(F.col("__mf"))).drop("__mb", "__mf")
    else:
        if backward:
            pick = F.last("__rpay", ignorenulls=True).over(wb)
        else:
            pick = F.first("__rpay", ignorenulls=True).over(wf)
        matched = merged.withColumn("__m", pick)
        out = matched.filter(F.col("__tag") == ltag)
        if tol is not None:
            lead = (epoch_seconds(F.col("__ts"))
                    - epoch_seconds(F.col("__m.__rts")))
            age = lead if backward else -lead
            out = out.withColumn(
                "__m", F.when(age <= int(tol), F.col("__m")))
    if how == "inner":
        out = out.filter(F.col("__m").isNotNull())

    keep = [c for c in df.columns]
    carried = [F.col(f"__m.{c}").alias(f"{prefix}{c}") for c in values]
    carried.append(F.col("__m.__rts").alias(f"{prefix}{rts}_asof"))
    return out.select(*keep, *carried)


@register("range_join")
def op_range_join(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Point-in-interval join: left rows (timestamp ``left_ts``) against
    right intervals ``[start, end)`` per ``by`` key.

    Bucketized to stay an equi-join: both sides bin timestamps into
    fixed-width buckets; each right interval explodes into every
    bucket it overlaps (``sequence``); join on (key, bucket); exact
    containment filter last. A left point lives in exactly one bucket,
    so each matching pair appears exactly once — no post-dedup, no
    cartesian. Pick ``bucket_seconds`` ≈ the typical interval length:
    explosion factor stays O(1) and the join is a plain shuffled hash
    join at any scale.

    Config: ``right``, ``by``, ``left_ts`` (default "ts"),
    ``start_field``/``end_field``, ``bucket_seconds`` (default 3600),
    ``prefix`` (default "r\\_"), ``end_inclusive`` (default False).

    Exactness: buckets use integral ``div`` (a double ``/``+floor can
    misround near 2^52 — CLAUDE.md invariant; ``div`` truncates
    toward zero, which is monotone, so bucket containment stays exact
    for negative epochs too), and integral ts/bound columns are used
    DIRECTLY — the seconds→timestamp→long roundtrip in epoch_seconds
    SATURATES past ~9.2e12 s, silently clamping e.g. raw epoch-ns
    longs (time_resample precedent).
    """
    right_df = _resolve(config["right"], views)
    by = list(config.get("by", []))
    lts = config.get("left_ts", "ts")
    start, end = config["start_field"], config["end_field"]
    bw = int(config.get("bucket_seconds", 3600))
    prefix = config.get("prefix", "r_")

    def _sec(frame: DataFrame, name: str) -> F.Column:
        dt = frame.schema[name].dataType
        c = F.col(name)
        return (c.cast("long")
                if isinstance(dt, (T.ByteType, T.ShortType,
                                   T.IntegerType, T.LongType))
                else epoch_seconds(c))

    left = (df.withColumn("__pt", _sec(df, lts))
            .withColumn("__b", F.expr(f"__pt div {bw}")))

    right = (right_df.select(
        *[F.col(c).alias(f"{prefix}{c}") for c in right_df.columns],
        _sec(right_df, start).alias("__lo"),
        _sec(right_df, end).alias("__hi"))
        .withColumn("__b", F.explode(F.sequence(
            F.expr(f"__lo div {bw}"), F.expr(f"__hi div {bw}")))))

    joined = left.join(right, [*[
        left[k] == right[f"{prefix}{k}"] for k in by
    ], left["__b"] == right["__b"]] if by else [left["__b"] == right["__b"]])
    pt, lo, hi = F.col("__pt"), F.col("__lo"), F.col("__hi")
    contained = (pt >= lo) & (pt <= hi if config.get("end_inclusive") else pt < hi)
    return joined.filter(contained).drop("__b", "__pt", "__lo", "__hi")


@register("interval_join")
def op_interval_join(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Interval-overlap join: left intervals [left_start, left_end)
    against right intervals [right_start, right_end) per ``by`` key —
    the two-table companion of interval_merge (ad exposures × user
    sessions, incident windows × deploy windows, span-vs-span
    contamination). Absent from the reference (its only join is the
    single-key equi inner join, main.py:251-263); Spark OSS plans a
    raw inequality predicate as BroadcastNestedLoopJoin, which dies
    at scale.

    Bucketized to stay an equi-join (range_join's machinery, doubled):
    each side explodes its interval into the fixed-width buckets it
    overlaps, the join runs on (by..., bucket), and the exact overlap
    predicate filters last — each surviving pair kept exactly ONCE
    without a distinct: only the copy in the bucket containing the
    overlap start (``bucket(greatest(l_start, r_start))``, provably
    inside both sides' explosions) survives, so the plan is a plain
    shuffled hash join at any scale. Buckets come from exact integral
    division (SQL ``div`` — a double ``/``+floor misrounds near 2^52;
    ``div`` truncates toward zero, a monotone map, so bucket
    containment is exact for negative bounds too). Integral bound
    columns are used directly (the timestamp roundtrip in
    epoch_seconds SATURATES past ~9.2e12 s — time_resample
    precedent); timestamp bounds go through ``epoch_seconds``.

    Overlap semantics: half-open by default (``l_start < r_end AND
    r_start < l_end``); ``end_inclusive: true`` closes both ends so
    touching intervals match. Degenerate intervals (empty under the
    chosen semantics) and NULL bounds match nothing and are filtered
    BEFORE the explode (``sequence(hi, lo)`` would descend, not
    return empty). NULL ``by`` keys never match (standard equi-join
    semantics — both engines agree, unlike the groupBy-joinback ops
    where NULL is a group). A per-interval executor-side guard fails
    loud when one interval spans more than ``max_buckets`` buckets
    (the explosion bound; sample_pps's when/otherwise VALUE pattern,
    so Catalyst cannot prune it).

    config: ``right`` (view name or DataFrame), ``by`` keys,
    ``left_start``/``left_end`` (default start/end),
    ``right_start``/``right_end`` (default: the left names),
    ``bucket_width`` in the bounds' unit (default 3600 — pick ≈ the
    typical interval length so the explosion factor stays O(1)),
    ``max_buckets`` per interval (default 10_000), ``prefix``
    (default "r\\_") on every right column, ``end_inclusive``
    (default false), ``overlap: true`` adds exact ``overlap_start`` /
    ``overlap_end`` / ``overlap_len`` longs (end-exclusive length —
    touching inclusive intervals overlap with len 0).
    """
    right_df = _resolve(config["right"], views)
    by = list(config.get("by", []))
    ls_f = config.get("left_start", "start")
    le_f = config.get("left_end", "end")
    rs_f = config.get("right_start", ls_f)
    re_f = config.get("right_end", le_f)
    bw = int(config.get("bucket_width", 3600))
    if bw <= 0:
        raise ValueError(f"bucket_width must be positive, got {bw}")
    max_buckets = int(config.get("max_buckets", 10_000))
    prefix = config.get("prefix", "r_")
    inclusive = bool(config.get("end_inclusive", False))

    def _bound(frame: DataFrame, name: str) -> F.Column:
        dt = frame.schema[name].dataType
        c = F.col(name)
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                           T.LongType)):
            return c.cast("long")
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType,
                           T.DateType)):
            # second granularity: sub-second bound precision truncates
            return epoch_seconds(c)
        # float/decimal bounds would ride the saturating
        # seconds->timestamp->long roundtrip and round unpredictably —
        # the overlap contract is exact long arithmetic only
        raise ValueError(
            f"interval_join: bound column {name!r} must be integral, "
            f"timestamp, or date (exact long bucket arithmetic), "
            f"got {dt.simpleString()}")

    def _explode(frame, s_field, e_field, s_name, e_name, b_name, cols):
        staged = frame.select(*cols,
                              _bound(frame, s_field).alias(s_name),
                              _bound(frame, e_field).alias(e_name))
        s, e = F.col(s_name), F.col(e_name)
        nonempty = (e >= s) if inclusive else (e > s)
        lo_raw = F.expr(f"{s_name} div {bw}")
        hi = F.expr(f"{e_name} div {bw}")
        nb = hi - lo_raw + F.lit(1)
        lo = F.when(nb <= max_buckets, lo_raw).otherwise(
            F.assert_true(F.lit(False), F.concat(
                F.lit("interval_join: an interval spans "),
                F.coalesce(nb.cast("string"), F.lit("NULL")),
                F.lit(f" buckets (max_buckets={max_buckets}) — raise "
                      "bucket_width or max_buckets"))).cast("long"))
        return (staged.filter(nonempty)
                .withColumn(b_name, F.explode(F.sequence(lo, hi))))

    left = _explode(df, ls_f, le_f, "__ls", "__le", "__b", df.columns)
    right = _explode(
        right_df, rs_f, re_f, "__rs", "__re", "__rb",
        [F.col(c).alias(f"{prefix}{c}") for c in right_df.columns])
    cond = [left[f"{k}"] == right[f"{prefix}{k}"] for k in by]
    cond.append(left["__b"] == right["__rb"])
    joined = left.join(right, cond)
    ls, le = F.col("__ls"), F.col("__le")
    rs, re_ = F.col("__rs"), F.col("__re")
    if inclusive:
        overlap = (ls <= re_) & (rs <= le)
    else:
        overlap = (ls < re_) & (rs < le)
    once = F.expr(f"greatest(__ls, __rs) div {bw}") == F.col("__b")
    out = joined.filter(overlap & once)
    extra = []
    if config.get("overlap"):
        extra = [F.greatest(ls, rs).alias("overlap_start"),
                 F.least(le, re_).alias("overlap_end"),
                 (F.least(le, re_) - F.greatest(ls, rs))
                 .alias("overlap_len")]
    return out.select(*df.columns,
                      *[f"{prefix}{c}" for c in right_df.columns],
                      *extra)


@register("funnel")
def op_funnel(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Ordered-step funnel analysis over an event stream: for each
    ``key``, step k is reached at the EARLIEST event of type
    ``steps[k]`` that happens strictly after step k-1 was reached
    (the classic product-analytics conversion funnel). Optional
    ``within_seconds`` bounds the whole journey from step 1.

    Shape at scale: the chained step times are window minima over the
    SAME partitioning (each step's condition references the previous
    step's column), so Catalyst plans ONE hash shuffle on the key for
    users mode and evaluates the k Window nodes over it — never k
    scans or a per-step join cascade; the per-key rollup reuses the
    partitioning (plan-gated in test_plans.py). Summary mode adds
    exactly one more exchange — the one-row global count aggregate —
    and emits the per-step rows by exploding an inline struct array,
    so the aggregate subtree is planned once, not once per step.

    ``mode: "users"`` (default) returns one row per key with
    ``step_1_ts..step_k_ts`` timestamps (NULL = never reached);
    ``mode: "summary"`` returns one row per step with ``n_reached``
    and ``conversion`` (share of step-1 reachers, exact
    bigint/bigint double division); ``mode: "timing"`` returns one
    row per TRANSITION with ``n_converted`` and the exact summed
    whole-second conversion delay (``sum_seconds``, long).
    """
    steps = list(config["steps"])
    if len(steps) < 2:
        raise ValueError("funnel needs at least 2 steps")
    key = config.get("key", "user_id")
    ts_field = config.get("ts_field", "ts")
    type_field = config.get("type_field", "event_type")
    mode = config.get("mode", "users")
    if mode not in ("users", "summary", "timing"):
        raise ValueError(
            f"funnel mode must be users|summary|timing, got {mode!r}")
    within = config.get("within_seconds")

    w = Window.partitionBy(key)
    out = df
    prev = None
    deadline = None
    for i, step in enumerate(steps, start=1):
        col = f"step_{i}_ts"
        cond = F.col(type_field) == step
        if prev is not None:
            cond = cond & (F.col(ts_field) > F.col(prev))
        if deadline is not None and prev is not None:
            cond = cond & (F.col(ts_field) <= deadline)
        out = out.withColumn(
            col, F.min(F.when(cond, F.col(ts_field))).over(w))
        if i == 1 and within is not None:
            deadline = F.col("step_1_ts") + F.expr(
                f"INTERVAL {int(within)} SECONDS")
        prev = col
    ts_cols = [f"step_{i}_ts" for i in range(1, len(steps) + 1)]
    users = (out.groupBy(key)
             .agg(*[F.first(c).alias(c) for c in ts_cols]))
    if mode == "users":
        return users
    if mode == "timing":
        # exact time-to-convert per transition: n converted + SUMMED
        # whole-second delta (long — bit-exact in any engine; consumers
        # derive the mean as sum/n so no float rides the contract).
        # Same plan as summary: the per-key rollup + one global
        # aggregate exploded to one row per transition.
        aggs = []
        for i in range(2, len(steps) + 1):
            delta = (epoch_seconds(F.col(f"step_{i}_ts"))
                     - epoch_seconds(F.col(f"step_{i - 1}_ts")))
            aggs.append(F.count(F.col(f"step_{i}_ts"))
                        .alias(f"__n{i}"))
            aggs.append(F.sum(delta).alias(f"__s{i}"))
        counts = users.agg(*aggs)
        per_step = F.array(*[
            F.struct(
                F.lit(i).alias("step_idx"),
                F.lit(steps[i - 2]).alias("from_step"),
                F.lit(steps[i - 1]).alias("to_step"),
                F.col(f"__n{i}").alias("n_converted"),
                F.coalesce(F.col(f"__s{i}"), F.lit(0)).cast("long")
                .alias("sum_seconds"))
            for i in range(2, len(steps) + 1)])
        return (counts.select(F.explode(per_step).alias("__s"))
                .select("__s.*"))
    counts = users.agg(*[
        F.count(c).alias(f"__n{i}") for i, c in enumerate(ts_cols, 1)])
    # one row per step via explode over an inline struct array — the
    # one-row counts aggregate is consumed ONCE (a per-step union
    # would re-plan the whole aggregate subtree k times and lean on
    # exchange reuse to dedup it; VERDICT r3 #3)
    per_step = F.array(*[
        F.struct(
            F.lit(i).alias("step_idx"), F.lit(step).alias("step"),
            F.col(f"__n{i}").alias("n_reached"),
            F.when(F.col("__n1") > 0,
                   F.col(f"__n{i}").cast("double") / F.col("__n1"))
            .otherwise(F.lit(0.0)).alias("conversion"))
        for i, step in enumerate(steps, start=1)])
    return (counts.select(F.explode(per_step).alias("__s"))
            .select("__s.*"))


@register("retention_cohorts")
def op_retention_cohorts(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Cohort retention matrix: users grouped by their first-activity
    period (``period``: day/week/month via date_trunc), counted in
    each subsequent period they returned. Output rows
    (cohort, period_offset, n_active) — the classic retention
    triangle.

    Shape: one aggregation keyed on the user for first-seen, one
    distinct over (user, period) — both map-side-partial; the cohort
    attach is a plain equi-join by default so AQE picks broadcast vs
    shuffle from the MEASURED first-seen size (one row per user —
    forcing broadcast would OOM at 100 TB user counts; ADVICE r3).
    ``broadcast: true`` opts into the hint for known-small keyspaces.
    Offsets are exact integer arithmetic on epoch days (no interval
    float math)."""
    key = config.get("key", "user_id")
    ts_field = config.get("ts_field", "ts")
    period = config.get("period", "week")
    per_days = {"day": 1, "week": 7, "month": 30}.get(period)
    if per_days is None:
        raise ValueError(f"period must be day|week|month, got {period!r}")
    trunc = F.date_trunc(period, F.col(ts_field))
    firsts = (df.groupBy(key)
              .agg(F.min(trunc).alias("cohort")))
    active = (df.select(F.col(key), trunc.alias("__p"))
              .dropDuplicates([key, "__p"]))
    if config.get("broadcast", False):
        firsts = F.broadcast(firsts)
    # month offsets use calendar months (months_between on truncated
    # stamps is integral); day/week use exact epoch-day division
    joined = active.join(firsts, key)
    if period == "month":
        offset = F.months_between(F.col("__p"), F.col("cohort")).cast("long")
    else:
        offset = (F.datediff(F.col("__p"), F.col("cohort"))
                  / F.lit(per_days)).cast("long")
    return (joined.withColumn("period_offset", offset)
            .groupBy("cohort", "period_offset")
            .agg(F.count_distinct(key).alias("n_active")))


@register("event_transitions")
def op_event_transitions(df: DataFrame, config: Mapping, views) -> DataFrame:
    """First-order event-flow graph: counts of (event_type -> next
    event_type) transitions within each key's timeline — the Sankey /
    Markov-chain view of user behavior. ``probability`` adds the
    per-source transition probability (exact bigint/bigint double).

    One window shuffle on the key (lead over the shared sort), one
    pair-count aggregation. Ties on the timestamp order by
    ``tiebreak`` (default the type column) so the chain is
    deterministic."""
    key = config.get("key", "user_id")
    ts_field = config.get("ts_field", "ts")
    type_field = config.get("type_field", "event_type")
    tiebreak = config.get("tiebreak", [type_field])
    w = Window.partitionBy(key).orderBy(F.col(ts_field), *[
        F.col(c) for c in tiebreak])
    df = _drop_null_ts(df, ts_field)
    pairs = (df.withColumn("__next", F.lead(type_field).over(w))
             .filter(F.col("__next").isNotNull())
             .groupBy(F.col(type_field).alias("src"),
                      F.col("__next").alias("dst"))
             .agg(F.count(F.lit(1)).alias("n")))
    if config.get("probability"):
        tot = Window.partitionBy("src")
        pairs = pairs.withColumn(
            "p", F.col("n").cast("double") / F.sum("n").over(tot))
    return pairs


def _epoch_col(df: DataFrame, ts_field: str) -> F.Column:
    """Epoch-seconds long for a ts column: integral columns pass
    through DIRECTLY (epoch_seconds' timestamp roundtrip SATURATES
    past ~9.2e12 s, silently corrupting raw epoch-ns longs);
    everything else routes through epoch_seconds."""
    ts_dt = df.schema[ts_field].dataType
    return (F.col(ts_field).cast("long")
            if isinstance(ts_dt, (T.ByteType, T.ShortType, T.IntegerType,
                                  T.LongType))
            else epoch_seconds(F.col(ts_field)))


def _resample_aggs(df: DataFrame, specs, opname: str):
    """Aggregate-spec builder shared by time_resample / time_rollup:
    count/sum/min/max with ``exact_sum`` for float sums (double sums
    associate differently per partitioning/engine). Returns
    (agg_cols, aliases)."""
    floaty = {f.name for f in df.schema.fields
              if f.dataType.typeName() in ("float", "double")}
    agg_cols, out_names = [], []
    for spec in specs:
        fn = spec["function"]
        field = spec.get("field")
        alias = spec.get("alias") or (f"{field}_{fn}" if field else "n_rows")
        out_names.append(alias)
        if fn == "count":
            agg_cols.append((F.count(F.col(field)) if field
                             else F.count(F.lit(1))).alias(alias))
        elif fn == "sum":
            c = F.col(field)
            if field in floaty:
                agg_cols.append(exact_sum(c).alias(alias))
            else:
                agg_cols.append(F.sum(c).alias(alias))
        elif fn in ("min", "max"):
            agg_cols.append(getattr(F, fn)(F.col(field)).alias(alias))
        else:
            raise ValueError(f"unknown {opname} aggregate {fn!r}")
    return agg_cols, out_names


@register("time_resample")
def op_time_resample(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Regularize an event series onto a fixed time grid: one output
    row per (key, bucket) for EVERY ``interval``-second step between
    each key's first and last observation — including empty buckets —
    with per-bucket aggregates and optional gap filling. The
    timeseries-preparation primitive (rate computation, monitoring
    rollups, training-data windowing) the reference cannot express
    (its transforms are row-local, SURVEY.md §2.5).

    Buckets are epoch-second floors (``bucket = epoch div interval *
    interval``, exact long arithmetic — timestamps truncate, never
    round, so any engine replays bucket membership). Empty buckets
    are generated DISTRIBUTED and WITHOUT A JOIN: a per-key LAG over
    the observed buckets finds each gap, and the gap row explodes its
    own ``sequence()`` — so grid generation parallelizes over keys,
    no single task materializes the global span, and (because
    Window.partitionBy treats a NULL key as a regular group, unlike
    the equi-join a grid-join-back would need) rows with NULL group
    keys keep their aggregates. The observed-bucket aggregate runs
    one (keys, bucket) shuffle; the gap window and the ffill window
    share one shuffle on the keys.

    config: ``ts_field`` (default ts), ``interval`` seconds,
    ``group_by`` keys, ``aggregates`` [{field, function, alias}]
    with count/sum/min/max (sum over float columns is ``exact_sum``,
    like the aggregate operator — order-independent),
    ``fill``: none (empty buckets hold NULL aggregates) | zero |
    ffill (carry the last observed value forward) | linear
    (interpolate between the gap's two observed endpoints:
    ``p + (c − p)·((b − pb)/(cb − pb))`` — the identical IEEE op
    sequence in any engine, so the interpolated values replay
    bit-for-bit; linear CASTS every aggregate column to double,
    observed buckets included, and a NULL endpoint interpolates the
    whole gap to NULL). A guard rejects
    grids over ``max_buckets`` (default 10M) per key — a 1-second
    interval over years of data is almost always a config mistake.

    Output: keys + ``bucket`` (epoch seconds, long) + ``bucket_ts``
    (timestamp) + aggregate columns.
    """
    ts_field = config.get("ts_field", "ts")
    step = int(config["interval"])
    if step < 1:
        raise ValueError(f"interval must be >= 1 second, got {step}")
    keys = list(config.get("group_by", []))
    fill = config.get("fill", "none")
    if fill not in ("none", "zero", "ffill", "linear"):
        raise ValueError(
            f"fill must be none|zero|ffill|linear, got {fill!r}")
    max_buckets = int(config.get("max_buckets", 10_000_000))
    specs = config.get("aggregates") or [{"function": "count"}]

    # exact long floor-to-multiple: e - pmod(e, step) == floor(e/step)*step
    # for every long e (pmod is non-negative for positive step). A double
    # `/` + floor can misround near 2^52-magnitude operands (CLAUDE.md
    # invariant; matters when ts_field is already a large raw long).
    # Integral ts columns bypass epoch_seconds entirely: its
    # timestamp roundtrip SATURATES past the timestamp range
    # (~9.2e12 s), silently corrupting e.g. epoch-ns longs — integral
    # input is already in the bucket domain. (bucket_ts for such
    # buckets saturates at the max timestamp; the long `bucket` is
    # the exact column.)
    df = _drop_null_ts(df, ts_field)
    e = _epoch_col(df, ts_field)
    bucket = (e - F.pmod(e, F.lit(step))).cast("long")
    agg_cols, out_names = _resample_aggs(df, specs, "resample")

    # The rollup is checkpointed because THREE consumers need it (the
    # span guard — which already made this operator eager — the gap
    # branch, and the fill branch): lazy lineage would re-scan the
    # raw corpus once per consumer, since column pruning specializes
    # each branch's aggregate subtree and defeats ReuseExchange. One
    # corpus scan, then everything downstream works on the
    # (keys × buckets)-sized rollup.
    obs = (df.withColumn("__bkt", bucket)
           .groupBy(*keys, "__bkt").agg(*agg_cols)).localCheckpoint()
    bounds = obs.groupBy(*keys).agg(F.min("__bkt").alias("__mn"),
                                    F.max("__bkt").alias("__mx"))
    span_guard = bounds.agg(F.max(
        (F.col("__mx") - F.col("__mn")) / F.lit(step)).alias("m")).first()
    if span_guard and span_guard["m"] is not None \
            and span_guard["m"] >= max_buckets:
        raise ValueError(
            f"time_resample: a key spans {int(span_guard['m'])} buckets "
            f"(max_buckets={max_buckets}) — raise interval or max_buckets")
    # empty buckets WITHOUT a grid join-back: a plain equi-join on the
    # keys would drop NULL-key groups' matches (groupBy treats NULL as
    # a group, joins don't), and a null-safe join condition would cost
    # obs a second exchange. The per-key LAG finds each gap; the gap
    # row explodes exactly the missing buckets; unionByName leaves
    # their aggregate columns NULL (= fill "none" semantics). With no
    # keys the gap window is single-partition over OBSERVED BUCKETS —
    # grid-sized (max_buckets-guarded), never corpus-sized.
    gw = (Window.partitionBy(*keys) if keys
          else Window.partitionBy(F.lit(1))).orderBy("__bkt")
    if fill == "linear":
        # the SAME gap window also carries the endpoint VALUES, so
        # each generated bucket interpolates from its own gap row —
        # still one key shuffle, no join-back
        staged = obs.select(
            *keys, "__bkt", *out_names,
            F.lag("__bkt").over(gw).alias("__prev"),
            *[F.lag(a).over(gw).alias(f"__p_{a}") for a in out_names])
        g = (staged.filter(F.col("__prev").isNotNull()
                           & (F.col("__bkt") - F.col("__prev") > step))
             .withColumn("__gb", F.explode(F.sequence(
                 F.col("__prev") + step, F.col("__bkt") - step,
                 F.lit(step)))))
        frac = ((F.col("__gb") - F.col("__prev")).cast("double")
                / (F.col("__bkt") - F.col("__prev")).cast("double"))

        def interp(a: str) -> F.Column:
            p = F.col(f"__p_{a}").cast("double")
            c = F.col(a).cast("double")
            return (p + (c - p) * frac).alias(a)

        gaps = g.select(*keys, F.col("__gb").alias("__bkt"),
                        *[interp(a) for a in out_names])
        out = obs.select(
            *keys, "__bkt",
            *[F.col(a).cast("double").alias(a) for a in out_names]
        ).unionByName(gaps)
        return (out.withColumn("bucket", F.col("__bkt"))
                .withColumn("bucket_ts", F.col("__bkt").cast("timestamp"))
                .drop("__bkt"))
    gaps = (obs.select(*keys, "__bkt",
                       F.lag("__bkt").over(gw).alias("__prev"))
            .filter(F.col("__prev").isNotNull()
                    & (F.col("__bkt") - F.col("__prev") > step))
            .select(*keys, F.explode(F.sequence(
                F.col("__prev") + step, F.col("__bkt") - step,
                F.lit(step))).alias("__bkt")))
    out = obs.unionByName(gaps, allowMissingColumns=True)
    if fill == "zero":
        for alias in out_names:
            out = out.withColumn(alias, F.coalesce(
                F.col(alias), F.lit(0).cast(dict(out.dtypes)[alias])))
    elif fill == "ffill":
        w = (Window.partitionBy(*keys) if keys
             else Window.partitionBy(F.lit(1)))
        w = w.orderBy("__bkt").rowsBetween(
            Window.unboundedPreceding, Window.currentRow)
        for alias in out_names:
            out = out.withColumn(
                alias, F.last(F.col(alias), ignorenulls=True).over(w))
    return (out.withColumn("bucket", F.col("__bkt"))
            .withColumn("bucket_ts", F.col("__bkt").cast("timestamp"))
            .drop("__bkt"))


@register("time_weighted")
def op_time_weighted(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Time-weighted average per key — the irregular-sampling mean
    a plain AVG gets wrong (a sensor reporting 100x/s while hot and
    1x/h while idle; a price quoted on every trade): each observation
    holds (LOCF) until the next one, so the mean weights each value
    by how LONG it was current, not how OFTEN it was reported. The
    TimescaleDB ``time_weight('locf')`` shape; no counterpart in the
    reference (zero temporal ops, SURVEY.md §2).

    Output per group: ``n_obs``, ``span`` (last − first observation
    instant in native units: µs for timestamps, raw units for
    integral ts — used directly, saturation bypass), and ``twa`` =
    Σ v_i·(e_{i+1} − e_i) / span as double (NULL when span = 0 —
    fewer than two distinct instants means no elapsed time to
    weight). The LAST observation contributes nothing (its holding
    interval is unobserved) — the closed-form integral over exactly
    the observed span.

    Exactness, two tiers by the VALUE column's type:

    - INTEGRAL values (the replayable tier — feed cents, not
      dollars): the numerator runs entirely in DECIMAL(38,0) integer
      arithmetic (v cast to decimal, multiplied by the long Δt,
      summed exactly), string-cast to double once, divided by the
      exact long span once — bit-for-bit identical in any engine and
      at any partitioning. The double detour is NOT taken: a product
      like cents·Δt_µs ≈ 1e17 exceeds 2^53, and Spark's shortest-
      roundtrip double→decimal cast then drops exact integer digits
      past 17 significant figures while DuckDB's full-binary cast
      keeps them (measured: ~1e-16 rel divergence on the events
      fixture before this split).
    - FLOAT values: per-term products v·Δt are single IEEE multiplies
      (identical in any engine), summed through the DECIMAL(38,10)
      route (order-independent within Spark — deterministic at any
      partitioning). Cross-engine replay is ~1-ulp-per-term only:
      Spark quantizes the SHORTEST double repr to 10 dp, other
      engines the full binary expansion, and the 10th decimal can
      round apart (CLAUDE.md decimal-cast caveat). Oracle pairs must
      use the integral tier.

    Duplicate instants order by (instant, value): the earlier-ordered
    duplicate holds for 0 time, so the contribution multiset is
    deterministic. NULL values/timestamps are excluded (an unreported
    value has no LOCF meaning).

    Shape: grouped mode is ONE hash shuffle (the LEAD window and the
    per-key aggregate share the key partitioning). Global mode
    (empty ``group_by``) must not single-partition-sort the corpus
    (the banned global-window shape): it range-partitions on the
    instant, LEADs within each partition, and stitches the partition
    boundaries with a collected O(#partitions) first-instant map —
    the distributed-prefix-sum machinery (ranged frame
    localCheckpointed BEFORE the boundary collect, CLAUDE.md race
    invariant).

    Bucketed mode (``interval`` seconds, timestamp ts — raw units for
    integral ts): the continuous-aggregate shape ("hourly TWAP per
    symbol"). Each holding interval [e_i, e_{i+1}) explodes into the
    fixed-width buckets it overlaps (exact pmod floor-to-multiple
    arithmetic; per-interval ``max_buckets`` explosion guard, the
    interval_join VALUE-pattern assert) with its duration CLIPPED to
    each bucket, then ONE hash aggregate on (keys, bucket) — so a
    value holding across a bucket boundary weights each side by
    exactly the time it was current there. Output per (group,
    bucket): ``bucket`` (native-unit floor multiple; ``bucket_ts``
    added for timestamp inputs), ``n_obs`` (holding intervals
    touching the bucket), ``covered`` (observed time inside the
    bucket — partial first/last buckets divide by their covered
    span, not the full width), ``twa``. Zero-length holding
    intervals (duplicate instants) contribute nothing; a key's last
    observation still holds nothing.

    config: ``ts_field`` (default ts), ``value_field`` (required),
    ``group_by`` (default [] = global), ``n_partitions`` (global
    mode; default defaultParallelism), ``interval`` (optional —
    bucketed mode), ``max_buckets`` (default 10_000).
    """
    tsf = config.get("ts_field", "ts")
    vf = config["value_field"]
    by = list(config.get("group_by", []))

    ts_type = df.schema[tsf].dataType
    inst = native_instant(F.col(tsf), ts_type)
    v_integral = isinstance(df.schema[vf].dataType,
                            (T.LongType, T.IntegerType, T.ShortType,
                             T.ByteType))
    v = F.col(vf).cast("long" if v_integral else "double")
    nn = (df.filter(F.col(tsf).isNotNull() & F.col(vf).isNotNull())
          .select(*by, inst.alias("__e"), v.alias("__v")))

    if by:
        w = Window.partitionBy(*by).orderBy("__e", "__v")
        staged = nn.withColumn("__ne", F.lead("__e").over(w))
    else:
        n_parts = int(config.get("n_partitions", 0)) or \
            df.sparkSession.sparkContext.defaultParallelism
        ranged = (nn.repartitionByRange(n_parts, "__e", "__v")
                  .withColumn("__pid", F.spark_partition_id())
                  .localCheckpoint())
        firsts = ranged.groupBy("__pid").agg(F.min("__e").alias("__f"))
        rows = sorted((r["__pid"], r["__f"]) for r in firsts.collect())
        # each partition's LAST row holds until the first instant of
        # the next NON-EMPTY partition
        nxt = {}
        for i, (pid, first) in enumerate(rows):
            nxt[pid] = rows[i + 1][1] if i + 1 < len(rows) else None
        pairs = [x for kv in nxt.items() if kv[1] is not None
                 for x in (F.lit(kv[0]), F.lit(kv[1]))]
        boundary = (F.element_at(F.create_map(*pairs), F.col("__pid"))
                    if pairs else F.lit(None).cast("long"))
        wp = Window.partitionBy("__pid").orderBy("__e", "__v")
        staged = ranged.withColumn(
            "__ne", F.coalesce(F.lead("__e").over(wp), boundary))

    interval = config.get("interval")
    if interval is not None:
        ts_is_time = not isinstance(ts_type, (T.LongType, T.IntegerType,
                                              T.ShortType, T.ByteType))
        width = int(interval) * (1_000_000 if ts_is_time else 1)
        if width <= 0:
            raise ValueError(f"interval must be positive, got {interval}")
        max_buckets = int(config.get("max_buckets", 10_000))
        e, ne = F.col("__e"), F.col("__ne")
        # exact floor-to-multiple (pmod, never a double floor); the
        # holding interval is half-open so its last bucket is the one
        # containing ne - 1
        held = (staged.filter(F.col("__ne") > F.col("__e"))
                .withColumn("__blo", e - F.pmod(e, F.lit(width)))
                .withColumn("__bhi",
                            (ne - 1) - F.pmod(ne - 1, F.lit(width))))
        # exact integral div (the bucket-count guard must not misround
        # near 2^53 any more than the buckets themselves)
        nb = F.expr(f"(__bhi - __blo) div {width}") + F.lit(1)
        lo_guarded = F.when(nb <= max_buckets, F.col("__blo")).otherwise(
            F.assert_true(F.lit(False), F.concat(
                F.lit("time_weighted: a holding interval spans "),
                F.coalesce(nb.cast("string"), F.lit("NULL")),
                F.lit(f" buckets (max_buckets={max_buckets}) — raise "
                      "interval or max_buckets"))).cast("long"))
        ex = held.withColumn(
            "__b", F.explode(F.sequence(lo_guarded, F.col("__bhi"),
                                        F.lit(width))))
        b = F.col("__b")
        clip = (F.least(ne, b + width) - F.greatest(e, b))
        if v_integral:
            term = F.col("__v").cast("decimal(38,0)") * clip
        else:
            term = (F.col("__v") * clip.cast("double")
                    ).cast("decimal(38,10)")
        agg = ex.groupBy(*by, b.alias("bucket")).agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum(clip).alias("covered"),
            F.sum(term).cast("string").cast("double").alias("__num"))
        out = agg.select(
            *by, "bucket", "n_obs", "covered",
            (F.col("__num") / F.col("covered").cast("double"))
            .alias("twa"))
        if ts_is_time:
            out = out.withColumn(
                "bucket_ts", F.timestamp_micros(F.col("bucket")))
        return out

    if v_integral:
        term = (F.col("__v").cast("decimal(38,0)")
                * (F.col("__ne") - F.col("__e")))
    else:
        term = (F.col("__v")
                * (F.col("__ne") - F.col("__e")).cast("double")
                ).cast("decimal(38,10)")
    num = F.sum(term).cast("string").cast("double")
    span = (F.max("__e") - F.min("__e")).cast("long")
    agg = staged.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_obs"),
        span.alias("span"),
        num.alias("__num"))
    return agg.select(
        *by, "n_obs", "span",
        F.when(F.col("span") > 0,
               F.col("__num") / F.col("span").cast("double"))
        .alias("twa"))


@register("rolling")
def op_rolling(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Per-row rolling aggregates over an EVENT-TIME horizon — "each
    purchase annotated with the user's purchase count / spend over
    the trailing 6 hours" — the feature-engineering primitive behind
    velocity/fraud/engagement signals. A RANGE window frame
    [instant − window, instant] (value-based, both ends inclusive:
    equal-instant rows are always in each other's frame, so ties are
    deterministic in every engine), per ``group_by`` key, ordered by
    the exact native-unit instant (µs for timestamps, raw units for
    integral ts — ``native_instant``). ONE hash shuffle; the frame is
    evaluated with Spark's sliding-window machinery, linear state.

    Exactness: count/min/max are order-independent as-is; ``sum`` and
    ``avg`` follow the aggregate op's rule — integral fields sum as
    plain longs (exact), float fields route through DECIMAL(38,10)
    (order-independent within the frame; string-cast back), with avg
    = that sum / the frame count in ONE final division. Rows with a
    NULL timestamp are EXCLUDED (a value-based frame has no defined
    position for them); NULL aggregate-field values simply don't
    contribute, standard SQL.

    Global mode is deliberately unsupported (empty ``group_by``
    raises): a per-row range frame over an unpartitioned corpus is
    the banned single-partition global window; pre-aggregate to
    buckets (time_rollup / time_weighted interval mode) instead.

    config: ``ts_field`` (default ts), ``group_by`` (required,
    non-empty), ``window`` trailing horizon (seconds for timestamp
    ts, raw units for integral), ``aggregates``: list of {``field``
    (optional for count), ``function`` count|sum|avg|min|max,
    ``alias``}.
    """
    tsf = config.get("ts_field", "ts")
    by = list(config.get("group_by", []))
    if not by:
        raise ValueError(
            "rolling requires a non-empty group_by: a per-row range "
            "frame over the whole corpus is a single-partition global "
            "window — pre-aggregate with time_rollup/time_weighted "
            "interval mode instead")
    horizon = int(config["window"])
    if horizon <= 0:
        raise ValueError(f"window must be positive, got {horizon}")
    ts_type = df.schema[tsf].dataType
    ts_is_time = not isinstance(ts_type, (T.LongType, T.IntegerType,
                                          T.ShortType, T.ByteType))
    width = horizon * (1_000_000 if ts_is_time else 1)

    out = (df.filter(F.col(tsf).isNotNull())
           .withColumn("__inst", native_instant(F.col(tsf), ts_type)))
    w = (Window.partitionBy(*by).orderBy("__inst")
         .rangeBetween(-width, 0))
    for spec in config["aggregates"]:
        fn = spec["function"]
        alias = spec["alias"]
        field = spec.get("field")
        if fn == "count":
            col = (F.count(F.col(field)) if field
                   else F.count(F.lit(1))).over(w)
        elif fn in ("sum", "avg"):
            c = F.col(field)
            if isinstance(df.schema[field].dataType,
                          (T.LongType, T.IntegerType, T.ShortType,
                           T.ByteType)):
                s = F.sum(c.cast("long")).over(w)
            else:
                s = exact_sum(c, w)
            col = s if fn == "sum" else \
                s / F.count(c).over(w).cast("double")
        elif fn in ("min", "max"):
            col = getattr(F, fn)(F.col(field)).over(w)
        else:
            raise ValueError(
                f"rolling aggregate function must be "
                f"count|sum|avg|min|max, got {fn!r}")
        out = out.withColumn(alias, col)
    return out.drop("__inst")


@register("time_rollup")
def op_time_rollup(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Multi-resolution time rollup (the hypertable continuous-
    aggregate shape): aggregate the SAME event stream into several
    bucket granularities — hour + day + week dashboards, the
    coarse-to-fine layout a time-series store maintains — in ONE
    pass. The reference has no time semantics at all (its transforms
    are row-local, SURVEY.md §2.5).

    Plan shape: each row expands into one (granularity, bucket)
    struct per requested interval via a JVM-side inline explode (the
    same row multiplication a GROUPING SETS Expand node performs),
    then ONE hash shuffle on (granularity, bucket, keys) with
    map-side partial aggregation — never N scans of the corpus, and
    the per-granularity partials combine before the exchange. At
    100 TB the alternative (one aggregate per granularity, union) is
    N full scans or one scan + N-way static reuse; the explode keeps
    it a single pipelined pass whose shuffle volume equals the sum
    of the N rollup cardinalities.

    Buckets are exact long floor-to-multiple (``e - pmod(e, step)``)
    on epoch seconds; integral ts columns are used directly
    (saturation bypass — time_resample rules). ``intervals`` must be
    positive and distinct; output: ``granularity`` (the interval,
    long) + ``bucket`` (long) + ``bucket_ts`` + keys + aggregates.
    config: ``ts_field`` (default ts), ``intervals`` (list of
    seconds, required), ``group_by`` keys, ``aggregates``
    [{field, function, alias}] (default count -> n_rows; count/sum/
    min/max, float sums via the exact decimal route).
    """
    ts_field = config.get("ts_field", "ts")
    intervals = [int(x) for x in config.get("intervals", [])]
    if not intervals:
        raise ValueError("time_rollup requires non-empty intervals")
    if any(s < 1 for s in intervals):
        raise ValueError(f"intervals must be >= 1 second, got {intervals}")
    if len(set(intervals)) != len(intervals):
        raise ValueError(f"duplicate interval in {intervals}")
    keys = list(config.get("group_by", []))
    specs = config.get("aggregates") or [{"function": "count"}]
    agg_cols, _ = _resample_aggs(df, specs, "time_rollup")
    e = _epoch_col(df, ts_field)
    levels = F.array(*[
        F.struct(F.lit(s).cast("long").alias("granularity"),
                 (e - F.pmod(e, F.lit(s))).cast("long").alias("bucket"))
        for s in intervals])
    expanded = df.withColumn("__lvl", F.explode(levels))
    return (expanded
            .groupBy(F.col("__lvl.granularity").alias("granularity"),
                     F.col("__lvl.bucket").alias("bucket"), *keys)
            .agg(*agg_cols)
            .withColumn("bucket_ts", F.col("bucket").cast("timestamp")))


@register("scd2")
def op_scd2(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Type-2 slowly-changing-dimension history from an observation
    stream: per ``keys``, consecutive observations with identical
    ``attrs`` collapse into one version row with ``valid_from`` (first
    observation of the state), ``valid_to`` (next state's valid_from,
    NULL while current) and ``is_current`` — the standard dimension-
    versioning shape of a warehouse ingest.

    Change detection is NULL-safe (``IS DISTINCT FROM`` on every attr
    vs its lag). Observations at equal timestamps are ordered by
    ``tiebreak`` (required deterministic ordering when the source can
    emit same-instant updates). Shape at scale: the lag comparison and
    the lead(valid_to) run over the SAME (keys, order) window — ONE
    hash shuffle on the keys, no self-join.

    ``history`` (view/DataFrame of a previous scd2 output) switches to
    INCREMENTAL merge: only keys present in the update batch are
    rebuilt (their history rows replayed as observations at their
    valid_from + the new observations); untouched keys pass through
    byte-identical with no window work — the 100 TB property, since a
    daily batch touches a tiny fraction of keys.
    """
    keys = list(config["keys"])
    ts_field = config.get("ts_field", "ts")
    df = _drop_null_ts(df, ts_field)
    attrs = list(config.get("attrs") or
                 [c for c in df.columns
                  if c not in keys and c != ts_field])
    tiebreak = list(config.get("tiebreak", []))
    # tiebreak columns outside keys/attrs must travel with every
    # observation (and persist into the version rows) or the
    # incremental replay cannot re-order equal-ts observations the
    # same way the original build did (ADVICE r4-low: previously the
    # history projection dropped them and compress() raised an
    # unresolved-column error)
    extra = [t for t in tiebreak
             if t not in attrs and t not in keys and t != ts_field]

    def compress(obs: DataFrame) -> DataFrame:
        w = Window.partitionBy(*keys).orderBy(ts_field, *tiebreak)
        changed = F.lit(False)
        for a in attrs:
            changed = changed | (~F.col(a).eqNullSafe(F.lag(a).over(w)))
        pts = (obs.withColumn("__rn", F.row_number().over(w))
               .withColumn("__chg", changed | (F.col("__rn") == 1))
               .filter("__chg"))
        return (pts.select(
            *keys, *attrs, *extra,
            F.col(ts_field).alias("valid_from"),
            F.lead(ts_field).over(
                Window.partitionBy(*keys).orderBy("__rn"))
            .alias("valid_to"))
            .withColumn("is_current", F.col("valid_to").isNull()))

    history = config.get("history")
    if history is None:
        return compress(df)
    history = _resolve(history, views)
    missing = [t for t in extra if t not in history.columns]
    if missing:
        raise ValueError(
            f"scd2: tiebreak column(s) {missing} not present in history — "
            "history must be the output of an scd2 run with the same "
            "tiebreak config (version rows persist tiebreak columns)")
    upd_keys = df.select(*keys).dropDuplicates(keys)
    untouched = history.join(upd_keys, keys, "left_anti")
    replay = (history.join(upd_keys, keys, "left_semi")
              .select(*keys, *attrs, *extra,
                      F.col("valid_from").alias(ts_field)))
    obs = replay.unionByName(df.select(*keys, *attrs, *extra, ts_field))
    return untouched.unionByName(compress(obs))


@register("interval_merge")
def op_interval_merge(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Gaps-and-islands: coalesce overlapping (or near-adjacent)
    intervals per key into maximal merged spans. The interval
    primitive behind availability windows, user busy periods,
    validity-range compaction, and sensor-uptime rollups — absent
    from the reference (its transforms are row-local, SURVEY.md
    §2.5) and from Spark's built-in operator set.

    Start/end must be NUMERIC columns in the same unit (for
    timestamps, derive epoch seconds upstream — see
    ``epoch_seconds``): exact long arithmetic means every engine
    replays island membership bit-for-bit. An interval opens a new
    island iff its start exceeds the running MAX end of all earlier
    intervals in the key (plus ``gap``): rows sort by (start, end,
    *tiebreak) inside each key, ``MAX(end) OVER (... 1 PRECEDING)``
    finds the farthest reach of the current island, and a running
    SUM over the new-island flag numbers islands 1..n. All three
    windows and the final merge aggregate share ONE hash shuffle on
    the key columns — per-key work is a single sort, the
    scale-correct shape (the naive self-join alternative is
    quadratic per key).

    config: ``start_field`` / ``end_field`` (numeric), ``group_by``
    keys, ``gap`` (merge intervals separated by <= gap units,
    default 0 = overlap-or-touch), ``tiebreak`` extra order columns
    for determinism under (start, end) ties, ``mode``: merge
    (default — one row per island: keys + island + island_start +
    island_end + n_intervals) | annotate (input rows + the island
    id column), ``island_field`` (default "island"). An empty
    ``group_by`` needs ``allow_global: true`` (same single-partition
    WindowExec guard as the window operator). Degenerate intervals
    (end < start) merge by the same rule — the running max simply
    never advances past better ends.
    """
    start = config["start_field"]
    end = config["end_field"]
    keys = list(config.get("group_by", []))
    gap = int(config.get("gap", 0))
    mode = config.get("mode", "merge")
    if mode not in ("merge", "annotate"):
        raise ValueError(f"mode must be merge|annotate, got {mode!r}")
    island_field = config.get("island_field", "island")
    tiebreak = list(config.get("tiebreak", []))
    if not keys and not config.get("allow_global"):
        raise ValueError(
            "interval_merge with empty group_by moves ALL rows to one "
            "partition; pass allow_global: true if the input is known "
            "to be small, or add group_by keys")
    # an interval with a NULL endpoint has no extent on the line
    df = _drop_null_ts(df, start, end)
    order = [F.col(start).asc(), F.col(end).asc(),
             *(F.col(c).asc() for c in tiebreak)]
    base = (Window.partitionBy(*keys) if keys
            else Window.partitionBy(F.lit(1))).orderBy(*order)
    prev_max = (F.max(F.col(end))
                .over(base.rowsBetween(Window.unboundedPreceding, -1)))
    flag = F.when(prev_max.isNull()
                  | (F.col(start) > prev_max + F.lit(gap)), 1).otherwise(0)
    running = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    annotated = (df.withColumn("__new_island", flag)
                 .withColumn(island_field,
                             F.sum("__new_island").over(running))
                 .drop("__new_island"))
    if mode == "annotate":
        return annotated
    return (annotated.groupBy(*keys, island_field)
            .agg(F.min(start).alias("island_start"),
                 F.max(end).alias("island_end"),
                 F.count(F.lit(1)).alias("n_intervals")))


def _narrow_checked(v: F.Column, dtype, what: str) -> F.Column:
    """Narrow a long epoch-second column to an integral touch-ts type
    with a LOUD overflow guard: Spark's non-ANSI long→int cast
    silently WRAPS, so an IntegerType touch column meeting a
    conversion past 2038-01-19 would corrupt the as-of key instead of
    erroring (ADVICE r7). The guard is the VALUE expression
    (when/otherwise — a guard embedded behind binary arithmetic is
    silently skipped when the other operand is NULL, sample_pps
    precedent); NULL epochs pass through as NULL."""
    if not isinstance(dtype, (T.IntegerType, T.ShortType, T.ByteType)):
        return v.cast(dtype)
    bits = {T.IntegerType: 31, T.ShortType: 15, T.ByteType: 7}[type(dtype)]
    lo, hi = -(1 << bits), (1 << bits) - 1
    ok = v.isNull() | v.between(lo, hi)
    return F.when(ok, v).otherwise(
        F.assert_true(F.lit(False), F.concat(
            F.lit(f"{what}: epoch second "),
            F.coalesce(v.cast("string"), F.lit("NULL")),
            F.lit(f" overflows the {dtype.simpleString()} touch-ts "
                  f"column — use a BIGINT or timestamp touch column")))
        .cast("long")).cast(dtype)


@register("attribution")
def op_attribution(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Marketing-touch attribution: credit each conversion to the
    touch(es) that preceded it within a lookback window. The revenue
    question funnel/retention/event_transitions don't answer —
    which touch GETS the conversion.

    ``df`` is the TOUCH stream; ``conversions`` the conversion frame.
    Models: ``last`` / ``first`` (single-touch: the latest/earliest
    touch with ``conv_ts - lookback <= touch_ts <= conv_ts``, credit
    1.0) ride the as-of join's union+carry shape — ONE key shuffle,
    linear state, NO touch-pair materialization, the 100 TB path.
    Window-bound precision (``precision: second | exact``, accepted by
    every model — round 8 unified the config surface ADVICE r6 #2
    flagged): ``exact`` evaluates BOTH window bounds at native
    (microsecond) timestamp precision; ``second`` measures the
    lookback depth at epoch-second granularity
    (floor(conv) − floor(touch) <= lookback), the cross-engine-replay
    arithmetic the oracles pin. The default is ``second`` for EVERY
    model (round 9 — VERDICT r8 #6 closed the per-model asymmetry
    where ``first`` alone defaulted to its round-6 exact behavior;
    exact is one config key away). In ``second`` mode the single-touch
    models (``last``/``first``) keep the upper bound
    ``touch_ts <= conv_ts`` exact — only the lookback DEPTH is
    floor-granular — while ``linear`` floors both bounds (the
    range_join granularity its oracle pins).
    ``linear``'s exact mode runs the same bucketized
    range join on MICROSECOND longs (window
    [conv − lookback·1e6 µs, conv], both bounds exact); its second
    mode keeps both bounds second-granular. ``linear`` (every
    in-window touch splits the credit equally, credit = 1/n exactly
    representable or not — both engines compute the same IEEE
    division) rides the bucketized range join: pairs are bounded by
    lookback, never all-history.

    Config: ``conversions`` (view name or DataFrame), ``by`` keys
    (default [user_id]), ``conv_id`` (required — a unique conversion
    id), ``touch_id`` (required), ``touch_ts``/``conv_ts`` (default
    ts), ``lookback`` seconds (required), ``model`` (default last),
    ``precision``: second | exact (default second for every model —
    see above), ``tiebreak`` (orders
    equal-timestamp touches: last picks
    the max, first the min), ``unmatched``: drop (default) | keep
    (conversions with no in-window touch survive with NULL touch and
    credit 0.0 — the "direct" bucket). Output: conversion columns +
    ``touch_id`` + ``touch_ts`` + ``credit`` (double).
    """
    conv = _resolve(config["conversions"], views)
    by = list(config.get("by", ["user_id"]))
    conv_id = config["conv_id"]
    touch_id = config["touch_id"]
    tts = config.get("touch_ts", "ts")
    cts = config.get("conv_ts", "ts")
    lookback = int(config["lookback"])
    if lookback < 0:
        raise ValueError(f"lookback must be >= 0, got {lookback}")
    model = config.get("model", "last")
    if model not in ("last", "first", "linear"):
        raise ValueError(
            f"attribution model must be last|first|linear, got {model!r}")
    unmatched = config.get("unmatched", "drop")
    if unmatched not in ("drop", "keep"):
        raise ValueError(
            f"unmatched must be drop|keep, got {unmatched!r}")
    tiebreak = config.get("tiebreak")
    conv_cols = conv.columns

    # ONE default across models (round 9, VERDICT r8 #6): the
    # cross-engine-replay 'second' arithmetic; exact is opt-in
    precision = config.get("precision") or "second"
    if precision not in ("second", "exact"):
        raise ValueError(
            f"precision must be second|exact, got {precision!r}")

    if model == "last":
        # backward as-of: upper bound touch_ts <= conv_ts is EXACT
        # (native ordering inside the window); the lookback DEPTH is
        # second-granularity (floor(conv)-floor(touch) <= lookback),
        # matching the oracle's epoch-second tolerance. precision:
        # "exact" (ADVICE r6 #2 — unify with model='first') adds an
        # exact microsecond post-filter on the PICKED touch: the
        # second-granular window is provably a superset of the exact
        # one (t >= c-L implies floor(t) >= floor(c)-L for integer
        # L), and 'last' picks the max touch_ts — if the latest
        # in-window touch fails the exact bound, every earlier one
        # fails too, so filtering the pick is complete, not just
        # sound.
        # mixed precision: integral touches + non-integral conv_ts
        # would fail the asof's union type check — as-of on the
        # FLOORED conv epoch instead, which is exact for whole-second
        # touches (t <= c_exact <=> t <= floor(c_exact) for integer t)
        tts_type = df.schema[tts].dataType
        left_frame, left_ts = conv, cts
        if (isinstance(tts_type, (T.LongType, T.IntegerType))
                and not isinstance(conv.schema[cts].dataType,
                                   (T.LongType, T.IntegerType))):
            left_frame = conv.withColumn(
                "__cfloor", _narrow_checked(epoch_seconds(F.col(cts)),
                                            tts_type, "attribution"))
            left_ts = "__cfloor"
        out = op_asof_join(left_frame, {
            "right": df, "by": by,
            "left_ts": left_ts, "right_ts": tts,
            "values": [touch_id, tts],
            "prefix": "__at_", "direction": "backward",
            "tolerance_seconds": lookback,
            "right_tiebreak": tiebreak,
            "how": "left" if unmatched == "keep" or precision == "exact"
                   else "inner",
        }, views)
        matched = F.col(f"__at_{touch_id}").isNotNull()
        if precision == "exact":
            tts_type = df.schema[tts].dataType
            picked = F.col(f"__at_{tts}")
            t_us = (picked.cast("long") * F.lit(1_000_000)
                    if isinstance(tts_type, (T.LongType, T.IntegerType))
                    else F.unix_micros(picked.cast("timestamp")))
            c_us = F.unix_micros(F.col(cts).cast("timestamp"))
            ok = matched & (t_us >= c_us - F.lit(lookback * 1_000_000))
            if unmatched == "keep":
                out = (out.withColumn(
                    f"__at_{touch_id}",
                    F.when(ok, F.col(f"__at_{touch_id}")))
                    .withColumn(f"__at_{tts}", F.when(ok, picked)))
                matched = F.col(f"__at_{touch_id}").isNotNull()
            else:
                out = out.filter(ok)
        return out.select(
            *conv_cols,
            F.col(f"__at_{touch_id}").alias("touch_id"),
            F.col(f"__at_{tts}").alias("touch_ts"),
            F.when(matched, F.lit(1.0)).otherwise(F.lit(0.0))
             .alias("credit"))

    if model == "first":
        # first touch in [conv_ts - lookback, conv_ts], BOTH bounds at
        # native timestamp precision: the window start is the exact
        # interval subtraction (not truncated to whole seconds — a
        # second-truncated start could admit touches up to 1s before
        # the nominal window, or after the conversion within the same
        # second), and the upper bound is enforced with an exact
        # post-join comparison instead of the asof's second-granular
        # tolerance. The union inside asof needs __ts type-compatible
        # with the touch timestamp, so keep numeric ts numeric.
        tts_type = df.schema[tts].dataType
        if isinstance(tts_type, (T.LongType, T.IntegerType)):
            fs = epoch_seconds(F.col(cts))
            if precision == "exact":
                # integer-second touch domain: a whole-second touch t
                # is in [conv_exact - lookback, ...] iff t >=
                # ceil(conv_exact) - lookback. Flooring conv_exact
                # instead (epoch_seconds truncates) would admit touches
                # up to ~1s before the nominal window start whenever
                # conv_ts carries sub-second precision (ADVICE r6).
                # Exact long ceil: floor + carry.
                mc = F.unix_micros(F.col(cts).cast("timestamp"))
                start_s = fs + F.when(mc > fs * F.lit(1_000_000),
                                      F.lit(1)).otherwise(F.lit(0)) \
                    - lookback
            else:
                # second-granular depth (last's default semantics):
                # floor(t) >= floor(c) - L, and integral touches ARE
                # their own floor
                start_s = fs - lookback
            wstart = _narrow_checked(start_s, tts_type, "attribution")
        elif precision == "exact":
            wstart = (F.col(cts).cast("timestamp")
                      - F.expr(f"INTERVAL {lookback} SECOND")
                      ).cast(tts_type)
        else:
            # second-granular depth on timestamp touches: floor(t) >=
            # floor(c) - L  <=>  t >= the (whole-second) boundary
            wstart = ((epoch_seconds(F.col(cts)) - lookback)
                      .cast("timestamp").cast(tts_type))
        left = conv.withColumn("__wstart", wstart)
        out = op_asof_join(left, {
            "right": df, "by": by,
            "left_ts": "__wstart", "right_ts": tts,
            "values": [touch_id, tts],
            "prefix": "__at_", "direction": "forward",
            "right_tiebreak": tiebreak,
            "how": "left",
        }, views)
        # forward asof guarantees touch_ts >= wstart natively; the
        # exact upper bound makes a too-late first touch unmatched
        # (the earliest touch >= wstart being past conv_ts means no
        # touch is in the window at all).
        matched = (F.col(f"__at_{touch_id}").isNotNull()
                   & (F.col(f"__at_{tts}").cast("timestamp")
                      <= F.col(cts).cast("timestamp")))
        if unmatched == "drop":
            out = out.filter(matched)
        return out.select(
            *conv_cols,
            F.when(matched, F.col(f"__at_{touch_id}")).alias("touch_id"),
            F.when(matched, F.col(f"__at_{tts}")).alias("touch_ts"),
            F.when(matched, F.lit(1.0)).otherwise(F.lit(0.0))
             .alias("credit"))

    if precision == "exact":
        # exact µs window [conv − lookback·1e6, conv]: the same
        # bucketized range join, run on MICROSECOND longs (integral
        # touch columns are whole seconds by contract — same ×1e6 as
        # model='last' exact). Bucket width = the window span in µs,
        # so the explosion factor stays ≤2.
        def _us(frame: DataFrame, name: str) -> F.Column:
            dt = frame.schema[name].dataType
            c = F.col(name)
            if isinstance(dt, (T.LongType, T.IntegerType)):
                return c.cast("long") * F.lit(1_000_000)
            return F.unix_micros(c.cast("timestamp"))
        c_us = _us(conv, cts)
        windows = conv.select(
            *conv_cols, c_us.alias("__c_us"),
            (c_us - F.lit(lookback * 1_000_000)).alias("__w_us"))
        pairs = op_range_join(df.withColumn("__t_us", _us(df, tts)), {
            "right": windows, "by": by, "left_ts": "__t_us",
            "start_field": "__w_us", "end_field": "__c_us",
            "bucket_seconds": max(lookback, 1) * 1_000_000,
            "prefix": "c_", "end_inclusive": True,
        }, views)
    else:
        windows = conv.select(
            *conv_cols,
            (epoch_seconds(F.col(cts)) - lookback).cast("timestamp")
            .alias("__wstart"))
        pairs = op_range_join(df, {
            "right": windows, "by": by, "left_ts": tts,
            "start_field": "__wstart", "end_field": cts,
            "bucket_seconds": max(lookback, 1), "prefix": "c_",
            "end_inclusive": True,
        }, views)
    n = Window.partitionBy(F.col(f"c_{conv_id}"))
    attributed = pairs.select(
        *[F.col(f"c_{c}").alias(c) for c in conv_cols],
        F.col(touch_id).alias("touch_id"),
        F.col(tts).alias("touch_ts"),
        (F.lit(1.0) / F.count(F.lit(1)).over(n)).alias("credit"))
    if unmatched == "drop":
        return attributed
    leftovers = (conv.join(attributed.select(conv_id).distinct(),
                           conv_id, "left_anti")
                 .select(*conv_cols,
                         F.lit(None).cast(
                             dict(attributed.dtypes)["touch_id"])
                         .alias("touch_id"),
                         F.lit(None).cast(
                             dict(attributed.dtypes)["touch_ts"])
                         .alias("touch_ts"),
                         F.lit(0.0).alias("credit")))
    return attributed.unionByName(leftovers)


@register("sequence_assemble")
def op_sequence_assemble(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Per-key ordered sequence assembly: one row per key holding the
    key's ``token_field`` values concatenated in event-time order —
    the behavioral-sequence prep step (user journeys as training
    documents, session paths for path mining, action logs for
    next-event models). The inverse shape of chunk/split: many rows
    become one ordered artifact.

    ONE hash shuffle: collect_list(struct(order cols, token)) with
    map-side partial aggregation, array_sort on the struct (order
    cols lead, so the sort IS the event order), optional head
    truncation, transform to tokens, concat_ws. (ts, *tiebreak) must
    totally order each key's events or the struct sort falls back to
    comparing the token itself — deterministic but surprising;
    pass a unique tiebreak. ``max_len`` keeps the EARLIEST that-many
    events per key, bounding row width when a bot key has millions
    of events (the full count is still reported in n_events).

    config: ``key`` (list), ``ts_field`` (default ts),
    ``token_field`` (default event_type), ``tiebreak`` extra order
    columns, ``sep`` (default " "), ``max_len`` (optional).
    Output: key cols + ``sequence`` (string) + ``n_events`` (long).
    """
    keys = list(config.get("key", ["user_id"]))
    ts_field = config.get("ts_field", "ts")
    token_field = config.get("token_field", "event_type")
    tiebreak = list(config.get("tiebreak", []))
    sep = config.get("sep", " ")
    max_len = config.get("max_len")
    if max_len is not None and int(max_len) < 1:
        raise ValueError(f"max_len must be >= 1, got {max_len}")
    df = _drop_null_ts(df, ts_field)
    order_cols = [F.col(ts_field), *(F.col(c) for c in tiebreak)]
    packed = F.struct(*[c.alias(f"__o{i}") for i, c in enumerate(order_cols)],
                      F.col(token_field).cast("string").alias("__tok"))
    agg = df.groupBy(*keys).agg(
        F.array_sort(F.collect_list(packed)).alias("__seq"),
        F.count(F.lit(1)).alias("n_events"))
    arr = F.col("__seq")
    if max_len is not None:
        arr = F.slice(arr, 1, int(max_len))
    tokens = F.transform(arr, lambda x: x["__tok"])
    return (agg.withColumn("sequence", F.concat_ws(sep, tokens))
            .drop("__seq"))
