"""Windowed feature-engineering operators (north_rule W6-W8).

All built from built-in Spark window functions — single shuffle on the
partition key, whole-stage codegen, no Python. Generalizes the
reference's per-segment temporal axis (segpos/timepos,
rp_extract.py:797-800) to arbitrary entity timelines.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _win(entity: str, ts: str, tiebreak: Sequence[str] = ()):
    # plain names order ascending, exactly like ``F.col(c).asc()``, for
    # a fraction of the driver<->JVM round trips
    return Window.partitionBy(entity).orderBy(ts, *tiebreak)


def forward_fill(
    df: DataFrame,
    cols: Sequence[str],
    entity: str = "entity_id",
    ts: str = "ts",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Fill nulls from the most recent prior non-null value per entity
    (backfill analog of the reference's carry-forward semantics)."""
    w = _win(entity, ts, tiebreak).rowsBetween(Window.unboundedPreceding, 0)
    for c in cols:
        df = df.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return df


def backward_fill(
    df: DataFrame,
    cols: Sequence[str],
    entity: str = "entity_id",
    ts: str = "ts",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Fill nulls from the next following non-null value per entity."""
    w = _win(entity, ts, tiebreak).rowsBetween(0, Window.unboundedFollowing)
    for c in cols:
        df = df.withColumn(c, F.first(c, ignorenulls=True).over(w))
    return df


def lag_lead_stack(
    df: DataFrame,
    col: str,
    lags: Sequence[int] = (1, 2, 3),
    leads: Sequence[int] = (),
    entity: str = "entity_id",
    ts: str = "ts",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Per-entity shifted copies of a feature column (north_rule W7).
    One shuffle for the whole stack — all shifts share the window."""
    w = _win(entity, ts, tiebreak)
    return df.withColumns({
        **{f"{col}_lag{k}": F.lag(col, k).over(w) for k in lags},
        **{f"{col}_lead{k}": F.lead(col, k).over(w) for k in leads},
    })


def sessionize(
    df: DataFrame,
    gap_seconds: int = 1800,
    entity: str = "entity_id",
    ts: str = "ts",
    tiebreak: Sequence[str] = (),
    out: str = "session_id",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap to
    the previous event exceeds ``gap_seconds``. session_id = running
    sum of boundary flags (0-based within entity) — the canonical
    cumsum sessionize (north_rule W8)."""
    w = _win(entity, ts, tiebreak)
    # cast via timestamp: parquet TIMESTAMP_NTZ won't cast to long directly
    epoch = F.col(ts).cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    flag = F.when(gap > gap_seconds, 1).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out, F.sum(flag).over(run))


def rolling_stats(
    df: DataFrame,
    col: str,
    n: int = 5,
    entity: str = "entity_id",
    ts: str = "ts",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Trailing n-row mean/min/max per entity (feature-stack helper)."""
    w = _win(entity, ts, tiebreak).rowsBetween(-(n - 1), 0)
    return (
        df.withColumn(f"{col}_rmean{n}", F.avg(col).over(w))
        .withColumn(f"{col}_rmin{n}", F.min(col).over(w))
        .withColumn(f"{col}_rmax{n}", F.max(col).over(w))
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_seconds: int = 604_800,
    grain: int = 1_000_000,
) -> DataFrame:
    """Cohort retention matrix — the activation/retention report a
    product or data-freshness dashboard runs over an event stream:
    cohort = the user's FIRST activity period (epoch-seconds div
    period, engine-identical integer arithmetic — never calendar
    weekofyear, whose ISO rules differ across engines), offset =
    periods since the cohort, and per (cohort, offset) the distinct
    returning users plus ``retention_u = n_users·grain div
    cohort_size`` (one deferred floor division).

    Scale shape: one distinct on the narrow (user, period) pair (the
    only corpus-sized shuffle), a per-user min (map-side combined),
    one broadcast of the cohort-size table (cohorts are calendar-
    bounded, never corpus-sized). Returns (cohort, offset, n_users,
    cohort_size, retention_u)."""
    if period_seconds < 1:
        raise ValueError("period_seconds must be >= 1")
    # period index by integer epoch div (NTZ needs the double cast —
    # the documented TIMESTAMP_NTZ trap)
    t = events.filter(
        F.col(ts_col).isNotNull() & F.col(user_col).isNotNull()
    ).select(
        F.col(user_col).alias("__u"),
        F.expr(
            f"CAST(CAST({ts_col} AS TIMESTAMP) AS BIGINT)"
            f" div {int(period_seconds)}"
        ).alias("__w"),
    )
    active = t.distinct()
    cohorts = active.groupBy("__u").agg(F.min("__w").alias("__c"))
    sizes = cohorts.groupBy("__c").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    j = active.join(cohorts, "__u").select(
        F.col("__c").alias("cohort"),
        (F.col("__w") - F.col("__c")).alias("offset"),
        "__u",
    )
    agg = j.groupBy("cohort", "offset").agg(
        F.count_distinct("__u").alias("n_users")
    )
    g = int(grain)
    return agg.join(
        F.broadcast(sizes.withColumnRenamed("__c", "cohort")), "cohort"
    ).select(
        F.col("cohort").cast("long").alias("cohort"),
        F.col("offset").cast("long").alias("offset"),
        "n_users",
        F.col("cohort_size").cast("long").alias("cohort_size"),
        F.expr(
            f"(n_users * CAST({g} AS BIGINT)) div cohort_size"
        ).alias("retention_u"),
    )


def rate_limit_plan(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    window_seconds: int = 60,
    quota: int = 5,
) -> DataFrame:
    """Deterministic rate-limit audit/plan over an event log: within
    each (user, fixed time window) the first ``quota`` events by
    (ts, tiebreak) are ``allowed``, the rest ``denied`` — the batch
    replay of a token-bucket gate (what WOULD the limiter have done),
    used to size quotas before deploying one and to backfill abuse
    labels. Window index = integer epoch div (the cohort_retention
    rule — never calendar functions).

    Scale shape: one row_number per (user, window) — groups are
    time-bounded (one user-window), so a hot user spreads across
    windows; a single pathological user-window is the caller's salt
    case. Returns the input plus (win, rank_in_window, allowed)."""
    if window_seconds < 1 or quota < 0:
        raise ValueError("bad window/quota")
    win = F.expr(
        f"CAST(CAST({ts_col} AS TIMESTAMP) AS BIGINT)"
        f" div {int(window_seconds)}"
    )
    w = Window.partitionBy(F.col(user_col), win).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    return (
        events.withColumn("win", win.cast("long"))
        .withColumn("rank_in_window", F.row_number().over(w))
        .withColumn(
            "allowed",
            (F.col("rank_in_window") <= int(quota)).cast("int"),
        )
    )


def shard_shuffle_audit(
    df: DataFrame,
    shard_col: str,
    order_col: str,
    label_col: str,
) -> DataFrame:
    """Shuffle-quality audit per shard: the longest same-label run and
    the run count in each shard's serving order — a shuffle plan that
    leaves long single-source runs trains on correlated batches (the
    reason loaders shuffle at all), and this is the measurement that
    catches it before an epoch burns. Runs are detected with the
    classic lag + change-flag cumulative sum; every window is
    partitioned by shard (shards are capacity-bounded by
    construction — never a global order). Returns one row per shard:
    (shard, n_rows, n_runs, max_run)."""
    w = Window.partitionBy("shard").orderBy(F.col("__o").asc())
    prev = F.lag("__l").over(w)
    flagged = df.select(
        F.col(shard_col).alias("shard"),
        F.col(order_col).alias("__o"),
        F.col(label_col).alias("__l"),
    ).withColumn(
        "__chg",
        F.when(prev.isNull() | (prev != F.col("__l")), 1).otherwise(0),
    )
    wrun = Window.partitionBy("shard").orderBy(F.col("__o").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    runs = flagged.withColumn("__run", F.sum("__chg").over(wrun))
    per_run = runs.groupBy("shard", "__run").agg(
        F.count(F.lit(1)).alias("__len")
    )
    return per_run.groupBy("shard").agg(
        F.sum("__len").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.max("__len").cast("long").alias("max_run"),
    )


def gap_fill(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    step_s: int = 43200,
    grain: int = 100,
) -> DataFrame:
    """Regularize an irregular per-entity time series onto a fixed
    ``step_s``-second grid with linear interpolation — the resample
    stage a feature pipeline runs before any fixed-length model input
    (the reference's fixed segment grid over a waveform,
    rp_extract.py:797-800, generalized to entity timelines).

    Exactness contract: observations land on integer epoch seconds and
    micro-integer values (floor(v*grain + 1/2), half-up — identical in
    Spark and SQL); duplicate seconds pre-aggregate to max; the
    interpolated value is

        v = pv + sign(nv-pv) * ((|nv-pv| * (g-pt)) div (nt-pt))

    — the sign-split division rule, so a negative delta never meets
    integer division (Spark div truncates toward zero, SQL // floors;
    they agree only on non-negative numerators). Grid points covering
    an exact observation return it unchanged.

    Scale path (plan-audited, PLANS.md): three exchanges total — the
    per-second pre-aggregation, the per-entity bounds aggregation
    (tiny), and the union's entity clustering, which BOTH window
    passes then share (prev and next scans are in-partition re-sorts
    on the same exchange). The union carries (entity, second,
    micro-value) triples only; the grid explodes from per-entity
    (min, max) bounds — no driver loop, no cross join.
    """
    step = int(step_s)
    if step <= 0:
        raise ValueError(f"step_s must be positive, got {step_s}")
    te = F.col(ts_col).cast("timestamp").cast("long")
    vu = F.floor(F.col(value_col) * grain + F.lit(0.5)).cast("long")
    obs = (
        df.select(
            F.col(entity_col).alias("__e"), te.alias("__t"), vu.alias("__v")
        )
        .filter(F.col("__t").isNotNull() & F.col("__v").isNotNull())
        .groupBy("__e", "__t")
        .agg(F.max("__v").alias("__v"))
    )
    bounds = obs.groupBy("__e").agg(
        F.min("__t").alias("__mn"), F.max("__t").alias("__mx")
    )
    grid = bounds.select(
        "__e",
        F.explode(
            F.sequence(F.col("__mn"), F.col("__mx"), F.lit(step))
        ).alias("__t"),
    )
    gl = grid.select(
        "__e",
        "__t",
        F.lit(None).cast("long").alias("__v"),
        F.lit(1).alias("__side"),
    )
    ol = obs.select("__e", "__t", "__v", F.lit(0).alias("__side"))
    u = gl.unionByName(ol)
    # prev: obs (side 0) sorts BEFORE a grid row at the same second,
    # so an exact hit is picked up by the backward scan
    wp = (
        Window.partitionBy("__e")
        .orderBy(F.col("__t").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # next: side DESC puts the grid row first at equal seconds, so the
    # forward scan (current..following) still sees the exact-hit obs
    wn = (
        Window.partitionBy("__e")
        .orderBy(F.col("__t").asc(), F.col("__side").desc())
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_t = F.when(F.col("__side") == 0, F.col("__t"))
    marked = (
        u.withColumn("__pv", F.last("__v", ignorenulls=True).over(wp))
        .withColumn("__pt", F.last(obs_t, ignorenulls=True).over(wp))
        .withColumn("__nv", F.first("__v", ignorenulls=True).over(wn))
        .withColumn("__nt", F.first(obs_t, ignorenulls=True).over(wn))
    )
    g = marked.filter(F.col("__side") == 1)
    dv = F.col("__nv") - F.col("__pv")
    g = g.withColumn("__num", F.abs(dv) * (F.col("__t") - F.col("__pt")))
    g = g.withColumn("__den", F.col("__nt") - F.col("__pt"))
    interp = F.when(F.col("__den") == 0, F.col("__pv")).otherwise(
        F.col("__pv")
        + F.signum(dv).cast("long") * F.expr("__num div __den")
    )
    return g.select(
        F.col("__e").alias(entity_col),
        F.col("__t").alias("grid_ts"),
        interp.alias("value_u"),
        F.col("__pt").alias("prev_ts"),
        F.col("__nt").alias("next_ts"),
    )


def attribute_conversions(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    conversion_type: str = "purchase",
    touch_types: Sequence[str] = ("click", "view"),
    window_s: int = 86400,
) -> DataFrame:
    """First-touch / last-touch attribution: for every conversion
    event, the earliest and latest touch event within the preceding
    ``window_s`` seconds (inclusive of the conversion second) — the
    label-construction step behind conversion-prediction training
    sets. Both models, plus the in-window touch count, come from ONE
    range-frame window over the union of touches and conversions:
    min/max(struct(epoch, id)) with a RANGE BETWEEN window_s PRECEDING
    AND CURRENT ROW frame on the integer epoch-second axis, so ties at
    the same second resolve by id deterministically.

    Scale path: one hash exchange on the entity key, one in-partition
    range frame; only (entity, second, id) triples enter the window.
    Conversions with no in-window touch keep NULL touch columns."""
    te = F.col(ts_col).cast("timestamp").cast("long")
    types = list(touch_types)
    base = df.select(
        F.col(entity_col).alias("__e"),
        te.alias("__t"),
        F.col(id_col).alias("__id"),
        F.col(type_col).alias("__ty"),
    ).filter(F.col("__ty").isin(types + [conversion_type]))
    is_touch = F.col("__ty").isin(types)
    touch_struct = F.when(
        is_touch, F.struct(F.col("__t").alias("t"), F.col("__id").alias("i"))
    )
    w = (
        Window.partitionBy("__e")
        .orderBy(F.col("__t").asc())
        .rangeBetween(-int(window_s), 0)
    )
    marked = base.select(
        "__e",
        "__t",
        "__id",
        "__ty",
        F.min(touch_struct).over(w).alias("__first"),
        F.max(touch_struct).over(w).alias("__last"),
        F.count(touch_struct).over(w).alias("n_touches"),
    )
    conv = marked.filter(F.col("__ty") == conversion_type)
    return conv.select(
        F.col("__e").alias(entity_col),
        F.col("__id").alias("conv_id"),
        F.col("__t").alias("conv_ts"),
        F.col("n_touches").cast("bigint").alias("n_touches"),
        F.col("__first.i").alias("first_touch_id"),
        F.col("__first.t").alias("first_touch_ts"),
        F.col("__last.i").alias("last_touch_id"),
        F.col("__last.t").alias("last_touch_ts"),
    )


def session_stats(
    df: DataFrame,
    gap_seconds: int = 1800,
    entity: str = "user_id",
    ts: str = "ts",
    tiebreak: Sequence[str] = ("event_id",),
    type_col: str = "event_type",
    conversion_type: str = "purchase",
) -> DataFrame:
    """Per-session aggregates over gap-based sessions — the engagement
    feature block (duration, depth, bounce, conversion) a behavioral
    training set derives per user session. Built on :func:`sessionize`
    (the canonical cumsum session ids), then ONE groupBy on
    (entity, session_id): the same hash exchange serves the window and
    the aggregation, so event rows cross the network once.

    Returns (entity, session_id, start_ts, end_ts, duration_s,
    n_events, n_types, bounce, converted) — all exact integers."""
    s = sessionize(
        df, gap_seconds=gap_seconds, entity=entity, ts=ts, tiebreak=tiebreak
    )
    epoch = F.col(ts).cast("timestamp").cast("long")
    return (
        s.select(
            entity,
            "session_id",
            epoch.alias("__t"),
            F.col(type_col).alias("__ty"),
        )
        .groupBy(entity, "session_id")
        .agg(
            F.min("__t").alias("start_ts"),
            F.max("__t").alias("end_ts"),
            (F.max("__t") - F.min("__t")).alias("duration_s"),
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("__ty").alias("n_types"),
            (F.count(F.lit(1)) == 1).cast("int").alias("bounce"),
            F.max(
                F.when(F.col("__ty") == conversion_type, 1).otherwise(0)
            ).alias("converted"),
        )
    )


def cusum_changepoints(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    bucket_s: int = 86400,
    threshold_num: int = 3,
    threshold_den: int = 1,
    grain: int = 1_000_000,
) -> DataFrame:
    """Per-group CUSUM drift detection over time-bucket counts — the
    volume-changepoint monitor an ingest pipeline runs (a source that
    doubles or halves overnight is an incident, not noise). Exact
    integer path via the CUSUM closed form: the recursion
    s_t = max(0, s_{t-1} + d_t) equals

        s_t = P_t - min(P_0..P_t)        (P = prefix sum of d)

    so two window passes (cumsum + running min) compute it with no
    per-row recursion. d_t = x_t*grain - mean_u where mean_u =
    total*grain div n_buckets (the group's own mean — deviations sum
    to ~zero under no drift). A bucket flags when s_t exceeds
    threshold * mean_u (the num/den rational, cross-multiplied — no
    float). Returns (group, bucket, x, d, s, flagged). One hash
    exchange on the group key serves both windows."""
    te = F.col(ts_col).cast("timestamp").cast("long")
    counts = (
        df.select(F.col(group_col).alias("__g"), te.alias("__t"))
        .filter(F.col("__t").isNotNull())
        .groupBy("__g", F.expr(f"__t div {int(bucket_s)}").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    stats = counts.groupBy("__g").agg(
        F.sum("x").alias("__tot"), F.count(F.lit(1)).alias("__nb")
    )
    j = counts.join(F.broadcast(stats), "__g").withColumn(
        "__mean_u", F.expr(f"__tot * {int(grain)} div __nb")
    )
    d = (F.col("x") * F.lit(int(grain)) - F.col("__mean_u")).alias("d")
    j = j.withColumn("d", d)
    wc = (
        Window.partitionBy("__g")
        .orderBy(F.col("bucket").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    j = j.withColumn("__p", F.sum("d").over(wc))
    j = j.withColumn("__pmin", F.min(F.least(F.col("__p"), F.lit(0))).over(wc))
    s = F.col("__p") - F.col("__pmin")
    flagged = (
        s * F.lit(int(threshold_den)) >
        F.lit(int(threshold_num)) * F.col("__mean_u")
    ).cast("int")
    return j.select(
        F.col("__g").alias(group_col),
        "bucket",
        "x",
        "d",
        s.alias("s"),
        flagged.alias("flagged"),
    )


def series_correlation(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    bucket_s: int = 86400,
) -> DataFrame:
    """Pearson correlation between every PAIR of per-group time-bucket
    count series — the co-movement matrix (do error spikes follow
    deploy events? does a source's volume track another's?). The
    moment sums are exact integers over the COMMON bucket grid (a
    bucket missing for a group counts 0 — the series are aligned, not
    inner-joined); the final correlation is one fixed-order double
    expression over those exact integers, so both engines compute the
    IEEE-identical value (the corpus_pixel_stats rule), rounded at
    1e-6. Returns one row per unordered pair (g_a < g_b):
    (g_a, g_b, n_buckets, sum_a, sum_b, dot, corr)."""
    te = F.col(ts_col).cast("timestamp").cast("long")
    counts = (
        df.select(F.col(group_col).alias("__g"), te.alias("__t"))
        .filter(F.col("__t").isNotNull())
        .groupBy("__g", F.expr(f"__t div {int(bucket_s)}").alias("__b"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    # align every group onto the common bucket grid with zeros
    buckets = counts.select("__b").distinct()
    groups = counts.select("__g").distinct()
    grid = buckets.crossJoin(F.broadcast(groups))
    aligned = grid.join(counts, ["__g", "__b"], "left").select(
        "__g", "__b", F.coalesce("x", F.lit(0)).alias("x")
    )
    a = aligned.select(
        F.col("__g").alias("g_a"), "__b", F.col("x").alias("xa")
    )
    b = aligned.select(
        F.col("__g").alias("g_b"), "__b", F.col("x").alias("xb")
    )
    pairs = a.join(b, "__b").filter(F.col("g_a") < F.col("g_b"))
    agg = pairs.groupBy("g_a", "g_b").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("xa").alias("sum_a"),
        F.sum("xb").alias("sum_b"),
        F.sum(F.col("xa") * F.col("xb")).alias("dot"),
        F.sum(F.col("xa") * F.col("xa")).alias("__sqa"),
        F.sum(F.col("xb") * F.col("xb")).alias("__sqb"),
    )
    # one fixed expression order over exact integers -> IEEE-identical.
    # try_divide: a zero-variance series has denominator 0 and ANSI
    # mode THROWS on plain division — NULL is the correct verdict
    # (correlation with a constant is undefined)
    corr = F.round(
        F.try_divide(
            (
                F.col("n_buckets") * F.col("dot")
                - F.col("sum_a") * F.col("sum_b")
            ).cast("double"),
            F.sqrt(
                (
                    F.col("n_buckets") * F.col("__sqa")
                    - F.col("sum_a") * F.col("sum_a")
                ).cast("double")
                * (
                    F.col("n_buckets") * F.col("__sqb")
                    - F.col("sum_b") * F.col("sum_b")
                ).cast("double")
            ),
        ),
        6,
    )
    return agg.select(
        "g_a", "g_b", "n_buckets", "sum_a", "sum_b", "dot",
        corr.alias("corr"),
    )


def missing_buckets(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    bucket_s: int = 86400,
) -> DataFrame:
    """Per-entity gap detection on the time-bucket grid — the backfill
    planner's input (an entity whose daily partitions skip three days
    needs a reprocess, not silence). The expected grid spans each
    entity's own [min, max] bucket; present buckets subtract via a
    left anti join. Returns one row per MISSING (entity, bucket) —
    grid explosion from per-entity bounds, no driver loop."""
    te = F.col(ts_col).cast("timestamp").cast("long")
    present = (
        df.select(F.col(entity_col).alias("__e"), te.alias("__t"))
        .filter(F.col("__t").isNotNull())
        .select("__e", F.expr(f"__t div {int(bucket_s)}").alias("__b"))
        .distinct()
    )
    bounds = present.groupBy("__e").agg(
        F.min("__b").alias("__mn"), F.max("__b").alias("__mx")
    )
    grid = bounds.select(
        "__e",
        F.explode(F.sequence("__mn", "__mx")).alias("__b"),
    )
    missing = grid.join(present, ["__e", "__b"], "left_anti")
    return missing.select(
        F.col("__e").alias(entity_col), F.col("__b").alias("bucket")
    )
