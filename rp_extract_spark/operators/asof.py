"""As-of (point-in-time) join engine.

Spark SQL has no ASOF JOIN; this is the engine's core custom operator
(mandated by BASELINE.json north_rule; the reference's closest analog
is its per-segment ``timepos`` keying, rp_extract.py:797-800).

Semantics: for each left row ``(entity, ts)`` attach the right row with
the greatest ``right_ts <= ts`` (backward direction, inclusive).
Duplicate right rows at the winning timestamp resolve deterministically
to the greatest value struct. Strictly-later right rows must never leak
(zero temporal leakage).

Two physical strategies:

* ``asof_join`` (default, scale path): union both sides tagged with a
  side marker, one shuffle+sort per entity, then
  ``last(value_struct, ignorenulls=True)`` over an unbounded-preceding
  window. Entirely JVM-side (whole-stage codegen window exec), one
  exchange, no Python. Right rows sort before left rows at equal
  timestamps, which yields the inclusive ``<=`` rule. This is the plan
  that survives 100x scale-up: cost = one repartition by entity + one
  in-partition sort, identical to what a built-in ASOF join would do.

* ``asof_join_merge`` (alternative): ``cogroup().applyInPandas`` with
  ``pd.merge_asof`` per entity group — kept for cross-checking and for
  tolerance semantics Spark windows can't express cheaply.

Skew: ``salt`` > 1 splits each hot entity's *left* rows across k salt
buckets and replicates the (small) right side to every bucket —
standard salted-broadcast-style mitigation for hot phash/entity keys;
combine with AQE skew-join for the residual.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _orderable_type(dt) -> bool:
    """Whether Spark can ORDER BY this type (maps cannot)."""
    from pyspark.sql import types as T

    if dt is None:
        return False
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable_type(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable_type(f.dataType) for f in dt.fields)
    return True


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str] = "entity_id",
    left_ts: str = "ts",
    right_ts: str = "caption_ts",
    values: Sequence[str] | None = None,
    how: str = "left",
    salt: int = 1,
    suffix: str = "",
    direction: str = "backward",
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """Inclusive as-of join; last-wins on right-ts ties.

    ``direction='backward'`` (default) attaches the greatest
    ``right_ts <= ts``; ``'forward'`` the smallest ``right_ts >= ts``.
    ``tolerance_seconds`` nulls out matches farther than the tolerance
    from ``ts`` (pd.merge_asof tolerance semantics).

    Returns ``left`` plus one column per entry of ``values`` (renamed
    with ``suffix`` if given) and ``matched_ts{suffix}`` carrying the
    matched right timestamp (null when unmatched; rows dropped instead
    when ``how='inner'``).
    """
    if how not in ("left", "inner"):
        raise ValueError("how must be 'left' or 'inner'")
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    keys = [on] if isinstance(on, str) else list(on)
    # one schema round trip per side: every DataFrame call below is a
    # driver<->JVM call, and each withColumn/select an analysis pass
    left_cols = left.columns
    right_types = {f.name: f.dataType for f in right.schema.fields}
    if values is None:
        values = [c for c in right_types if c not in keys and c != right_ts]
    values = list(values)

    # left rows carry no __rv; unionByName(allowMissingColumns) null-fills
    # it with the struct type inferred from the right side
    l_new = {"__side": F.lit(1), "__ets": F.col(left_ts)}
    r_cols = [*keys]
    if salt > 1:
        # left rows get a deterministic bucket; right rows are
        # replicated into every bucket so each bucket sees the full
        # right timeline for its entity
        l_new = {"__salt": F.pmod(F.xxhash64(*left_cols), F.lit(salt)), **l_new}
        r_cols.append(F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("__salt"))
        keys = keys + ["__salt"]
    l_side = left.withColumns(l_new)
    r_side = right.select(
        *r_cols,
        F.col(right_ts).alias("__ets"),
        F.lit(0).alias("__side"),
        F.struct(*values, F.col(right_ts).alias("__rts")).alias("__rv"),
    )

    u = l_side.unionByName(r_side, allowMissingColumns=True)

    # third sort key: with duplicate (key, right_ts) right rows the
    # (ts, side) order alone leaves the winner partition-order-dependent;
    # ordering the tied right rows by their (orderable) value fields
    # makes "last wins" deterministic = greatest value struct. Left rows
    # (__rv null) are unaffected: ties between left rows see the same
    # frame prefix. Non-orderable value types (maps) are excluded from
    # the key — a pure-map value schema falls back to (ts, side) order
    # (the round-1 behavior) rather than failing analysis.
    orderable = [c for c in values if _orderable_type(right_types.get(c))]
    tiebreak = (
        [F.struct(*[f"__rv.{c}" for c in orderable], "__rv.__rts")]
        if orderable else []
    )
    if direction == "backward":
        # right rows (side 0) sort before left at equal ts → inclusive <=;
        # last value seen walking forward = greatest right_ts <= ts
        w = (
            Window.partitionBy(*keys)
            .orderBy("__ets", "__side", *[t.asc_nulls_last() for t in tiebreak])
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        picked = F.last("__rv", ignorenulls=True).over(w)
    else:
        # left rows sort before right at equal ts so the equal-ts right
        # row stays inside the [current, following] frame → inclusive >=
        w = (
            Window.partitionBy(*keys)
            .orderBy("__ets", F.col("__side").desc(),
                     *[t.desc_nulls_first() for t in tiebreak])
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        picked = F.first("__rv", ignorenulls=True).over(w)

    joined = u.withColumn("__rv", picked).filter(F.col("__side") == 1)
    rv = F.col("__rv")
    if tolerance_seconds is not None:
        gap = F.abs(
            F.col(left_ts).cast("timestamp").cast("long")
            - F.col("__rv.__rts").cast("timestamp").cast("long")
        )
        rv = F.when(gap <= tolerance_seconds, rv)
    if how == "inner":
        joined = joined.filter(rv.isNotNull())

    out_vals = [rv[c].alias(f"{c}{suffix}") for c in values] + [
        rv["__rts"].alias(f"matched_ts{suffix}")
    ]
    return joined.select(*left_cols, *out_vals)


def asof_join_merge(
    left: DataFrame,
    right: DataFrame,
    on: str = "entity_id",
    left_ts: str = "ts",
    right_ts: str = "caption_ts",
    values: Sequence[str] | None = None,
) -> DataFrame:
    """pd.merge_asof-based variant via cogroup (per-entity groups).

    Used to cross-check the window implementation and as the extension
    point for tolerance/nearest semantics. One shuffle per side.
    """
    import pandas as pd
    from pyspark.sql import types as T

    if values is None:
        values = [c for c in right.columns if c not in (on, right_ts)]
    values = list(values)

    # project the right side through fresh aliases: when both sides
    # share lineage (self-cogroup) or a column name, Spark's attribute
    # resolution can mangle the right frame's columns inside the UDF
    from pyspark.sql import functions as _F

    right = right.select(
        _F.col(on).alias(on),
        _F.col(right_ts).alias("__rts_in"),
        *[_F.col(c).alias(c) for c in values],
    )
    right_ts = "__rts_in"

    left_schema = left.schema
    out_schema = T.StructType(
        list(left_schema.fields)
        # right-side values are null for unmatched left rows
        + [T.StructField(c, right.schema[c].dataType, True) for c in values]
        + [T.StructField("matched_ts", right.schema[right_ts].dataType, True)]
    )
    val_idx = values

    def merge(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if len(l) == 0:
            return pd.DataFrame(columns=[f.name for f in out_schema.fields])
        if len(r) == 0:
            # keys present only on the left arrive with a column-less
            # empty right frame; rebuild it with the expected shape
            r = pd.DataFrame({on: pd.Series(dtype=l[on].dtype),
                              right_ts: pd.Series(dtype="datetime64[ns]"),
                              **{c: pd.Series(dtype="object") for c in val_idx}})
        l = l.sort_values(left_ts, kind="mergesort")
        # duplicate (key, right_ts) rows: sort by the value columns too
        # so keep="last" deterministically elects the greatest values
        # (matches the window variant's value-struct tiebreak).
        # na_position="first" mirrors Spark struct ordering, where null
        # fields rank LOWEST — a tied (ts, NULL) row must lose to any
        # non-null value on both strategies. Falls back to ts-only
        # order for unsortable value dtypes (arrays).
        try:
            r = r.sort_values([right_ts, *val_idx], kind="mergesort",
                              na_position="first")
        except (TypeError, ValueError):
            r = r.sort_values([right_ts], kind="mergesort")
        r = (
            r.drop_duplicates([on, right_ts], keep="last")
            .rename(columns={right_ts: "matched_ts"})
        )
        m = pd.merge_asof(
            l,
            r[[on, "matched_ts", *val_idx]],
            left_on=left_ts,
            right_on="matched_ts",
            by=on,
            direction="backward",
            allow_exact_matches=True,
        )
        return m[[f.name for f in out_schema.fields]]

    return (
        left.groupBy(on)
        .cogroup(right.groupBy(on))
        .applyInPandas(merge, out_schema)
    )


def interval_join(
    left: DataFrame,
    intervals: DataFrame,
    on: Sequence[str] = (),
    left_ts: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    bin_seconds: int | None = None,
) -> DataFrame:
    """Range (interval) join: every left row whose timestamp falls
    inside a right-side ``[start, end]`` interval with matching keys —
    the "events within the incident window", "frames inside the shot
    boundary" query. Spark plans a naive ``l.ts BETWEEN r.start AND
    r.end`` join as a broadcast-nested-loop (a corpus x intervals scan
    at 100 TB); this operator makes it an EQUI join Catalyst can hash:
    each interval explodes into the fixed-width time bins it covers,
    each left row computes its single bin, the join key becomes
    ``(on..., bin)``, and one exact BETWEEN filter finishes. A left
    row's bin is unique, so each qualifying (row, interval) pair joins
    exactly once — no dedup stage.

    ``bin_seconds=None`` sizes bins from the data: one tiny aggregate
    takes the longest interval so the explode factor is <= 2 rows per
    interval. Pass it explicitly when intervals are known-short or the
    agg pass must be avoided. DuckDB oracle: the literal BETWEEN join.
    Reference analog: none (the reference's loop has no temporal
    algebra); this rounds out the asof/window family the north rule
    centers on."""
    ssec = F.col(start_col).cast("timestamp").cast("long")
    esec = F.col(end_col).cast("timestamp").cast("long")
    lsec = F.col(left_ts).cast("timestamp").cast("long")
    ivals = intervals.filter(F.col(end_col) >= F.col(start_col))
    if bin_seconds is None:
        row = ivals.agg(F.max(esec - ssec).alias("m")).first()
        bin_seconds = max(1, int(row["m"]) + 1 if row["m"] is not None else 1)
    if bin_seconds < 1:
        raise ValueError("bin_seconds must be >= 1")
    exploded = ivals.withColumn(
        "__bin",
        F.explode(F.sequence(F.floor(ssec / bin_seconds),
                             F.floor(esec / bin_seconds))),
    )
    l2 = left.withColumn("__bin", F.floor(lsec / bin_seconds))
    keys = [*on, "__bin"]
    return (
        l2.join(exploded, keys)
        .filter((F.col(left_ts) >= F.col(start_col))
                & (F.col(left_ts) <= F.col(end_col)))
        .drop("__bin")
    )
