"""Timeseries kernel operators (Spark-first).

These are the dataflow building blocks of the reference engine
(SURVEY.md §2), re-expressed as Spark DataFrame plans:

- dedup_latest   (A1)  latest created_time per event time   [_storage/dask.py:156-165]
- time_travel    (P2)  created_time <= time + delta         [_storage/dask.py:119-122]
- locf           (J1/J2 core) last-observation-carried-forward
- time_grid      (J2)  regular timestamp grid via sequence()
- resample       (J2)  grid + as-of LOCF join               [_storage/dask.py:169-188]
- align          (J1)  multi-feature outer join + ffill     [_timeseries.py:11-26]
- first_row/last_row (A2/A3)                                [_storage/dask.py:196-221]

Scale notes
-----------
A global ``Window.orderBy("time")`` (no partitionBy) collapses to ONE task —
correct but a straggler at 100 TB. ``locf`` therefore uses a two-pass
algorithm when no partition keys are given:

  pass 1: bucket rows by time range (quantile bounds collected once) and
          forward-fill WITHIN each bucket via a per-bucket window — buckets
          run in parallel.
  pass 2: each bucket's last non-null per column (one row per bucket) is
          prefix-scanned by a window over that tiny frame and broadcast-
          joined back; leading nulls coalesce to the prior buckets' seed.

Both passes are declarative DataFrame plans — no driver collect of seeds,
no pandas round-trip (map/struct payloads stay JVM-side). With partition
keys (long format, one series per key) locf uses an ordinary per-key
window, which parallelizes across keys.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .utils import freq_to_interval, parse_timedelta_interval

TIME_COL = "time"
CREATED_COL = "created_time"
VALUE_COL = "value"

# Rows per range partition in the two-pass LOCF; at 100 TB this is the knob
# that sizes tasks (set so one partition's arrow batches fit in executor RAM).
DEFAULT_ROWS_PER_RANGE = 2_000_000


# ---------------------------------------------------------------------------
# A1 — bitemporal dedup: keep the most recently ingested row per event time
# ---------------------------------------------------------------------------

def dedup_latest(
    df: DataFrame,
    time_col: str = TIME_COL,
    created_col: str = CREATED_COL,
    partition_by: Sequence[str] = (),
    tiebreak: str | None = None,
) -> DataFrame:
    """Latest ``created_col`` wins per (partition_by..., time_col).

    Globally correct (shuffle-based window), unlike the reference's
    per-partition dask shortcut which relies on index divisions
    (_storage/dask.py:156-165). Ties on created_time break on ``tiebreak``
    (descending) when provided, else arbitrarily.
    """
    order = [F.col(created_col).desc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).desc())
    w = Window.partitionBy(*partition_by, time_col).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# P2 — time travel: what did we know as of event-time + delta
# ---------------------------------------------------------------------------

def time_travel(
    df: DataFrame,
    delta: str,
    time_col: str = TIME_COL,
    created_col: str = CREATED_COL,
) -> DataFrame:
    """Keep rows with ``created_time <= time + delta`` (delta e.g. '-15min').

    A row-vs-row theta predicate — no join needed (_storage/dask.py:119-122).
    """
    interval = parse_timedelta_interval(delta)
    return df.where(
        F.col(created_col) <= F.col(time_col) + F.expr(interval)
    )


# ---------------------------------------------------------------------------
# LOCF — last observation carried forward
# ---------------------------------------------------------------------------

def locf(
    df: DataFrame,
    cols: Sequence[str],
    time_col: str = TIME_COL,
    partition_by: Sequence[str] = (),
    order_extra: Sequence[str] = (),
    rows_per_range: int = DEFAULT_ROWS_PER_RANGE,
    range_hint: tuple | None = None,
) -> DataFrame:
    """Forward-fill ``cols`` in time order.

    With ``partition_by``: per-key window (parallel across keys).
    Without: two-pass distributed fill (see module docstring) — avoids the
    single-task global window.
    ``order_extra`` breaks ordering ties within equal timestamps (e.g. the
    grid-marker column in ``resample``: data rows sort before grid rows).
    ``range_hint=(t0, t1)``: when the caller already knows the time span
    (resample does — it built the grid), bucket bounds are interpolated
    from it instead of running an approxQuantile job. One less Spark job;
    correctness is unaffected (bounds only steer parallelism).
    """
    if partition_by:
        w = (
            Window.partitionBy(*partition_by)
            .orderBy(time_col, *order_extra)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = df
        for c in cols:
            out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
        return out
    return _locf_two_pass(
        df, cols, time_col, list(order_extra), rows_per_range, range_hint
    )


def _locf_two_pass(
    df: DataFrame,
    cols: Sequence[str],
    time_col: str,
    order_extra: list[str],
    rows_per_range: int,
    range_hint: tuple | None = None,
) -> DataFrame:
    spark = df.sparkSession
    sort_cols = [time_col, *order_extra]

    # partition count: shuffle-partitions ceiling; on a real cluster size
    # instead by rows_per_range from table stats.
    num_parts = max(1, int(spark.conf.get("spark.sql.shuffle.partitions", "32")))

    # Bucket boundaries are COLLECTED ONCE and baked into both passes as
    # constants. (repartitionByRange + spark_partition_id would be subtly
    # wrong: its sampled boundaries can differ when the lazy second pass
    # recomputes, silently mismatching the seeds.)
    if range_hint is not None:
        t0 = int(pd.Timestamp(range_hint[0]).value // 1000)  # ns -> µs
        t1 = int(pd.Timestamp(range_hint[1]).value // 1000)
        step = max(1, (t1 - t0) // num_parts)
        bounds = [t0 + i * step for i in range(1, num_parts)] if t1 > t0 else []
    else:
        probs = [i / num_parts for i in range(1, num_parts)]
        bounds = (
            df.select(F.unix_micros(F.col(time_col)).alias("__t"))
            .stat.approxQuantile("__t", probs, 0.01)
            if probs
            else []
        )
    bounds = sorted(set(int(b) for b in bounds))
    pid_expr = F.lit(0)
    for b in bounds:
        pid_expr = pid_expr + (F.unix_micros(F.col(time_col)) > F.lit(b)).cast("int")

    parted = df.withColumn("__pid", pid_expr)

    # pass 1 (declarative, no driver collect): fill WITHIN each bucket via a
    # per-bucket window — buckets run in parallel, each a bounded task.
    w_in = (
        Window.partitionBy("__pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = parted
    for c in cols:
        filled = filled.withColumn(c, F.last(c, ignorenulls=True).over(w_in))

    # pass 2: seed each bucket with the last non-null value of PRIOR buckets.
    # Per-bucket last non-nulls (max_by ignores rows whose ordering key is
    # NULL, i.e. null values) prefix-scanned by a window over the tiny
    # one-row-per-bucket frame, then broadcast-joined back. Everything stays
    # JVM-side — no pandas round-trip, so map/struct payloads are preserved
    # and the plan is one shuffle + one broadcast.
    order_expr = F.struct(*[F.col(c) for c in sort_cols])
    seeds = parted.groupBy("__pid").agg(
        *[
            F.max_by(F.col(c), F.when(F.col(c).isNotNull(), order_expr)).alias(c)
            for c in cols
        ]
    )
    w_prev = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )  # single-task window, but over <= num_parts rows
    prefix = seeds.select(
        "__pid",
        *[F.last(c, ignorenulls=True).over(w_prev).alias(f"__seed_{c}") for c in cols],
    )
    out = filled.join(F.broadcast(prefix), "__pid", "left")
    for c in cols:
        out = out.withColumn(c, F.coalesce(F.col(c), F.col(f"__seed_{c}")))
    return out.drop("__pid", *[f"__seed_{c}" for c in cols])


# ---------------------------------------------------------------------------
# J2 — resample to a regular grid with as-of (LOCF) semantics
# ---------------------------------------------------------------------------

def time_grid(spark: SparkSession, start, end, freq: str) -> DataFrame:
    """Regular grid [start..end] stepping by freq, as a 1-col DataFrame.

    ``sequence()`` is evaluated JVM-side; the explode distributes rows.
    """
    interval = freq_to_interval(freq)
    return (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.lit(pd.Timestamp(start)).cast("timestamp"),
                    F.lit(pd.Timestamp(end)).cast("timestamp"),
                    F.expr(interval),
                )
            ).alias(TIME_COL)
        )
    )


def resample(
    df: DataFrame,
    from_date,
    to_date,
    freq: str,
    value_cols: Sequence[str] | None = None,
    time_col: str = TIME_COL,
    partition_by: Sequence[str] = (),
    keys_df: DataFrame | None = None,
) -> DataFrame:
    """pandas ``resample(freq).ffill()`` semantics on a (deduped) series.

    grid point g takes the latest value with time <= g (inclusive; a data row
    exactly at g wins). Implemented as union(data, grid) + LOCF ordered by
    (time, is_grid) + filter to grid rows — one range shuffle, no self-join.

    With ``partition_by`` (long format, e.g. per user_id), ``keys_df``
    supplies the key set (default: distinct keys of df) and the grid is
    cross-joined onto the keys; LOCF runs per key in parallel.
    """
    spark = df.sparkSession
    value_cols = list(value_cols) if value_cols is not None else [
        c for c in df.columns if c not in (time_col, *partition_by)
    ]
    grid = time_grid(spark, from_date, to_date, freq)
    if partition_by:
        keys = keys_df if keys_df is not None else df.select(*partition_by).distinct()
        grid = keys.crossJoin(grid)

    data = df.select(
        *partition_by, time_col, F.lit(0).alias("__grid"), *value_cols
    ).where(F.col(time_col) <= F.lit(pd.Timestamp(to_date)).cast("timestamp"))
    gridded = grid.select(
        *partition_by, time_col, F.lit(1).alias("__grid"),
        *[F.lit(None).cast(data.schema[c].dataType).alias(c) for c in value_cols],
    )
    unioned = data.unionByName(gridded)
    filled = locf(
        unioned,
        value_cols,
        time_col=time_col,
        partition_by=partition_by,
        order_extra=["__grid"],
        # the grid span is known: seed rows before from_date land in
        # bucket 0; no quantile job needed
        range_hint=(from_date, to_date),
    )
    return filled.where(F.col("__grid") == 1).drop("__grid")


# ---------------------------------------------------------------------------
# J1 — multi-feature alignment: full outer join on time + forward fill
# ---------------------------------------------------------------------------

ALIGN_PIVOT_MIN_K = 8


def align(
    dfs: Sequence[DataFrame],
    time_col: str = TIME_COL,
    ffill: bool = True,
    range_hint: tuple | None = None,
) -> DataFrame:
    """Outer-join k single-series frames on time; carry each series forward
    onto the union time axis (_timeseries.py:11-26).

    Each input must have columns (time, <unique series name>). Two physical
    strategies:
    - k < ALIGN_PIVOT_MIN_K (or mixed value types): fold of outer joins —
      sort-merge friendly, preserves each column's exact type.
    - k >= ALIGN_PIVOT_MIN_K with uniform numeric types: long-format union
      + pivot — ONE shuffle on time instead of k-1 join shuffles; at wide
      feature counts the join fold's plan depth and exchange count grow
      linearly while the pivot stays flat.

    ``range_hint=(t0, t1)``: pass the known overall time span so the LOCF
    bucket bounds are derived arithmetically. Without it, locf samples
    bounds via approxQuantile — an EAGER job that executes the whole
    upstream join plan once during plan construction.
    """
    if not dfs:
        raise ValueError("align() needs at least one frame")
    value_names = [
        [c for c in df.columns if c != time_col][0] for df in dfs
    ]
    types = {df.schema[n].dataType.simpleString() for df, n in zip(dfs, value_names)}
    numeric = types <= {"double", "float", "int", "bigint", "smallint", "tinyint"}
    if len(dfs) >= ALIGN_PIVOT_MIN_K and numeric:
        longs = [
            df.select(
                F.col(time_col),
                F.lit(n).alias("__feature"),
                F.col(n).cast("double").alias("__value"),
            )
            for df, n in zip(dfs, value_names)
        ]
        unioned = longs[0]
        for nxt in longs[1:]:
            unioned = unioned.unionByName(nxt)
        out = (
            unioned.groupBy(time_col)
            .pivot("__feature", value_names)
            .agg(F.first("__value"))
        )
    else:
        out = dfs[0]
        for nxt in dfs[1:]:
            out = out.join(nxt, on=time_col, how="outer")
    value_cols = [c for c in out.columns if c != time_col]
    if ffill:
        out = locf(out, value_cols, time_col=time_col, range_hint=range_hint)
    return out


# ---------------------------------------------------------------------------
# A2 — first/last row
# ---------------------------------------------------------------------------

def first_row(df: DataFrame, time_col: str = TIME_COL):
    return df.orderBy(F.col(time_col).asc()).limit(1)


def last_row(df: DataFrame, time_col: str = TIME_COL):
    return df.orderBy(F.col(time_col).desc()).limit(1)
