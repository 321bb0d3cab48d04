"""Latest-per-key and time-range scans — feast's materialization reads.

- :func:`latest_per_key` == the latest-row dedup feast uses everywhere:
  ``pull_latest_from_table_or_query`` SQL template
  (``spark_offline_store/spark.py:98-166``), the Spark DAG dedup node
  (``infra/compute_engines/spark/nodes.py:513-550``) and the Dask
  equivalent (``dask.py:367-417``).
- :func:`dedup_latest_turns` == that dedup with the transcript turn key.
- :func:`pull_all` == ``pull_all_from_table_or_query``
  (``offline_store.py:536-567``; Spark impl ``spark.py:409-487``): all
  rows in [start, end] projected to keys + features + ts.
- :func:`pull_latest` == latest row per key within [start, end].

The order is ``ts DESC, created_ts DESC`` — exactly feast's tie-break
(``spark.py:151-157``) — computed as a ``max_by`` hash aggregation
instead of the reference's ROW_NUMBER window. Pass ``tiebreak_cols`` to
pin determinism when neither ts nor created is unique.

Scale: one shuffle on the keys, after a map-side partial combine that
leaves at most one row per key and map partition; AQE handles residual
skew.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    created_ts_col: str | None = None,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Newest row per key, ordering by (ts DESC[, created DESC[, tiebreaks]]).

    ``max_by(struct(<payload>), struct(ts, created, tiebreaks))``: a hash
    aggregation with map-side partial combine, so there is no global sort
    and the shuffle carries at most one row per (key, map-partition). The
    struct comparison ranks NULL fields lowest, which is the window order
    ``ts DESC NULLS LAST`` of the reference's ROW_NUMBER plan; rows that
    tie on every ordering column resolve arbitrarily, as they do there."""
    order_cols = [ts_col]
    if created_ts_col:
        order_cols.append(created_ts_col)
    order_cols += list(tiebreak_cols or [])
    out_cols = df.columns
    payload = [c for c in out_cols if c not in keys]
    agged = df.groupBy(*keys).agg(
        F.max_by(
            F.struct(*[F.col(c) for c in payload]),
            F.struct(*[F.col(c) for c in order_cols]),
        ).alias("__row")
    )
    return agged.select(
        *keys, *[F.col(f"__row.{c}").alias(c) for c in payload]
    ).select(*out_cols)


def dedup_latest_turns(turns: DataFrame) -> DataFrame:
    """Latest row per (conv_id, turn_idx) by ``ts``; ``text`` breaks
    exact-ts ties (reference tie-break discipline, spark.py:151-157). The
    one turn-dedup policy: fixtures and at-least-once ingest deliver
    edited or duplicate turn keys."""
    return latest_per_key(
        turns, ["conv_id", "turn_idx"], "ts", tiebreak_cols=["text"]
    )


def pull_all(
    df: DataFrame,
    join_keys: list[str],
    feature_cols: list[str],
    ts_col: str,
    start: datetime | str | None = None,
    end: datetime | str | None = None,
) -> DataFrame:
    """All rows in the time window, projected (spark.py:409-487)."""
    out = df
    if start is not None:
        out = out.filter(F.col(ts_col) >= F.lit(start))
    if end is not None:
        out = out.filter(F.col(ts_col) <= F.lit(end))
    return out.select(*join_keys, *feature_cols, ts_col)


def pull_latest(
    df: DataFrame,
    join_keys: list[str],
    feature_cols: list[str],
    ts_col: str,
    created_ts_col: str | None = None,
    start: datetime | str | None = None,
    end: datetime | str | None = None,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Newest row per key within [start, end] — inclusive bounds, matching
    the reference's BETWEEN (spark.py:98-166)."""
    out = df
    if start is not None:
        out = out.filter(F.col(ts_col) >= F.lit(start))
    if end is not None:
        out = out.filter(F.col(ts_col) <= F.lit(end))
    cols = [*join_keys, *feature_cols, ts_col]
    if created_ts_col:
        cols.append(created_ts_col)
    extra = [c for c in (tiebreak_cols or []) if c not in cols]
    out = out.select(*cols, *extra)
    deduped = latest_per_key(out, join_keys, ts_col, created_ts_col, tiebreak_cols)
    return deduped.drop(*extra) if extra else deduped
