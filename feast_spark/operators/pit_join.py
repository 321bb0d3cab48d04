"""Point-in-time (as-of) join — the reference's load-bearing operator.

Semantics cloned from feast's Spark SQL template
(``sdk/python/feast/infra/offline_stores/contrib/spark_offline_store/
spark.py:1709-1887``) and cross-checked against the Dask dataflow form
(``offline_stores/dask.py:212-349, 1093-1270``) and the ibis form
(``offline_stores/ibis.py:384-489``):

1. distinct (join_keys, entity_ts) probe rows — duplicates in the entity
   frame re-attach at the final left join (the reference collapses them
   the same way via its CONCAT row id, ``spark.py:1718-1724``; we key the
   window on the natural composite directly — no synthetic row-id string
   travels through the shuffle);
2. INNER join feature→entity on keys with ``f.ts <= e.ts`` (+ ttl lower
   bound ``f.ts >= e.ts - ttl``; ttl==0 means upper bound only, matching
   ``dask.py:1167-1200``). Both sides are explicitly aliased so
   entity/feature frames sharing lineage (both filtered from one parent)
   resolve by alias, not by Spark's self-join disambiguation heuristic;
3. keep the best feature row per (join_keys, entity_ts):
   ``ROW_NUMBER() OVER (PARTITION BY keys, entity_ts ORDER BY
   [qualified DESC,] ts DESC[, created DESC]) = 1`` (``spark.py:
   1836-1847``). With ``created_cutoff=True``, rows whose
   ``created_ts > entity_ts`` sort LAST (the reference masks them before
   ``_drop_duplicates``, ``dask.py:1203-1226,1229-1270`` — na_position=
   "first" + keep="last" means any qualified row beats every too-new
   row), and a surviving too-new row is blanked, not dropped;
4. LEFT join the deduped features back onto the full entity frame on the
   natural composite — entity rows with no match survive with NULL
   features ("blank, don't drop").

Scale notes (100 TB): the window in step 3 partitions by
``(join_keys, entity_ts)`` which embeds the timestamp, so a mega-entity
(hot ``conv_id``) fans out across partitions instead of collapsing onto
one reducer (SURVEY §2.3 skew note). The raw key join in step 2 is the
skew point — AQE skew-join splits it at runtime. Shuffle rows carry only
the natural key columns (vs the previous 64-char sha2 row id: ~70
bytes/row saved at every exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def point_in_time_join(
    entity_df: DataFrame,
    feature_df: DataFrame,
    join_keys: list[str],
    feature_ts_col: str,
    entity_ts_col: str = "event_timestamp",
    created_ts_col: str | None = None,
    ttl_seconds: int | None = None,
    features: list[str] | None = None,
    prefix: str | None = None,
    created_cutoff: bool = False,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """As-of join ``feature_df`` onto ``entity_df``.

    Returns ``entity_df``'s columns plus one column per feature (optionally
    ``{prefix}__{name}``), each holding the value from the latest feature
    row with ``feature_ts <= entity_ts`` (within ``ttl_seconds`` when set),
    NULL when no feature row qualifies.

    ``created_cutoff=True`` restricts the as-of pick to rows with
    ``created_ts <= entity_ts`` (no-backfill-leakage flag,
    ``offline_store.py:454-462``): the latest row *among the qualified
    ones* wins; only when every candidate is too new does the entity row
    come back blank (``dask.py:1203-1270`` cutoff-before-dedup order).

    ``tiebreak_cols`` pins determinism when (ts, created_ts) is not a
    total order over a key's feature rows.
    """
    if features is None:
        reserved = set(join_keys) | {feature_ts_col, created_ts_col}
        features = [c for c in feature_df.columns if c not in reserved]

    # distinct (keys, entity_ts) probe rows; dropDuplicates treats NULLs as
    # equal, matching the reference's pandas-merge key semantics
    entity_keys = entity_df.select(entity_ts_col, *join_keys).dropDuplicates()

    fcols = [F.col(c) for c in join_keys] + [
        F.col(feature_ts_col).alias("__feature_ts")
    ] + [F.col(c).alias(f"__f_{c}") for c in features]
    if created_ts_col:
        fcols.append(F.col(created_ts_col).alias("__created_ts"))
    fdf = feature_df.select(*fcols).alias("__pit_f")
    probe = entity_keys.alias("__pit_e")

    # explicit alias-qualified, null-safe equi-join: resolves by alias even
    # when both frames derive from the same parent (no "trivially true
    # predicate" heuristic), and NULL keys match like the reference's
    # pandas merge does. <=> stays a hash-joinable equi-key in Spark.
    cond = None
    for k in join_keys:
        c = F.col(f"__pit_f.{k}").eqNullSafe(F.col(f"__pit_e.{k}"))
        cond = c if cond is None else (cond & c)
    base = (
        fdf.join(probe, cond, "inner")
        .filter(F.col("__feature_ts") <= F.col(entity_ts_col))
        # entity-side key copies win; feature-side copies are dropped
        .select(
            F.col(f"__pit_e.{entity_ts_col}").alias(entity_ts_col),
            *[F.col(f"__pit_e.{k}").alias(k) for k in join_keys],
            F.col("__feature_ts"),
            *[F.col(f"__f_{c}") for c in features],
            *([F.col("__created_ts")] if created_ts_col else []),
        )
    )
    if ttl_seconds:
        base = base.filter(
            F.col("__feature_ts")
            >= F.col(entity_ts_col) - F.expr(f"INTERVAL {int(ttl_seconds)} SECONDS")
        )

    order: list = []
    if created_cutoff and created_ts_col:
        # cutoff-before-dedup: qualified rows (created <= entity_ts) sort
        # ahead of every too-new row (dask.py:1203-1270 mask + na-first sort)
        base = base.withColumn(
            "__qualified", F.col("__created_ts") <= F.col(entity_ts_col)
        )
        order.append(F.col("__qualified").desc())
    order.append(F.col("__feature_ts").desc())
    if created_ts_col:
        order.append(F.col("__created_ts").desc())
    for c in tiebreak_cols or []:
        order.append(F.col(f"__f_{c}").desc())
    w = Window.partitionBy(entity_ts_col, *join_keys).orderBy(*order)
    latest = base.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )

    if created_cutoff and created_ts_col:
        # blank, don't drop: when even the best row is too new, null the
        # feature values but keep the row
        for c in features:
            latest = latest.withColumn(
                f"__f_{c}",
                F.when(F.col("__qualified"), F.col(f"__f_{c}")).otherwise(
                    F.lit(None)
                ),
            )

    out_name = (lambda c: f"{prefix}__{c}") if prefix else (lambda c: c)
    latest = latest.select(
        F.col(entity_ts_col).alias("__l_ts"),
        *[F.col(k).alias(f"__l_{k}") for k in join_keys],
        *[F.col(f"__f_{c}").alias(out_name(c)) for c in features],
    )
    ent = entity_df.alias("__pit_out_e")
    lat = latest.alias("__pit_out_l")
    jcond = F.col(f"__pit_out_e.{entity_ts_col}").eqNullSafe(F.col("__pit_out_l.__l_ts"))
    for k in join_keys:
        jcond = jcond & F.col(f"__pit_out_e.{k}").eqNullSafe(F.col(f"__pit_out_l.__l_{k}"))
    result = ent.join(lat, jcond, "left").drop(
        "__l_ts", *[f"__l_{k}" for k in join_keys]
    )
    return result
