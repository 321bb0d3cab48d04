"""The transcript quality-filter pipeline — feast's materialization shape
re-expressed on Spark.

Stages (each maps to a reference operator, SURVEY §2/§7):

1. **ingest dedup** — latest row per (conv_id, turn_idx) by ts
   (= ``pull_latest_from_table_or_query``, ``spark.py:98-166``): planted
   "edited" duplicate turns resolve to the newest edit.
2. **score** — one ``mapInPandas`` pass wrapping the shared
   :mod:`feast_spark.rules` library (lid + hashed-5-gram perplexity +
   C4/Gopher heuristics + regex scrub). Arrow-batched, zero per-row
   Python — the same executor-side shape as feast's ``map_in_arrow``
   write node (``infra/compute_engines/spark/utils.py:128-175``).
3. **conversation features** — ``groupBy(conv_id)`` aggregations
   (= ``SparkAggregationNode``, ``spark/nodes.py:364-396``): mean
   perplexity, modal language (deterministic lexicographic tie-break),
   tool-call density. Partial (map-side) aggregation makes the mega-conv
   hot key a non-issue here; no salt needed for aggs.
4. **materialize** — append the feature rows (ts = conv's latest turn ts,
   created_ts = run time) to a keyed feature table
   (= feast materialize, ``spark/compute.py:87-129``), latest-per-key
   deduped on read.
5. **point-in-time join** — features as-of the decision timestamp joined
   back onto turns via :func:`feast_spark.operators.point_in_time_join`
   (= ``spark.py:1709-1887``); with multiple materialized snapshots the
   as-of window + created-ts tie-break select the right feature version.
6. **conversation-level rules + final labels** — per FIXTURES §3:
   (conv_id, turn_idx, keep, drop_reason, scrubbed_text, ts).
7. **lineage** — one row per Spark partition (run_id, partition_id,
   row_count, rule-hit counters) — feast's ``materialization_intervals``
   checkpoint (``feature_view.py:157``, ``registry.py:1016``) generalized
   to partition granularity.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from feast_spark import rules
from feast_spark.operators.latest import dedup_latest_turns, latest_per_key
from feast_spark.operators.pit_join import point_in_time_join

SCORED_SCHEMA = (
    "conv_id string, turn_idx int, role string, tool string, ts timestamp, "
    "lang string, perplexity double, word_count long, "
    "keep_turn boolean, drop_reason_turn string, scrubbed_text string"
)

CONV_FEATURE_COLS = ["mean_perplexity", "lang_mode", "tool_call_density"]

LABEL_SCHEMA_COLS = ["conv_id", "turn_idx", "keep", "drop_reason", "scrubbed_text", "ts"]

# conversation-level rules run AFTER turn rules; order within conv rules fixed
CONV_RULE_ORDER = ["conv_perplexity", "conv_tool_spam"]


@dataclass(frozen=True)
class QualityConfig:
    rules: rules.RuleConfig = field(default_factory=rules.RuleConfig)
    feature_ttl_seconds: int | None = None  # None = unbounded as-of window
    # OPT-IN corpus-trained LM gate (operators/lm.py, method='numpy'):
    # when set, turns the heuristic keep into keep AND (model ppl <=
    # lm_max_ppl), with drop_reason 'lm_perplexity' for the flips. The
    # model is broadcast once and scored INSIDE the existing Arrow
    # scoring pass (lm_score_texts — zero extra shuffles, no schema
    # change); defaults leave the oracle-checked pipeline untouched.
    lm_model: object | None = None
    lm_max_ppl: float = float("inf")
    # OPT-IN agent-loop rule: an agent stuck re-emitting the same turn is
    # a transcript-specific failure mode no document-level rule sees.
    # When loop_min_repeats is set, a normalized turn text appearing >=
    # that many times within ONE conversation keeps its first occurrence
    # and drops the later copies with drop_reason 'agent_loop'. Turns
    # under loop_min_words words are exempt (short acks — "ok", "yes" —
    # legitimately repeat). Defaults leave the oracle-checked pipeline
    # byte-identical.
    loop_min_repeats: int | None = None
    loop_min_words: int = 3


def score_transcripts(
    transcripts: DataFrame, cfg: QualityConfig = QualityConfig()
) -> DataFrame:
    """Stage 2: vectorized scoring via mapInPandas over Arrow batches.

    With ``cfg.lm_model`` set, the broadcast corpus-trained LM scores
    each batch inside the SAME pass (``lm_score_texts`` — pure numpy,
    no extra shuffle or schema change) and over-threshold turns flip to
    ``keep=False`` / ``drop_reason='lm_perplexity'``; heuristic-rule
    drops keep their original reason (rules fire first)."""
    import numpy as np

    rule_cfg = cfg.rules
    bc_model = (
        transcripts.sparkSession.sparkContext.broadcast(cfg.lm_model)
        if cfg.lm_model is not None
        else None
    )
    lm_max = cfg.lm_max_ppl

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            scored = rules.score_turns(pdf["text"], rule_cfg)
            out = pdf[["conv_id", "turn_idx", "role", "tool", "ts"]].reset_index(
                drop=True
            )
            out["lang"] = scored["lang"]
            out["perplexity"] = scored["perplexity"]
            out["word_count"] = scored["word_count"]
            keep = scored["keep"]
            reason = scored["drop_reason"]
            if bc_model is not None:
                from feast_spark.operators.lm import lm_score_texts

                _, _, ppl = lm_score_texts(bc_model.value, pdf["text"])
                over = keep.to_numpy(bool) & (ppl > lm_max)
                keep = keep & ~over
                reason = pd.Series(
                    np.where(over, "lm_perplexity", reason), dtype=object
                )
            out["keep_turn"] = keep
            out["drop_reason_turn"] = reason
            out["scrubbed_text"] = scored["scrubbed_text"]
            yield out

    return transcripts.mapInPandas(score_batches, SCORED_SCHEMA)


def conversation_features(
    scored: DataFrame, created_ts: datetime
) -> DataFrame:
    """Stage 3: keyed conversation feature rows (FIXTURES §2 schema).

    ONE hash aggregation (map-side partial combine, so mega-conversations
    do not skew the shuffle). ``mode(lang, true)`` is Spark's deterministic
    mode — ties resolve to the lexicographically smallest value, matching
    the oracle's sorted-tie-break exactly (SURVEY §7 determinism).
    """
    # empty turns carry the sentinel perplexity (rules._PPL_EMPTY) — exclude
    # zero-word turns from the mean so one blank turn can't poison a conv
    return scored.groupBy("conv_id").agg(
        F.avg(F.when(F.col("word_count") > 0, F.col("perplexity"))).alias(
            "mean_perplexity"
        ),
        F.avg(F.col("tool").isNotNull().cast("double")).alias("tool_call_density"),
        F.count(F.lit(1)).alias("n_turns"),
        F.max("ts").alias("ts"),
        F.expr("mode(lang, true)").alias("lang_mode"),
    ).select(
        "conv_id", "ts", F.lit(created_ts).alias("created_ts"),
        "mean_perplexity", "lang_mode", "tool_call_density", "n_turns",
    )


def mark_agent_loops(
    scored: DataFrame, min_repeats: int, min_words: int = 3
) -> DataFrame:
    """Flag within-conversation repeated turns (agent loops).

    Adds ``__loop_drop``: true for every occurrence AFTER the first of a
    normalized turn text (lowercased, whitespace-collapsed, hashed
    JVM-side with xxhash64 — the text itself never keys a shuffle) that
    appears >= ``min_repeats`` times in its conversation. First
    occurrence survives — it carried the information; the copies are the
    loop (same first-winner semantic as span_dedup / latest_per_key).

    Scale shape: ONE shuffle keyed (conv_id, text_hash); both window
    functions use the unordered whole-partition frame, so there is no
    sort — and the key includes the hash, so a mega-conversation spreads
    across its distinct texts instead of landing on one task.
    """
    h = F.xxhash64(
        F.trim(F.regexp_replace(F.lower("scrubbed_text"), r"\s+", " "))
    )
    w = Window.partitionBy("conv_id", "__h")
    return (
        scored.withColumn("__h", h)
        .withColumn(
            "__loop_drop",
            (F.col("word_count") >= F.lit(min_words))
            & (F.count(F.lit(1)).over(w) >= F.lit(min_repeats))
            & (F.col("turn_idx") > F.min("turn_idx").over(w)),
        )
        .drop("__h")
    )


def apply_conv_rules(
    scored: DataFrame,
    conv_features_df: DataFrame,
    cfg: QualityConfig,
    decision_ts: datetime,
) -> DataFrame:
    """Stages 5-6: PIT-join features as-of ``decision_ts`` onto turns, then
    combine turn-level and conversation-level verdicts.

    NULL features (conversation not yet materialized as-of decision_ts)
    pass the conv rules — blank, don't drop (``dask.py:1203-1226``).

    Because the as-of timestamp is one constant for all turns, the PIT join
    algebraically reduces to: dedup the FEATURE side to its latest
    qualifying row per conv, then equi-join. That turns two full shuffles
    of the (huge) turn table — the generic plan's window-by-row-id + join —
    into a broadcast hash join with ZERO shuffles of the big side. Same
    semantics as :func:`point_in_time_join` with entity_ts = decision_ts;
    the generic operator remains the path for per-row timestamps
    (historical retrieval, core/store.py).
    """
    feats = conv_features_df.filter(F.col("ts") <= F.lit(decision_ts))
    if cfg.feature_ttl_seconds:
        feats = feats.filter(
            F.col("ts")
            >= F.lit(decision_ts)
            - F.expr(f"INTERVAL {int(cfg.feature_ttl_seconds)} SECONDS")
        )
    latest_feats = latest_per_key(
        feats.select("conv_id", "ts", "created_ts", *CONV_FEATURE_COLS),
        ["conv_id"], "ts", created_ts_col="created_ts",
    ).drop("ts", "created_ts")
    # the conv table is turns/|conv| smaller than the turn table
    latest_feats = F.broadcast(latest_feats)
    if cfg.loop_min_repeats is not None:
        scored = mark_agent_loops(scored, cfg.loop_min_repeats, cfg.loop_min_words)
    else:
        scored = scored.withColumn("__loop_drop", F.lit(False))
    joined = scored.join(latest_feats, "conv_id", "left")

    r = cfg.rules
    conv_reason = F.when(
        F.col("mean_perplexity") > F.lit(r.conv_max_mean_perplexity),
        F.lit("conv_perplexity"),
    ).when(
        F.col("tool_call_density") > F.lit(r.conv_max_tool_density),
        F.lit("conv_tool_spam"),
    )
    # precedence: turn rules fire first, then the loop rule, then conv rules
    return (
        joined.withColumn("__conv_reason", conv_reason)
        .withColumn(
            "drop_reason",
            F.coalesce(
                F.col("drop_reason_turn"),
                F.when(F.col("__loop_drop"), F.lit("agent_loop")),
                F.col("__conv_reason"),
            ),
        )
        .withColumn(
            "keep",
            F.col("keep_turn")
            & ~F.col("__loop_drop")
            & F.col("__conv_reason").isNull(),
        )
        .select(*LABEL_SCHEMA_COLS)
    )


def lineage_rows(labels: DataFrame, run_id: str, started_at: datetime) -> DataFrame:
    """Stage 7: per-partition lineage (FIXTURES §3 ``lineage`` schema).

    rule_hit_counters is a map<reason, count> built executor-side from the
    labels; partition_id = physical Spark partition, so a resumed run can
    diff which partitions completed (feast ``materialization_intervals``
    generalized; ``feature_view.py:783-789``).
    """
    per_part = (
        labels.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid", "drop_reason")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        per_part.groupBy("__pid")
        .agg(
            F.sum("cnt").alias("row_count"),
            F.map_from_entries(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.coalesce(F.col("drop_reason"), F.lit("kept")).alias("k"),
                            F.col("cnt").alias("v"),
                        )
                    )
                )
            ).alias("rule_hit_counters"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("__pid").alias("partition_id"),
            F.col("row_count"),
            F.col("rule_hit_counters"),
            F.lit(started_at).alias("started_at"),
            F.current_timestamp().alias("finished_at"),
        )
    )


@dataclass
class PipelineResult:
    scored: DataFrame
    conv_features: DataFrame
    labels: DataFrame
    lineage: DataFrame


def run_quality_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: QualityConfig = QualityConfig(),
    run_id: str = "run-0",
    decision_ts: datetime | None = None,
    feature_table_path: str | None = None,
) -> PipelineResult:
    """End-to-end: dedup → score → conv features → (materialize) → PIT
    join → labels → lineage.

    When ``feature_table_path`` is given, conversation features are
    appended there (parquet feature table, stand-in for Iceberg
    ``writeTo().append()``) and the PIT join reads the FULL history back —
    so repeated runs exercise multi-snapshot as-of semantics with
    created_ts tie-breaks.
    """
    decision_ts = decision_ts or datetime(2025, 1, 1, tzinfo=timezone.utc)
    started_at = datetime.now(timezone.utc)

    deduped = dedup_latest_turns(transcripts)
    # scored fans out into conv-features AND the final label join — persist
    # so the python scoring pass runs exactly once (MEMORY_AND_DISK: spills
    # instead of recomputing at 100 TB partition sizes).
    scored = score_transcripts(deduped, cfg).persist()
    # Materialization barrier: without it, the labels action launches the
    # broadcast-subtree job (conv features) and the main job CONCURRENTLY,
    # and since the cache is not yet populated, BOTH run the full
    # dedup+score stage — observed as two identical 16-task jobs in the
    # event log, doubling the heavy work. One count() fills the cache
    # first; every downstream job then scans the cache. (At warehouse
    # scale the equivalent barrier is writing `scored` to a table between
    # phases — SURVEY §4 "prefer write-to-Iceberg between phases".)
    scored.count()
    conv = conversation_features(scored, created_ts=started_at)

    if feature_table_path:
        conv.write.mode("append").parquet(feature_table_path)
        conv_history = spark.read.parquet(feature_table_path)
    else:
        conv_history = conv

    labels = apply_conv_rules(scored, conv_history, cfg, decision_ts)
    lineage = lineage_rows(labels, run_id, started_at)
    return PipelineResult(scored=scored, conv_features=conv, labels=labels, lineage=lineage)


def rule_cooccurrence(
    transcripts: DataFrame,
    cfg: "rules.RuleConfig | None" = None,
    pre_deduped: bool = False,
) -> DataFrame:
    """Rule co-fire matrix over the (deduped) turns — the ablation-design
    lens the first-failing-rule ``drop_reason`` cannot provide: because
    :func:`rules.decide` attributes each drop to the FIRST rule in
    ``RULE_ORDER``, a rule whose every firing is shadowed by an earlier
    rule looks useless in the drop histogram while actually being the
    only guard against a class the earlier rule would miss after any
    threshold change. This operator evaluates EVERY rule independently
    per turn (:func:`rules.rule_fail_bits` — the same fail bitmaps
    ``decide`` folds, so bits and drop_reason can never disagree) and
    reports, for every rule pair ``a <= b``:

    - ``n_cofail`` — turns failing BOTH (diagonal = the rule's marginal
      fail count, shadowed or not);
    - ``n_exclusive`` — on the diagonal, turns failing ONLY that rule:
      exactly the turns a filter ablation would re-admit by removing it
      (0 off-diagonal by construction — a single-bit mask explodes to
      its diagonal pair only).

    Scale shape (10^12 turns): the mapInPandas scoring pass emits ONE
    int64 per turn; the first aggregation is ``groupBy(bits)`` with
    map-side partial combine into at most ``2^|RULE_ORDER|`` rows (1024
    here) — nothing text- or turn-sized crosses that exchange — and the
    pair explode + final agg run over that dimension-sized relation.
    Cost is therefore the scoring scan itself, shared with
    :func:`score_transcripts` if the caller fuses them.
    """
    rule_cfg = cfg if cfg is not None else rules.RuleConfig()
    d = transcripts if pre_deduped else dedup_latest_turns(transcripts)
    k = len(rules.RULE_ORDER)

    def bits_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {"bits": rules.rule_fail_bits(pdf["text"], rule_cfg)}
            )

    # Column pruning cannot push through MapInPandas — project to the one
    # column the scorer reads BEFORE the Arrow hop, or all six transcript
    # columns get serialized to Python per turn.
    bit_counts = (
        d.select("text")
        .mapInPandas(bits_batches, "bits long")
        .groupBy("bits")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    names = F.array(*[F.lit(n) for n in rules.RULE_ORDER])
    set_bits = F.expr(
        f"filter(sequence(0, {k - 1}), i -> bit_get(bits, i) = 1)"
    )
    pairs = (
        bit_counts.select("bits", "cnt", set_bits.alias("__set"))
        .filter(F.size("__set") > 0)
        .select("bits", "cnt", "__set", F.explode("__set").alias("ai"))
        .select(
            "bits",
            "cnt",
            "ai",
            F.explode(
                F.filter(F.col("__set"), lambda b: b >= F.col("ai"))
            ).alias("bi"),
        )
    )
    exclusive = (F.col("ai") == F.col("bi")) & (
        F.col("bits") == F.expr("shiftleft(CAST(1 AS BIGINT), ai)")
    )
    return (
        pairs.groupBy("ai", "bi")
        .agg(
            F.sum("cnt").cast("long").alias("n_cofail"),
            F.sum(F.when(exclusive, F.col("cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_exclusive"),
        )
        .select(
            F.element_at(names, F.col("ai") + 1).alias("rule_a"),
            F.element_at(names, F.col("bi") + 1).alias("rule_b"),
            "n_cofail",
            "n_exclusive",
        )
    )


def rule_threshold_sweep(
    transcripts: DataFrame,
    rule: str,
    thresholds: list[float],
    cfg: "rules.RuleConfig | None" = None,
    pre_deduped: bool = False,
) -> DataFrame:
    """Threshold tuning curve for one scalar-threshold rule — the knob
    a filter designer actually turns. :func:`rule_cooccurrence` says
    which rules shadow each other at the CURRENT thresholds; this
    answers "how many turns would each candidate threshold keep" for
    every grid point in ONE scoring scan, holding all other rules fixed
    at ``cfg`` (so the curve is exactly ``sum(keep)`` of the full
    pipeline re-run with that one threshold swapped — pinned by test).

    One row per threshold (ascending): ``threshold``, ``n_kept`` (turns
    passing ALL rules with the swept rule at that threshold),
    ``n_pass_others`` (turns passing every OTHER rule — the curve's
    ceiling, constant), ``n_total`` (deduped turns, constant), and
    exact 2^-20 ``keep_frac_units`` (``n_kept`` / ``n_total``;
    DECIMAL(38,0) numerator per the engine's 2^43 rule, -1 sentinel on
    empty input).

    Scale shape (10^12 turns): the Arrow scoring pass emits THREE small
    values per turn (two bools + an int64 grid bucket from
    :func:`rules.sweep_cells` — ``np.searchsorted`` against the
    broadcast-as-closure grid); the first aggregation collapses to at
    most ``4 x (len(grid)+1)`` cells with map-side partial combine —
    nothing text- or turn-sized crosses the exchange — and the curve is
    a broadcast nested-loop join of that cell table against the
    ``len(grid)``-row grid dimension. Cost is the scoring scan, shared
    with :func:`score_transcripts` if the caller fuses them.
    """
    rule_cfg = cfg if cfg is not None else rules.RuleConfig()
    if rule not in rules.SWEEPABLE_RULES:
        raise ValueError(
            f"rule {rule!r} is not sweepable"
            f" (one of {sorted(rules.SWEEPABLE_RULES)})"
        )
    grid = [float(t) for t in thresholds]
    if not grid or any(b <= a for a, b in zip(grid, grid[1:])):
        raise ValueError("thresholds must be non-empty and strictly ascending")
    direction, _ = rules.SWEEPABLE_RULES[rule]
    d = transcripts if pre_deduped else dedup_latest_turns(transcripts)

    def cell_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield rules.sweep_cells(pdf["text"], rule, grid, rule_cfg)

    cells = (
        d.select("text")
        .mapInPandas(
            cell_batches, "others_pass boolean, gated boolean, bucket long"
        )
        .groupBy("others_pass", "gated", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    grid_df = transcripts.sparkSession.createDataFrame(
        [(i, t) for i, t in enumerate(grid)], "i int, threshold double"
    )
    rule_kept = (
        F.col("bucket") <= F.col("i")
        if direction == "gt"
        else F.col("bucket") > F.col("i")
    )
    kept = F.col("others_pass") & (~F.col("gated") | rule_kept)
    unit = 1 << 20
    return (
        cells.crossJoin(F.broadcast(grid_df))
        .groupBy("i", "threshold")
        .agg(
            F.sum(F.when(kept, F.col("cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_kept"),
            F.sum(
                F.when(F.col("others_pass"), F.col("cnt")).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_pass_others"),
            F.sum("cnt").cast("long").alias("n_total"),
        )
        .select(
            "threshold",
            "n_kept",
            "n_pass_others",
            "n_total",
            F.expr(
                f"CASE WHEN n_total = 0 THEN CAST(-1 AS BIGINT) ELSE CAST("
                f"(CAST(n_kept AS DECIMAL(38,0)) * {unit}) div n_total"
                f" AS BIGINT) END"
            ).alias("keep_frac_units"),
        )
        .orderBy("threshold")
    )
