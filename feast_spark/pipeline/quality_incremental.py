"""Exactly-once batch / streaming composition of the QUALITY pipeline —
label snapshots with the curation-incremental commit discipline.

:func:`~feast_spark.pipeline.quality.run_quality_pipeline` labels one
DataFrame; real transcript ingest arrives in batches (micro-batches,
backfills, retried deliveries), and the north-rule contract is that the
job "checkpoints and resumes idempotently": a crashed or re-delivered
batch must neither drop labels nor double-count them. This module adds
exactly that, reusing the span-state protocol
:mod:`feast_spark.pipeline.incremental` proved out
(``_SUCCESS``-gated per-batch partitions; reference shape:
``materialization_intervals`` checkpointing, ``feature_view.py:157``,
``registry.py:1016``):

- Per batch, conversation features append to the SHARED feature table
  FIRST, then lineage, then the labels partition LAST — the labels
  partition's ``_SUCCESS`` marker IS the commit point. A crash anywhere
  earlier leaves the batch uncommitted and the retry reruns clean; the
  orphaned feature snapshot a crashed attempt may leave behind is
  ABSORBED by the PIT join's created-ts tie-break (newest snapshot wins
  — the idempotence `test_pipeline_rerun_idempotent_labels` pins), so
  no cleanup pass is needed.
- A batch whose partition carries ``_SUCCESS`` is returned from state
  without reprocessing (re-delivered micro-batch ids are free).
- :func:`resolved_labels` folds all committed snapshots into the
  current label per turn: latest ``batch_id`` wins per
  ``(conv_id, turn_idx)`` — callers use monotone zero-padded ids (the
  stream path's ``s<%08d>`` satisfies this), so lexicographic order is
  arrival order.

Scale shape: everything is the underlying pipeline's shape (one Arrow
scoring scan, conv-keyed aggs, as-of join); the commit layer adds only
per-batch parquet writes of label-sized relations and an O(#batches)
directory listing. The resolved view is one latest-per-key hash-agg
over the committed label log — the pull_latest kernel, map-side
combined, no window sort.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feast_spark.operators.latest import latest_per_key
from feast_spark.pipeline.quality import (
    QualityConfig,
    run_quality_pipeline,
)

__all__ = [
    "QualityBatchResult",
    "run_quality_batch",
    "resolved_labels",
    "quality_stream",
    "committed_label_batches",
]


@dataclass
class QualityBatchResult:
    batch_id: str
    labels: DataFrame
    resumed: bool = False


def _labels_root(state_dir: str) -> str:
    return os.path.join(state_dir, "labels")


def _batch_dir(state_dir: str, batch_id: str) -> str:
    return os.path.join(_labels_root(state_dir), f"batch={batch_id}")


def committed_label_batches(state_dir: str) -> list[str]:
    """Sorted batch ids whose labels partition carries ``_SUCCESS``."""
    root = _labels_root(state_dir)
    if not os.path.isdir(root):
        return []
    return sorted(
        d.split("=", 1)[1]
        for d in os.listdir(root)
        if d.startswith("batch=")
        and os.path.exists(os.path.join(root, d, "_SUCCESS"))
    )


def _profile_dir(state_dir: str, batch_id: str) -> str:
    return os.path.join(state_dir, "profile", f"batch={batch_id}")


def _vocab_dir(state_dir: str, batch_id: str) -> str:
    return os.path.join(state_dir, "vocab", f"batch={batch_id}")


def _batch_vocab_sketch(transcripts: DataFrame, k: int) -> DataFrame:
    """Per-role KMV sketch of this batch's ASCII-ws terms — the bounded
    (<= roles x k rows) mergeable vocabulary summary."""
    from feast_spark.operators.lexical import kmv_sketch

    toks = transcripts.select(
        "role",
        F.explode(
            F.filter(
                F.split(
                    F.coalesce(F.col("text"), F.lit("")),
                    "[ \t\n\x0b\f\r]+",
                ),
                lambda x: x != "",
            )
        ).alias("term"),
    )
    return kmv_sketch(toks, ["role"], "term", k=k)


def run_quality_batch(
    spark: SparkSession,
    transcripts: DataFrame,
    state_dir: str,
    batch_id: str,
    cfg: QualityConfig = QualityConfig(),
    decision_ts: datetime | None = None,
    profile: bool = False,
    vocab_k: int = 0,
) -> QualityBatchResult:
    """Label one ingest batch exactly once. A batch id whose labels
    partition is ``_SUCCESS``-committed returns from state without
    reprocessing; otherwise the full pipeline runs with the SHARED
    ``<state_dir>/conv_features`` feature table (so this batch's labels
    see every previously committed conversation-feature snapshot through
    the as-of join — a conversation spanning batches is labeled with its
    freshest known features, the online-consistent semantics).

    ``/`` is rejected in ``batch_id`` (it would escape the partition
    directory).

    ``profile=True`` additionally persists this batch's
    :func:`~feast_spark.operators.profile.dataset_profile` data card
    (over the RAW batch delivery — the ingest-grain view) to
    ``<state_dir>/profile/batch=<id>`` BEFORE the labels partition:
    the labels ``_SUCCESS`` remains the single commit point, so a
    committed batch always has its card, a crash between the two
    writes leaves the batch uncommitted, and the retry overwrites both
    — the paragraph-state crash argument. Re-delivered committed ids
    never recompute the card.

    ``vocab_k > 0`` additionally persists this batch's per-role KMV
    vocabulary sketch (``operators/lexical.kmv_sketch`` — <= roles x k
    rows, text never stored) to ``<state_dir>/vocab/batch=<id>`` under
    the SAME commit discipline: sketch before labels, labels
    ``_SUCCESS`` the single commit point. Because KMV sketches are
    mergeable (``sketch(A ∪ B) == resketch(sketch(A) ∪ sketch(B))``),
    :func:`corpus_vocab_estimate` then answers "distinct terms per role
    across ALL committed batches" WITHOUT re-reading any batch's text —
    the incremental-state matrix extended to the cardinality grain
    (span/para hashes = exact membership, minhash sigs = similarity,
    KMV = cardinality).
    """
    if "/" in batch_id or not batch_id:
        raise ValueError(f"invalid batch_id {batch_id!r}")
    bdir = _batch_dir(state_dir, batch_id)
    if os.path.exists(os.path.join(bdir, "_SUCCESS")):
        return QualityBatchResult(
            batch_id, spark.read.parquet(bdir), resumed=True
        )
    res = run_quality_pipeline(
        spark,
        transcripts,
        cfg,
        run_id=batch_id,
        decision_ts=decision_ts,
        feature_table_path=os.path.join(state_dir, "conv_features"),
    )
    # commit order: card, then lineage, then labels; the labels
    # partition's _SUCCESS is the single commit point (module docstring)
    if profile:
        from feast_spark.operators.profile import dataset_profile

        dataset_profile(transcripts).withColumn(
            "batch_id", F.lit(batch_id)
        ).coalesce(1).write.mode("overwrite").parquet(
            _profile_dir(state_dir, batch_id)
        )
    if vocab_k > 0:
        _batch_vocab_sketch(transcripts, vocab_k).coalesce(1).write.mode(
            "overwrite"
        ).parquet(_vocab_dir(state_dir, batch_id))
    res.lineage.write.mode("overwrite").parquet(
        os.path.join(state_dir, "lineage", f"batch={batch_id}")
    )
    res.labels.withColumn("batch_id", F.lit(batch_id)).write.mode(
        "overwrite"
    ).parquet(bdir)
    res.scored.unpersist()
    return QualityBatchResult(batch_id, spark.read.parquet(bdir))


def resolved_labels(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current label per ``(conv_id, turn_idx)`` across every COMMITTED
    batch: the latest ``batch_id`` wins (monotone ids = arrival order),
    ``ts DESC, scrubbed_text DESC`` breaking impossible-in-practice ties
    deterministically. One latest-per-key hash-agg over the label log.

    Raises ``FileNotFoundError`` when no batch has committed (an empty
    log has no schema to offer)."""
    batches = committed_label_batches(state_dir)
    if not batches:
        raise FileNotFoundError(f"no committed label batches in {state_dir}")
    log = spark.read.parquet(
        *[_batch_dir(state_dir, b) for b in batches]
    )
    return latest_per_key(
        log,
        ["conv_id", "turn_idx"],
        "batch_id",
        tiebreak_cols=["ts", "scrubbed_text"],
    )


def profile_history(spark: SparkSession, state_dir: str) -> DataFrame:
    """Every COMMITTED batch's persisted data card as one long frame
    ``(batch_id, metric, value)`` — the fleet's corpus-health time
    series (plot any metric over batch_id; feed consecutive pairs to
    :func:`batch_profile_drift`). Uncommitted/crashed batches' cards
    are excluded by the ``_SUCCESS`` gate even though their card files
    may exist. Raises ``FileNotFoundError`` when no committed batch has
    a card (profile=False runs leave none)."""
    dirs = [
        _profile_dir(state_dir, b)
        for b in committed_label_batches(state_dir)
        if os.path.exists(_profile_dir(state_dir, b))
    ]
    if not dirs:
        raise FileNotFoundError(f"no committed batch cards in {state_dir}")
    return spark.read.parquet(*dirs).select("batch_id", "metric", "value")


def batch_profile_drift(
    spark: SparkSession, state_dir: str, batch_a: str, batch_b: str
) -> DataFrame:
    """Corpus drift between two COMMITTED batches from their PERSISTED
    cards (``feast_spark.operators.profile.card_drift`` — no access to
    the original turns needed). Same output contract as
    ``profile_drift``."""
    from feast_spark.operators.profile import card_drift

    committed = set(committed_label_batches(state_dir))
    for b in (batch_a, batch_b):
        if b not in committed:
            raise ValueError(f"batch {b!r} is not committed")
        if not os.path.exists(_profile_dir(state_dir, b)):
            raise FileNotFoundError(f"batch {b!r} has no persisted card")
    return card_drift(
        spark.read.parquet(_profile_dir(state_dir, batch_a)),
        spark.read.parquet(_profile_dir(state_dir, batch_b)),
    )


def corpus_vocab_estimate(
    spark: SparkSession, state_dir: str, k: int
) -> DataFrame:
    """Distinct-term estimate per role across ALL committed batches,
    from the persisted KMV sketches alone (no batch text is re-read):
    union the committed sketch partitions, re-sketch (dedup + k
    smallest per role — exactly a sketch of the concatenated batches,
    the merge property), and run ``kmv_estimate``. ``k`` must equal the
    ``vocab_k`` the batches were written with (a batch written with a
    smaller k cannot be widened — fail fast on fewer committed rows is
    impossible at this grain, so the contract is the caller's; the
    minhash params-sidecar discipline is overkill for one integer
    documented at the call site). Raises if no committed batch carries
    a sketch — and if ANY committed batch is missing one (a batch
    labeled with ``vocab_k=0`` has no sketch to merge; silently
    skipping it would return an under-count documented as the
    full-corpus answer, and the ``_SUCCESS`` early-return means a
    re-delivery can never backfill it)."""
    from feast_spark.operators.lexical import kmv_estimate, kmv_resketch

    batches = committed_label_batches(state_dir)
    missing = [
        b for b in batches if not os.path.exists(_vocab_dir(state_dir, b))
    ]
    if missing:
        raise ValueError(
            f"committed batches without vocab sketches (labeled with"
            f" vocab_k=0?): {missing} under {state_dir}"
        )
    dirs = [_vocab_dir(state_dir, b) for b in batches]
    if not dirs:
        raise ValueError(f"no committed vocab sketches under {state_dir}")
    u = spark.read.parquet(*dirs)
    return kmv_estimate(kmv_resketch(u, ["role"], k), ["role"], k)


def quality_stream(
    spark: SparkSession,
    stream_turns: DataFrame,
    state_dir: str,
    checkpoint: str,
    cfg: QualityConfig = QualityConfig(),
    decision_ts: datetime | None = None,
    profile: bool = False,
    vocab_k: int = 0,
):
    """Run the quality pipeline under Structured Streaming: every
    micro-batch becomes one :func:`run_quality_batch` batch (id
    ``s<%08d>`` — zero-padded, so lexicographic order is micro-batch
    order and :func:`resolved_labels` resolves correctly).

    Exactly-once composition, the :func:`curate_stream` argument:
    ``foreachBatch`` may re-deliver a micro-batch id after a failure;
    a committed id returns from state, a half-written one left no
    ``_SUCCESS`` so the retry runs clean, and the orphaned feature
    snapshot is absorbed by the as-of tie-break. The streaming
    checkpoint guarantees each source file maps to one micro-batch id;
    the state dir guarantees each id commits once.

    Returns the started ``StreamingQuery``."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        run_quality_batch(
            spark,
            batch_df,
            state_dir,
            f"s{batch_id:08d}",
            cfg,
            decision_ts,
            profile=profile,
            vocab_k=vocab_k,
        )

    return (
        stream_turns.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .start()
    )
