"""Conversation-level operators over the transcript schema
``(conv_id, turn_idx, role, text, tool, ts)`` — the structural checks and
training-example assembly steps an agent-transcript curation pipeline runs
between scoring (``pipeline/quality.py``) and export (``pipeline/export.py``).

The reference has no transcript operators; these re-express its
*materialization shape* (latest-per-key dedup -> keyed window/agg, one
shuffle on the entity key — ``infra/compute_engines/spark/nodes.py``
dedup node + feature-view aggregations) on the conversation entity:

- :func:`conversation_structure` — per-conversation structural validation
  (role alternation, orphan tool turns, tool-name consistency, empty
  turns). One window + one hash-agg, both keyed on ``conv_id`` — the agg
  reuses the window's exchange, so the whole operator is ONE shuffle.
- :func:`conversation_windows` — token-budgeted training-context
  assembly: for each turn, the maximal contiguous run of preceding turns
  whose total token count fits a budget. Prefix sums via a window, then a
  conv_id-keyed self-join whose per-turn fan-out is bounded by the budget
  (contexts hold at most ``budget / min_tokens_per_turn`` turns), NOT by
  conversation length — a mega-conversation contributes O(turns x
  ctx_len) join rows, never O(turns^2).
- :func:`render_conversations` — flatten each conversation to one
  training string (``role: text`` lines, turn order) with per-turn
  offsets for loss masking. One hash-agg shuffle; the sort happens
  map-side inside ``array_sort`` on each grouped list, never as a global
  sort.

Scale notes (10^12 turns): every operator here shuffles exactly once on
``conv_id``. Group sizes are conversation lengths — bounded (the fixture's
mega-conversations model the skew tail), so no salting is needed; AQE
handles residual partition imbalance. ``render_conversations`` holds one
whole conversation in one grouped row: at 10^12 turns the renderer should
run AFTER :func:`conversation_windows`-style budgeting or chunking
(``selection.chunk_documents``) so no group exceeds executor memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from feast_spark.operators.latest import dedup_latest_turns as _deduped

__all__ = [
    "conversation_structure",
    "conversation_windows",
    "render_conversations",
    "turn_dedup",
    "conversation_repetition",
    "sessionize_turns",
    "conversation_contamination",
    "pii_entity_exposure",
    "reply_latency",
    "tool_transitions",
    "turn_novelty",
    "turn_length_trend",
    "conversation_forks",
    "assistant_templates",
    "role_patterns",
    "turn_neardup_pairs",
    "assistant_echo",
    "conversation_integrity",
    "conversation_language",
    "conversation_pii",
    "pack_conversations",
    "pii_echo",
    "tool_error_stats",
    "mask_fork_prefixes",
    "preference_pairs",
    "repair_alternation",
    "fit_context_budget",
    "system_prompt_census",
    "assistant_refusals",
    "tool_call_json_stats",
    "tool_latency_histogram",
    "tool_arg_key_stats",
    "repair_turn_order",
    "turn_length_quantiles",
    "tool_latency_quantiles",
    "language_script_agreement",
    "assistant_grounding",
    "GROUNDING_PATTERNS",
    "repeated_tool_calls",
    "LANG_SCRIPT_EXPECTATIONS",
]

# ASCII whitespace — identical under Java regex, RE2 (DuckDB) and
# Python re; Java \s is ASCII-only but RE2 \s EXCLUDES \x0b, so the
# explicit class is the only spelling all three engines agree on
_ASCII_WS = "[ \t\n\x0b\f\r]+"


def _norm_text(col: str = "text"):
    """Whitespace-normalized turn text: NULL -> '', ASCII-whitespace
    collapse, trim. NO case folding — Java lowercases ASCII-only under
    (?i) while Python/DuckDB casefold Unicode, so a case-insensitive
    dedup key would be a latent cross-engine divergence."""
    return F.trim(
        F.regexp_replace(F.coalesce(F.col(col), F.lit("")), _ASCII_WS, " ")
    )


def _word_count(col: str):
    """Whitespace token count; 0 for blank/NULL text. Mirrors DuckDB's
    ``len(string_split_regex(trim(text), '\\s+'))`` on non-blank input.
    NULL is coalesced to '' BEFORE the blank test — otherwise the
    ``when`` condition itself evaluates NULL and ``size(split(NULL))``
    propagates a NULL token count the documented contract forbids."""
    t = F.trim(F.coalesce(F.col(col), F.lit("")))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def conversation_structure(
    turns: DataFrame, pre_deduped: bool = False
) -> DataFrame:
    """Per-conversation structural validation flags.

    Returns one row per ``conv_id``:

    - ``n_turns`` — turns after latest-per-key dedup
    - ``n_role_repeats`` — turns whose role equals the previous turn's
      (a user or assistant re-emitting without a reply in between)
    - ``n_orphan_tools`` — ``role='tool'`` turns not directly preceded by
      a ``user`` turn (tool calls answer a user request in this schema)
    - ``n_missing_tool_name`` — tool turns with a NULL ``tool`` column
    - ``n_stray_tool_name`` — non-tool turns carrying a ``tool`` value
    - ``n_empty`` — blank/NULL text turns
    - ``bad_start`` — first role is neither ``user`` nor ``system``
    - ``structure_ok`` — all of the above are zero/false

    Plan: window (lag) and groupBy both partition on ``conv_id`` — one
    exchange total; Catalyst reuses the window's hash partitioning for
    the aggregation."""
    d = turns if pre_deduped else _deduped(turns)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    flagged = d.select(
        "conv_id",
        "turn_idx",
        "role",
        (F.col("role") == F.lag("role").over(w)).alias("_repeat"),
        (
            (F.col("role") == "tool")
            & (F.coalesce(F.lag("role").over(w), F.lit("")) != "user")
        ).alias("_orphan_tool"),
        ((F.col("role") == "tool") & F.col("tool").isNull()).alias("_missing_tool"),
        ((F.col("role") != "tool") & F.col("tool").isNotNull()).alias("_stray_tool"),
        (F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) == 0).alias("_empty"),
    )

    def _n(flag: str):  # count of true flags, BIGINT on both engines
        return F.sum(F.when(F.col(flag), 1).otherwise(0))

    out = flagged.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        _n("_repeat").alias("n_role_repeats"),
        _n("_orphan_tool").alias("n_orphan_tools"),
        _n("_missing_tool").alias("n_missing_tool_name"),
        _n("_stray_tool").alias("n_stray_tool_name"),
        _n("_empty").alias("n_empty"),
        (~F.min_by("role", "turn_idx").isin("user", "system")).alias("bad_start"),
    )
    return out.withColumn(
        "structure_ok",
        (F.col("n_role_repeats") == 0)
        & (F.col("n_orphan_tools") == 0)
        & (F.col("n_missing_tool_name") == 0)
        & (F.col("n_stray_tool_name") == 0)
        & (F.col("n_empty") == 0)
        & ~F.col("bad_start"),
    )


def conversation_windows(turns: DataFrame, token_budget: int = 64) -> DataFrame:
    """Token-budgeted context assembly: for each turn ``i``, the maximal
    contiguous suffix ``j..i`` of its conversation with
    ``sum(tokens[j..i]) <= token_budget``.

    Returns ``(conv_id, turn_idx, n_tokens, ctx_turns, ctx_start,
    ctx_tokens)``; a turn whose own token count exceeds the budget gets an
    empty context (``ctx_turns=0, ctx_start=-1, ctx_tokens=0`` — sentinel,
    never NULL, so int dtypes survive the driver's pandas round-trip).

    Because token counts are positive, ``{j : cum_i - cum_j + tok_j <=
    B}`` is a contiguous suffix of the conversation — the equi-join on
    ``conv_id`` with that predicate enumerates exactly the context
    members, and per-turn fan-out is capped by the budget (not by
    conversation length). One exchange for the prefix-sum window; the
    self-join reuses the conv_id partitioning on both sides."""
    d = _deduped(turns).select(
        "conv_id", "turn_idx", _word_count("text").alias("n_tokens")
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    c = d.withColumn(
        "cum", F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    a = c.select(
        F.col("conv_id"),
        F.col("turn_idx"),
        F.col("n_tokens"),
        F.col("cum").alias("cum_a"),
    ).alias("wa")
    b = c.select(
        F.col("conv_id").alias("b_conv"),
        F.col("turn_idx").alias("b_idx"),
        F.col("n_tokens").alias("b_tok"),
        F.col("cum").alias("cum_b"),
    ).alias("wb")
    pairs = a.join(
        b,
        on=[
            F.col("wa.conv_id") == F.col("wb.b_conv"),
            F.col("b_idx") <= F.col("turn_idx"),
            (F.col("cum_a") - F.col("cum_b") + F.col("b_tok"))
            <= F.lit(int(token_budget)),
        ],
        how="left",
    ).drop("b_conv")
    return (
        pairs.groupBy("conv_id", "turn_idx", "n_tokens")
        .agg(
            F.count("b_idx").alias("ctx_turns"),
            F.coalesce(F.min("b_idx"), F.lit(-1)).cast("int").alias("ctx_start"),
            F.coalesce(F.sum("b_tok"), F.lit(0)).cast("long").alias("ctx_tokens"),
        )
        .select(
            "conv_id",
            "turn_idx",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "ctx_turns",
            "ctx_start",
            "ctx_tokens",
        )
    )


def render_conversations(
    turns: DataFrame, sep: str = "\n", pre_deduped: bool = False
) -> DataFrame:
    """Flatten each conversation to one training string with loss-mask
    offsets.

    Output per ``conv_id``: ``text`` = turns joined as ``role: text`` in
    turn order; ``n_turns``; ``n_chars`` = length of the rendered string;
    ``assistant_spans`` = number of assistant turns (the spans a trainer
    unmasks); ``offsets`` = comma-joined character offsets where each
    turn's line starts (stringified so the driver hash sees a stable
    scalar, not a nested array).

    Offsets are computed algebraically from the same prefix-sum identity
    the renderer uses — ``offset_k = sum_{t<k}(len(role_t) + 2 +
    len(text_t) + len(sep))`` — via ``aggregate`` over the sorted struct
    array, entirely JVM-side (no UDF). ``pre_deduped`` skips the
    internal latest-per-key pass when the caller already ran it."""
    d = (turns if pre_deduped else _deduped(turns)).select(
        "conv_id",
        F.struct(
            F.col("turn_idx"),
            F.col("role"),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
        ).alias("t"),
    )
    g = d.groupBy("conv_id").agg(F.sort_array(F.collect_list("t")).alias("ts"))
    line = "x -> concat(x.role, ': ', x.text)"
    rendered = g.select(
        "conv_id",
        F.array_join(
            F.expr(f"transform(ts, {line})"), sep
        ).alias("text"),
        F.size("ts").cast("long").alias("n_turns"),
        F.expr(
            "size(filter(ts, x -> x.role = 'assistant'))"
        ).cast("long").alias("assistant_spans"),
        # running char offsets: scan over the struct array accumulating
        # line lengths (+sep); emit all but the final accumulator value
        F.expr(
            "array_join(slice(aggregate(ts, array(0L), "
            f"(acc, x) -> concat(acc, array(element_at(acc, -1) + length(x.role) + 2 + length(x.text) + {len(sep)}))"
            "), 1, size(ts)), ',')"
        ).alias("offsets"),
    )
    return rendered.withColumn("n_chars", F.length("text").cast("long"))


def pack_conversations(
    turns: DataFrame,
    model,
    seq_len: int,
    assistant_role: str = "assistant",
    cross_boundaries: bool = True,
) -> DataFrame:
    """The transcript last mile: conversations → fixed-length BPE token
    sequences with a per-token LOSS MASK (1 on assistant-turn tokens,
    0 elsewhere) — what an SFT trainer actually consumes.

    Each deduped turn renders as ``role: text`` (the
    :func:`render_conversations` line format, so the mask covers the
    role prefix too), BPE-encodes through the shared
    :func:`feast_spark.operators.bpe.bpe_encode` kernel, and the
    conversation's turn streams concatenate in ``turn_idx`` order;
    conversations then concatenate in portable md5-hash order —
    ``(int(md5(conv_id)[:12], 16), conv_id)``, the packer's
    ``hash_order`` — and the corpus-wide stream is cut into ``seq_len``
    sequences (conversations
    CROSS boundaries — standard packing) by
    :func:`feast_spark.operators.selection.pack_token_sequences`.

    The mask rides THROUGH the packer without new machinery: each token
    is carried as the single bigint ``id*2 + mask`` (ids are vocab
    indices ≪ 2^62), packed once, and split back map-side — so ids and
    mask can never mis-align, and the packer's one-wide-exchange /
    two-phase-prefix-sum scale shape is reused verbatim. Returns
    ``(seq_id, token_ids, loss_mask, n_tokens, n_convs)``.

    ``cross_boundaries=False`` switches to DOCUMENT-ISOLATED packing:
    each conversation chunks independently (last chunk short, no
    cross-conversation attention leakage), keyed ``(conv_id,
    chunk_idx)`` — map-only past the conv agg, no global numbering.

    Reference: feast has no training-sequence operators; the packing
    semantics follow standard LM pretraining/SFT data pipelines (turn
    masking per public chat-template conventions).
    """
    from feast_spark.operators.bpe import bpe_encode
    from feast_spark.operators.selection import pack_token_sequences

    d = _deduped(turns).select(
        F.struct(
            "conv_id",
            "turn_idx",
            (F.col("role") == assistant_role).cast("long").alias("m"),
        ).alias("__tk"),
        F.concat(
            "role", F.lit(": "), F.coalesce("text", F.lit(""))
        ).alias("__line"),
    )
    enc = bpe_encode(d, model, id_col="__tk", text_col="__line")
    comb = enc.select(
        F.col("__tk.conv_id").alias("conv_id"),
        F.col("__tk.turn_idx").alias("turn_idx"),
        F.transform(
            "token_ids",
            lambda t: t.cast("long") * 2 + F.col("__tk.m"),
        ).alias("comb"),
    )
    conv = comb.groupBy("conv_id").agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("turn_idx", "comb"))),
                lambda s: s["comb"],
            )
        ).alias("token_ids")
    )

    def _split(col_ids, col_mask="loss_mask"):
        return [
            F.transform(
                col_ids, lambda x: F.shiftright(x, 1).cast("int")
            ).alias("token_ids"),
            F.transform(
                col_ids, lambda x: x.bitwiseAND(F.lit(1)).cast("int")
            ).alias(col_mask),
        ]

    if not cross_boundaries:
        # document-isolated packing (no cross-conversation attention):
        # each conversation's stream is chunked independently into
        # ceil(n/seq_len) sequences — the LAST chunk per conversation is
        # short. Map-only past the conv agg: no prefix sum, no wide
        # exchange; sequences are keyed (conv_id, chunk_idx) so no global
        # numbering pass exists to bottleneck. Trades ~half-seq padding
        # waste per conv for leak-free attention, the standard SFT
        # packing alternative.
        n_chunks = F.ceil(
            F.size("token_ids") / F.lit(float(seq_len))
        ).cast("int")
        chunks = (
            conv.filter(F.size("token_ids") > 0)
            .select(
                "conv_id",
                F.posexplode(
                    F.transform(
                        F.sequence(F.lit(1), n_chunks),
                        lambda i: F.slice(
                            "token_ids",
                            (i - 1) * F.lit(seq_len) + 1,
                            F.lit(seq_len),
                        ),
                    )
                ).alias("_pos", "comb"),
            )
        )
        return chunks.select(
            "conv_id",
            (F.col("_pos") + 1).alias("chunk_idx"),  # 1-based, rank-style
            *_split(F.col("comb")),
            F.size("comb").cast("long").alias("n_tokens"),
        )

    # string conv ids: hash_order gives the packer a portable numeric
    # stream order (md5-48bit, conv_id); bucketing is fixed at the
    # hash's top 10 bits (≤1024 buckets), so no bucket-size knob here
    packed = pack_token_sequences(
        conv, seq_len, id_col="conv_id", hash_order=True
    )
    return packed.select(
        "seq_id",
        *_split(F.col("token_ids")),
        "n_tokens",
        F.col("n_docs").alias("n_convs"),
    )


def conversation_pii(turns: DataFrame) -> DataFrame:
    """Per-conversation PII/toxicity exposure: the
    :func:`feast_spark.rules.pii_match_counts` scrub-order counters run
    per deduped turn (map-only Arrow kernel) and aggregate to the
    conversation — total hits per kind, how many turns carried any hit,
    and the flagged-turn fraction. A routing/quality signal at the same
    grain as :func:`feast_spark.pipeline.quality.conversation_features`
    (a PII-heavy conversation is a redaction-review candidate even when
    every individual turn passes the scrub).

    Scale shape: ONE hash aggregation keyed on ``conv_id`` (map-side
    partial combine — mega-conversations pre-reduce inside their map
    tasks); the counting pass is zero-shuffle.
    """
    from feast_spark.rules import SCRUB_PATTERNS, pii_stats

    cols = [f"n_{name}" for name, _, _ in SCRUB_PATTERNS] + ["n_toxicity"]
    d = _deduped(turns).select("conv_id", "text")
    pt = pii_stats(d, id_col="conv_id", id_type="string")
    total = None
    for c in cols:
        total = F.col(c) if total is None else total + F.col(c)
    agg = pt.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        *[F.sum(c).alias(c) for c in cols],
        F.sum((total > 0).cast("long")).alias("n_flagged_turns"),
    )
    return agg.withColumn(
        "flagged_turn_frac",
        F.col("n_flagged_turns").cast("double")
        / F.col("n_turns").cast("double"),
    )


def turn_dedup(
    turns: DataFrame,
    role: str = "assistant",
    min_words: int = 3,
    key_method: str = "portable",
    pre_deduped: bool = False,
) -> DataFrame:
    """Cross-conversation turn-grain exact dedup — the synthetic-SFT
    template killer: the same assistant response pasted into thousands of
    conversations (canned refusals, templated tool summaries, distilled
    teacher outputs) survives every conversation-grain near-dup pass
    because each HOST conversation is unique. Dedup at the turn grain
    marks every repeat of a normalized response beyond its first
    occurrence in ``(conv_id, turn_idx)`` order.

    Scope: only ``role`` turns with at least ``min_words`` whitespace
    words are eligible (short acks — "ok", "done" — legitimately repeat;
    deduping them would gut normal dialogue). Output: one row per
    ELIGIBLE turn — ``(conv_id, turn_idx, n_words, n_copies, copy_rank,
    keep)`` with ``keep`` true iff the turn is its text's first
    occurrence (``copy_rank`` 1) — ready to drive a left-semi/anti join
    back onto the corpus.

    Key arms (span_dedup's pattern): ``portable`` partitions the window
    on the normalized STRING (what the DuckDB oracle replays by
    construction); ``xxhash64`` partitions on the 8-byte hash so the
    exchange carries ~24 B/turn at any corpus size — identical output
    absent 64-bit collisions (parity-pinned in tests).

    Scale shape: role/min-words filters are map-side; ONE exchange keyed
    on the text key, with ``row_number`` + partition ``count`` sharing
    it. Group sizes are duplicate multiplicities — a mega-template with
    millions of copies makes a hot key; AQE skew-split handles it (the
    sort within the group is by (conv_id, turn_idx), cheap).

    Reference: feast has no text operators; semantics follow the public
    exact-dedup family (Lee et al. 2022 dedups at document/span grain —
    this is the same first-occurrence rule at the transcript turn grain).
    """
    d = turns if pre_deduped else _deduped(turns)
    norm = _norm_text("text")
    elig = (
        d.filter(F.col("role") == role)
        .select("conv_id", "turn_idx", norm.alias("__norm"))
        .withColumn(
            "n_words",
            F.when(F.length("__norm") == 0, F.lit(0)).otherwise(
                F.size(F.split(F.col("__norm"), " "))
            ).cast("long"),
        )
        .filter(F.col("n_words") >= int(min_words))
    )
    if key_method == "xxhash64":
        keyed = elig.select(
            "conv_id", "turn_idx", "n_words",
            F.xxhash64("__norm").alias("__k"),
        )
    elif key_method == "portable":
        keyed = elig.withColumnRenamed("__norm", "__k")
    else:
        raise ValueError(f"unknown key_method {key_method!r}")
    w = Window.partitionBy("__k").orderBy("conv_id", "turn_idx")
    return (
        keyed.withColumn("copy_rank", F.row_number().over(w).cast("long"))
        .withColumn(
            "n_copies",
            F.count(F.lit(1)).over(Window.partitionBy("__k")).cast("long"),
        )
        .select(
            "conv_id",
            "turn_idx",
            "n_words",
            "n_copies",
            "copy_rank",
            (F.col("copy_rank") == 1).alias("keep"),
        )
    )


def conversation_repetition(
    turns: DataFrame,
    role: str = "assistant",
    min_repeats: int = 3,
    pre_deduped: bool = False,
) -> DataFrame:
    """Per-conversation self-repetition / agent-loop statistics: an agent
    stuck in a loop re-emits the same (normalized) text turn after turn —
    the transcript-grain analogue of Gopher's duplicate-line fraction,
    and the aggregate view of the quality pipeline's opt-in ``agent_loop``
    rule (this reports run structure for EVERY conversation instead of
    gating individual turns).

    One row per conversation that has at least one ``role`` turn:

    - ``n_role_turns`` — deduped turns with that role
    - ``n_distinct_texts`` — distinct normalized texts among them
    - ``n_consec_repeats`` — turns equal to the previous same-role turn
    - ``max_run`` — longest run of consecutive identical texts
    - ``is_loop`` — ``max_run >= min_repeats``

    Scale shape: ONE exchange keyed ``conv_id``. The lag window, the
    run-id prefix sum, the run-length window (clustered on
    ``(conv_id, run)`` — hash(conv_id) already satisfies it, no second
    exchange) and the final hash-agg all reuse it. ``n_distinct_texts``
    is ``size(collect_set(...))`` — distinct-within-conversation, group
    size bounded by conversation length, so no count-distinct expand.
    """
    d = turns if pre_deduped else _deduped(turns)
    a = d.filter(F.col("role") == role).select(
        "conv_id", "turn_idx", _norm_text("text").alias("__norm")
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    rep = F.coalesce(
        F.col("__norm") == F.lag("__norm").over(w), F.lit(False)
    )
    run = F.sum(F.when(rep, 0).otherwise(1)).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = a.select(
        "conv_id",
        "__norm",
        rep.alias("__rep"),
        run.alias("__run"),
    )
    run_len = F.count(F.lit(1)).over(
        Window.partitionBy("conv_id", "__run")
    )
    out = (
        flagged.withColumn("__run_len", run_len)
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_role_turns"),
            F.size(F.collect_set("__norm")).cast("long").alias(
                "n_distinct_texts"
            ),
            F.sum(F.col("__rep").cast("long")).alias("n_consec_repeats"),
            F.max("__run_len").alias("max_run"),
        )
    )
    return out.withColumn(
        "is_loop", F.col("max_run") >= F.lit(int(min_repeats))
    )


def sessionize_turns(
    turns: DataFrame, gap_minutes: int = 30, pre_deduped: bool = False
) -> DataFrame:
    """Time-gap session segmentation: a conversation's turns split into
    sessions wherever the gap to the previous turn exceeds
    ``gap_minutes`` — the standard sessionization rule (web analytics /
    GA heuristic), applied inside each conversation. Long-lived agent
    threads (the fixture's mega-conversations) are really many sittings;
    downstream context assembly and packing should not attend across a
    week-long silence.

    One row per deduped turn: ``(conv_id, turn_idx, session_idx,
    gap_us, session_start)`` — ``session_idx`` is 1-based per
    conversation, ``gap_us`` the microsecond gap to the previous turn
    (-1 sentinel on each conversation's first turn — never NULL, so
    int dtypes survive the driver's pandas round-trip).

    Scale shape: ONE exchange keyed ``conv_id``; the lag and the
    session-id prefix sum share its sort. Map-only before and after.
    """
    d = turns if pre_deduped else _deduped(turns)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    start = F.coalesce(
        gap > F.lit(int(gap_minutes) * 60_000_000), F.lit(True)
    )
    flagged = d.select(
        "conv_id",
        "turn_idx",
        F.coalesce(gap, F.lit(-1)).alias("gap_us"),
        start.alias("session_start"),
    )
    return flagged.withColumn(
        "session_idx",
        F.sum(F.col("session_start").cast("long")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).select(
        "conv_id", "turn_idx", "session_idx", "gap_us", "session_start"
    )


def conversation_contamination(
    turns: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    bench_text_col: str = "bench_text",
    pre_deduped: bool = False,
) -> DataFrame:
    """Benchmark decontamination at the CONVERSATION grain: a
    conversation is contaminated when any of its turns contains a
    verbatim word ``n``-gram from the benchmark — eval questions leak
    into transcripts through the USER side (someone pasted the benchmark
    prompt at an agent), so the doc-grain pass over rendered text is the
    wrong grain: one row per conversation, counting DISTINCT
    ``(conversation, gram)`` hits across all its turns.

    Tokens are non-empty ASCII-whitespace splits (engine-agnostic — see
    :func:`turn_dedup`'s normalization notes). Returns ``(conv_id,
    n_hit_grams, contaminated)`` with zero-filled misses.

    Scale shape: the benchmark gram set is broadcast (eval suites are
    MBs; the corpus is TBs) — the corpus-side gram stream is never
    shuffled un-pruned; the distinct + count collapse into hash
    aggregations keyed on ``conv_id`` AFTER the broadcast join shrinks
    the stream to hit rows only (selection.contamination_check's shape
    at the transcript grain).
    """
    from feast_spark.operators.selection import word_ngrams

    d = turns if pre_deduped else _deduped(turns)
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), _ASCII_WS),
        lambda x: x != "",
    )
    turn_grams = d.select(
        "conv_id", F.explode(word_ngrams(toks, n)).alias("gram")
    )
    bench_toks = F.filter(
        F.split(F.coalesce(F.col(bench_text_col), F.lit("")), _ASCII_WS),
        lambda x: x != "",
    )
    bench_grams = benchmark.select(
        F.explode(word_ngrams(bench_toks, n)).alias("gram")
    ).distinct()
    hits = (
        turn_grams.join(F.broadcast(bench_grams), "gram")
        .dropDuplicates(["conv_id", "gram"])
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )
    convs = d.select("conv_id").distinct()
    return convs.join(F.broadcast(hits), "conv_id", "left").select(
        "conv_id",
        F.coalesce("n_hit_grams", F.lit(0)).alias("n_hit_grams"),
        (F.coalesce("n_hit_grams", F.lit(0)) > 0).alias("contaminated"),
    )


def pii_entity_exposure(
    turns: DataFrame,
    kinds: tuple = ("email", "phone"),
    pre_deduped: bool = False,
) -> DataFrame:
    """Cross-conversation PII ENTITY exposure: which concrete email /
    phone / ... values appear, in how many distinct conversations, how
    often — the re-identification view the per-turn scrub counters
    (:func:`conversation_pii`) cannot give. An entity recurring across
    many conversations is a shared contact / support address /
    operator's own number: exactly the values a redaction review
    prioritizes, and the ones whose consistent pseudonymization (not
    blanket ``<EMAIL>``) preserves conversational structure.

    Extraction is RAW per kind (``regexp_extract_all`` with the
    :data:`feast_spark.rules.SCRUB_PATTERNS` patterns) — deliberately
    NOT the scrub-order-masked counts: exposure asks "does this value
    occur", not "what would the scrubber do first".

    One row per (kind, entity): ``(kind, entity, n_occurrences,
    n_convs, first_conv, cross_conv)``.

    Scale shape: extraction is a map-only JVM regex pass; the
    ``(kind, entity, conv_id)`` pre-aggregation is ONE map-side-combined
    shuffle whose key includes the conversation — a mega-entity (a
    support address in millions of conversations) is spread across
    reducers at that grain, and only the per-conv partial rows reach the
    second, entity-keyed agg (count-distinct without expand, skew
    pre-reduced).
    """
    from feast_spark.rules import SCRUB_PATTERNS

    pats = {name: pat for name, pat, _ in SCRUB_PATTERNS}
    unknown = [k for k in kinds if k not in pats]
    if unknown:
        raise ValueError(f"unknown PII kinds {unknown}; have {list(pats)}")
    d = turns if pre_deduped else _deduped(turns)
    per_kind = [
        d.select(
            F.lit(k).alias("kind"),
            F.explode(
                F.regexp_extract_all(
                    F.coalesce(F.col("text"), F.lit("")), F.lit(pats[k]), 0
                )
            ).alias("entity"),
            "conv_id",
        )
        for k in kinds
    ]
    ents = per_kind[0]
    for df in per_kind[1:]:
        ents = ents.unionByName(df)
    per_conv = ents.groupBy("kind", "entity", "conv_id").agg(
        F.count(F.lit(1)).alias("n_in_conv")
    )
    per_entity = per_conv.groupBy("kind", "entity").agg(
        F.sum("n_in_conv").alias("n_occurrences"),
        F.count(F.lit(1)).alias("n_convs"),
        F.min("conv_id").alias("first_conv"),
    )
    return per_entity.withColumn("cross_conv", F.col("n_convs") > 1)


def reply_latency(
    turns: DataFrame,
    reply_roles: tuple = ("assistant", "tool"),
    pre_deduped: bool = False,
) -> DataFrame:
    """Per-conversation assistant responsiveness: for every ``user`` turn
    whose NEXT turn (in ``turn_idx`` order) is a reply (role in
    ``reply_roles``), the reply latency is the microsecond gap between
    the two event timestamps. SLO drift and queue backpressure in agent
    fleets show up here first; a curation pass also uses it to drop
    conversations whose replies arrived so much later that they were
    plausibly written without the context in view.

    One row per conversation, all-integer (exact — no float means):
    ``(conv_id, n_user_turns, n_replies, total_latency_us,
    max_latency_us)`` with ``-1`` sentinel max when no reply pairs exist
    (sessionize_turns' int-sentinel discipline: int dtypes survive the
    driver's pandas round-trip). Mean latency is the caller's exact
    ``total/n`` division.

    Scale shape: ONE exchange keyed ``conv_id`` — the lead window and the
    final hash-agg share it (hash(conv_id) partitioning satisfies the
    groupBy). Map-only before and after; mega-conversations are one
    window partition each, bounded by conversation length.
    """
    d = turns if pre_deduped else _deduped(turns)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    nxt_role = F.lead("role").over(w)
    lat = F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
    # coalesce: a conversation-final user turn has NULL lead(role) ->
    # NULL replied; deterministic False keeps the count sums non-NULL
    replied = F.coalesce(
        (F.col("role") == "user") & nxt_role.isin(*reply_roles), F.lit(False)
    )
    per = d.select(
        "conv_id",
        (F.col("role") == "user").alias("__is_user"),
        replied.alias("__replied"),
        F.when(replied, lat).alias("__lat"),
    )
    return per.groupBy("conv_id").agg(
        F.sum(F.col("__is_user").cast("long")).alias("n_user_turns"),
        F.sum(F.col("__replied").cast("long")).alias("n_replies"),
        F.coalesce(F.sum("__lat"), F.lit(0)).cast("long").alias(
            "total_latency_us"
        ),
        F.coalesce(F.max("__lat"), F.lit(-1)).cast("long").alias(
            "max_latency_us"
        ),
    )


def tool_transitions(
    turns: DataFrame, pre_deduped: bool = False
) -> DataFrame:
    """Corpus-level tool-call transition graph: among each conversation's
    tool turns in ``turn_idx`` order, count every ``prev_tool -> tool``
    bigram (``^START`` sentinel for a conversation's first tool call).
    The transition matrix is the behavioral fingerprint of an agent
    fleet — a spiking ``search -> search`` self-edge is the retry-loop
    signature, and a never-taken edge after a prompt change is a
    regression the per-turn rules cannot see.

    One row per observed edge: ``(prev_tool, tool, n_transitions,
    n_convs)``.

    Scale shape: the lag window is ONE exchange keyed ``conv_id`` over
    tool turns ONLY (map-side filtered — tool turns are a small fraction
    of the corpus). The ``(prev_tool, tool, conv_id)`` pre-aggregation
    then reuses pii_entity_exposure's skew discipline: a mega-edge is
    spread across reducers at the conv grain, and only per-conv partial
    rows reach the final edge-keyed agg (count-distinct without expand).
    """
    d = turns if pre_deduped else _deduped(turns)
    t = d.filter(F.col("tool").isNotNull())
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    prev = F.coalesce(F.lag("tool").over(w), F.lit("^START"))
    per_conv = (
        t.select("conv_id", prev.alias("prev_tool"), "tool")
        .groupBy("prev_tool", "tool", "conv_id")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return per_conv.groupBy("prev_tool", "tool").agg(
        F.sum("__n").alias("n_transitions"),
        F.count(F.lit(1)).alias("n_convs"),
    )


def turn_novelty(
    turns: DataFrame, n: int = 8, pre_deduped: bool = False
) -> DataFrame:
    """Per-turn n-gram novelty: of each turn's DISTINCT word ``n``-grams,
    how many occur here FIRST across the whole corpus (global first
    occurrence under the stable ``(conv_id, turn_idx)`` ordering)?
    ``n_novel / n_grams`` is the memorization/freshness lens (novelty
    trending to zero means the corpus is re-ingesting itself — templated
    agent output, mirrored scrapes) and the per-turn complement of the
    aggregate span/substring dedup view: it SCORES repetition instead of
    removing it, so a sampler can downweight stale turns without a hard
    drop.

    Tokens are non-empty ASCII-whitespace splits (turn_dedup's
    engine-agnostic normalization notes). One row per turn with at least
    one ``n``-gram: ``(conv_id, turn_idx, n_grams, n_novel)`` — integer
    counts, exact; turns shorter than ``n`` words carry no grams and no
    row (documented; zero-filling would spend a second conv-keyed join
    for rows the caller treats as no-ops).

    Scale shape: gram explode is map-side; first-occurrence is ONE
    gram-keyed exchange (rank-1 window on the distinct per-turn gram
    stream — WindowGroupLimit prunes nothing here since every row is
    consumed, but the sort key is the 8-byte-ish gram hash partition)
    followed by ONE ``(conv_id, turn_idx)``-keyed hash-agg. No join —
    the novelty bit rides the gram row through both exchanges. At
    10^12 turns the gram stream dominates: swap the raw gram string for
    ``xxhash64(gram)`` upstream of the exchange exactly as span_dedup's
    hash arm does (8 B/gram through the shuffle) — kept as the string
    form here because the oracle compares real grams.
    """
    from feast_spark.operators.selection import word_ngrams

    d = turns if pre_deduped else _deduped(turns)
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), _ASCII_WS),
        lambda x: x != "",
    )
    grams = d.select(
        "conv_id",
        "turn_idx",
        F.explode(F.array_distinct(word_ngrams(toks, n))).alias("gram"),
    )
    first = F.row_number().over(
        Window.partitionBy("gram").orderBy("conv_id", "turn_idx")
    )
    return (
        grams.withColumn("__novel", (first == 1).cast("long"))
        .groupBy("conv_id", "turn_idx")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("__novel").alias("n_novel"),
        )
    )


def turn_length_trend(
    turns: DataFrame, role: str = "assistant", pre_deduped: bool = False
) -> DataFrame:
    """Per-conversation response-length trend: the least-squares slope of
    word count against position among ``role`` turns, kept as the EXACT
    integer numerator/denominator pair (``slope = num/den``; sign(num)
    is the trend when ``den > 0``). Assistant responses shrinking turn
    over turn is the degeneration signature (context exhaustion, an
    agent giving up); steady growth flags padding/rambling — both are
    conversation-shape defects no single-turn rule sees.

    One row per conversation with at least one ``role`` turn:
    ``(conv_id, n_role_turns, total_words, slope_num, slope_den)`` where
    ``slope_num = n*Σ(i·w) − Σi·Σw`` and ``slope_den = n*Σi² − (Σi)²``
    over 0-based positions ``i`` (``den = 0`` iff ``n == 1``). All
    int64: positions and word counts are conversation-bounded, so the
    products sit far under 2^63 even at mega-conversation length.

    Scale shape: ONE exchange keyed ``conv_id`` — row_number window and
    hash-agg share it; map-only word counts (non-empty ASCII-whitespace
    splits, the oracle-portable tokenizer).
    """
    d = turns if pre_deduped else _deduped(turns)
    wc = F.size(
        F.filter(
            F.split(F.coalesce(F.col("text"), F.lit("")), _ASCII_WS),
            lambda x: x != "",
        )
    ).cast("long")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    a = (
        d.filter(F.col("role") == role)
        .select("conv_id", "turn_idx", wc.alias("__w"))
        .withColumn("__i", F.row_number().over(w).cast("long") - 1)
    )
    nn = F.count(F.lit(1))
    return a.groupBy("conv_id").agg(
        nn.alias("n_role_turns"),
        F.sum("__w").alias("total_words"),
        (nn * F.sum(F.col("__i") * F.col("__w")) - F.sum("__i") * F.sum("__w"))
        .alias("slope_num"),
        (nn * F.sum(F.col("__i") * F.col("__i")) - F.sum("__i") * F.sum("__i"))
        .alias("slope_den"),
    )


def conversation_forks(
    turns: DataFrame,
    k: int = 2,
    min_group: int = 2,
    pre_deduped: bool = False,
) -> DataFrame:
    """Shared-prefix fork detection: group conversations whose first
    ``k`` turns are identical (role + whitespace-normalized text, in
    ``turn_idx`` order). Agent fleets re-run the same seed prompt under
    retries, A/B prompt variants and best-of-n sampling; every such
    rerun shares a verbatim prefix, and a curation pass that trains on
    all fork siblings overweights the shared context exactly
    ``n_convs``-fold. This is the conversation-grain complement of
    ``turn_dedup`` (which catches repeated single turns anywhere).

    One row per fork group with at least ``min_group`` members:
    ``(prefix_md5, n_convs, first_conv)`` where ``prefix_md5`` is the
    md5 of the ``role:text`` prefix turns joined by ``\\x1e`` (md5 for
    engine portability — the DuckDB oracle computes the same digest) and
    ``first_conv`` is the group's min conv_id (the canonical member a
    dedup pass would keep). Conversations with fewer than ``k`` turns
    carry no fingerprint (documented: a shorter conversation equal to a
    longer one's prefix is a containment relation, not a fork).

    Scale shape: the ``row_number() <= k`` filter compiles to
    WindowGroupLimit (plan-asserted), so each conversation contributes
    at most ``k`` rows to the conv-keyed exchange MAP-SIDE — a
    mega-conversation's tail never shuffles. The per-conversation
    fingerprint agg reuses that exchange (hash(conv_id) clustering);
    the group agg is a second exchange carrying 32 hex bytes + conv_id
    per conversation. Total: 2 exchanges, both row-bounded.
    """
    d = turns if pre_deduped else _deduped(turns)
    per_conv = _prefix_digest_per_conv(d, k)
    return (
        per_conv.groupBy("prefix_md5")
        .agg(
            F.count(F.lit(1)).alias("n_convs"),
            F.min("conv_id").alias("first_conv"),
        )
        .filter(F.col("n_convs") >= min_group)
    )


def assistant_templates(
    turns: DataFrame,
    role: str = "assistant",
    min_count: int = 2,
    min_words: int = 3,
    pre_deduped: bool = False,
) -> DataFrame:
    """Masked template mining over ``role`` turns: normalize whitespace,
    mask every digit run to ``0``, and count how often each resulting
    template recurs across the corpus. Canned agent responses that embed
    varying numbers — ``"Request completed in 183 ms"``, ``"Found 7
    results"`` — are invisible to exact ``turn_dedup`` (every copy is
    unique text) but collapse to one template here; a high-count
    template is the synthetic-SFT boilerplate signature and a candidate
    for downweighting before training.

    One row per template with at least ``min_count`` occurrences and
    ``min_words`` words: ``(template, n_turns, n_convs, first_conv)``.
    ``n_convs`` is exact distinct conversations via the
    ``(template, conv_id)`` pre-aggregation (pii_entity_exposure's skew
    discipline — a corpus-dominating template is spread across reducers
    at the conv grain and never meets a count-distinct expand).

    Scale shape: map-only normalize/mask, then two hash-agg exchanges
    — ``(template, conv_id)`` and ``template``. The template string
    crosses both exchanges; at 10^12 turns swap it for ``xxhash64``
    upstream and keep ``any_value(template)`` for display, exactly as
    span_dedup's hash arm does (kept as the string form here because
    the oracle compares real templates).
    """
    d = turns if pre_deduped else _deduped(turns)
    tpl = F.regexp_replace(_norm_text(), "[0-9]+", "0")
    base = d.filter(F.col("role") == role).select(
        tpl.alias("template"), "conv_id"
    )
    n_words = F.size(
        F.filter(F.split("template", " "), lambda x: x != "")
    )
    per_conv = (
        base.filter(n_words >= min_words)
        .groupBy("template", "conv_id")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return (
        per_conv.groupBy("template")
        .agg(
            F.sum("__n").alias("n_turns"),
            F.count(F.lit(1)).alias("n_convs"),
            F.min("conv_id").alias("first_conv"),
        )
        .filter(F.col("n_turns") >= min_count)
    )


def role_patterns(
    turns: DataFrame, max_turns: int = 64, pre_deduped: bool = False
) -> DataFrame:
    """Corpus distribution of conversation SHAPES: each conversation's
    role sequence (first ``max_turns`` roles, ``turn_idx`` order,
    comma-joined) grouped and counted. The shape histogram is the
    cheapest whole-fleet regression detector — a prompt change that
    drops the ``user,assistant,tool,assistant`` pattern or spawns a new
    ``user,user,...`` degenerate shape moves mass between rows here
    before any per-turn rule fires.

    One row per observed pattern: ``(role_pattern, n_convs,
    n_turns_total)``, where ``n_turns_total`` sums the FULL conversation
    lengths (not the truncated prefix), so ``n_turns_total >
    len(pattern)*n_convs`` flags patterns whose members run past the
    ``max_turns`` window.

    Scale shape: ONE conv-keyed exchange — the row_number window and the
    per-conversation agg share it; roles past ``max_turns`` enter the
    agg as NULL structs that ``collect_list`` skips, so the grouped
    array is bounded by ``max_turns`` while ``count(*)`` still sees
    every turn. The pattern-keyed agg is a second exchange carrying one
    bounded string per conversation.
    """
    d = turns if pre_deduped else _deduped(turns)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    r = d.select("conv_id", "turn_idx", "role").withColumn(
        "__rn", F.row_number().over(w)
    )
    per_conv = r.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("__n"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__rn") <= max_turns,
                            F.struct("turn_idx", "role"),
                        )
                    )
                ),
                lambda s: s["role"],
            ),
        ).alias("role_pattern"),
    )
    return per_conv.groupBy("role_pattern").agg(
        F.count(F.lit(1)).alias("n_convs"),
        F.sum("__n").alias("n_turns_total"),
    )


def turn_neardup_pairs(
    turns: DataFrame,
    role: str = "assistant",
    min_words: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
    max_bucket_size: int | None = None,
    pre_deduped: bool = False,
) -> DataFrame:
    """Fuzzy near-duplicate detection at the TURN grain — the tolerance
    arm of :func:`turn_dedup`, completing the dedup matrix (conversation
    exact/fuzzy, turn exact, paragraph exact/fuzzy, span, substring,
    byte-CDC): a templated assistant response whose copies differ by a
    date, an id or a reworded sentence defeats exact turn dedup
    (every copy is unique text) and digit masking
    (:func:`assistant_templates` only folds number runs) — MinHash over
    word shingles supplies the general tolerance.

    Returns one row per detected pair: ``(conv_a, idx_a, conv_b, idx_b,
    jaccard)`` with the composite ``conv_id:turn_idx`` key of ``a``
    ordering before ``b`` and ``jaccard`` the exact distinct-shingle-set
    similarity (>= ``jaccard_threshold``). Only ``role`` turns with at
    least ``min_words`` normalized words participate (short acks
    legitimately repeat; at 3-gram shingles a turn needs >= shingle_k
    words to have a signature at all).

    Composition at proven scale shapes: latest-per-key dedup + map-side
    normalize/filter, then :func:`feast_spark.operators.dedup.
    minhash_lsh_pairs` runs unchanged on the composite string id —
    map-side numpy signatures, one-shuffle banded candidate generation
    (``_bucket_pairs``), capped buckets, exact verification. The id
    through the LSH exchanges is the ~20-byte composite string (the
    portable arm the pandas oracle replays 1:1); at 10^12 turns swap it
    for a packed ``xxhash64(conv_id) << idx_bits | turn_idx`` surrogate
    + end-stage map-back join, exactly as ``paragraph_neardup_pairs``
    packs its int64 surrogate and ``turn_dedup``'s xxhash64 arm sheds
    the string before its exchange.

    Reference: feast has no text dedup; the turn grain follows the same
    public lineage as :func:`turn_dedup` (Lee et al. 2022 / Dolma),
    applied to transcript turns.
    """
    from feast_spark.operators.dedup import minhash_lsh_pairs

    d = turns if pre_deduped else _deduped(turns)
    norm = _norm_text("text")
    elig = (
        d.filter(F.col("role") == role)
        .select("conv_id", "turn_idx", norm.alias("__norm"))
        .withColumn(
            "n_words",
            F.when(F.length("__norm") == 0, F.lit(0)).otherwise(
                F.size(F.split(F.col("__norm"), " "))
            ),
        )
        .filter(F.col("n_words") >= int(min_words))
        .select(
            F.concat(
                "conv_id", F.lit(":"), F.col("turn_idx").cast("string")
            ).alias("tid"),
            "__norm",
        )
    )
    pairs = minhash_lsh_pairs(
        elig, "tid", "__norm",
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
        jaccard_threshold=jaccard_threshold, seed=seed,
        max_bucket_size=max_bucket_size,
    )
    pat = "^(.*):(-?[0-9]+)$"
    return pairs.select(
        F.regexp_extract("id_a", pat, 1).alias("conv_a"),
        F.regexp_extract("id_a", pat, 2).cast("int").alias("idx_a"),
        F.regexp_extract("id_b", pat, 1).alias("conv_b"),
        F.regexp_extract("id_b", pat, 2).cast("int").alias("idx_b"),
        "jaccard",
    )


def assistant_echo(
    turns: DataFrame,
    n: int = 3,
    role: str = "assistant",
    units: int = 1 << 20,
    pre_deduped: bool = False,
) -> DataFrame:
    """Context-echo fraction per ``role`` turn: of the turn's DISTINCT
    word ``n``-grams, how many already occur in the IMMEDIATELY
    PRECEDING turn of the same conversation (any role)? Agents that
    paste tool output or parrot the user back produce high-echo
    assistant turns — near-zero-information tokens that per-turn
    quality rules (length, stop-words, perplexity) score as perfectly
    healthy text and that cross-conversation dedup never sees because
    each echo is unique corpus-wide. ``echo_units / units`` is the
    downweight/drop signal.

    One row per ``role`` turn that HAS a predecessor and at least one
    ``n``-gram: ``(conv_id, turn_idx, n_grams, n_echoed, echo_units)``
    with the exact integer ``echo_units = n_echoed * units div
    n_grams`` (engine-portable: no float in the verdict). Tokens are
    non-empty ASCII-whitespace splits (turn_dedup's engine-agnostic
    normalization notes); gram sets are distinct on BOTH sides, so the
    intersection size is order-insensitive.

    Scale shape: gram arrays are built map-side per turn and ride ONE
    ``conv_id``-keyed sort exchange for ``lag`` (plus the shared
    latest-per-key dedup agg upstream — skip it via ``pre_deduped``).
    No self-join: the predecessor's gram set arrives via ``lag`` over
    the already-materialized array. Mega-conversations cost one sort
    run each (arrays stay turn-sized); there is no gram-keyed shuffle
    at all, so corpus growth only widens the conv exchange linearly.

    Reference: feast has no transcript surface (public-pipeline
    operator; the echo lens follows self-repetition analyses of agent
    logs).
    """
    from feast_spark.operators.selection import word_ngrams

    d = turns if pre_deduped else _deduped(turns)
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), _ASCII_WS),
        lambda x: x != "",
    )
    g = d.select(
        "conv_id",
        "turn_idx",
        "role",
        F.array_distinct(word_ngrams(toks, n)).alias("__g"),
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    lg = g.withColumn("__pg", F.lag("__g").over(w))
    n_grams = F.size("__g").cast("long")
    n_echoed = F.size(F.array_intersect("__g", "__pg")).cast("long")
    return (
        lg.filter(
            (F.col("role") == role) & F.col("__pg").isNotNull() & (n_grams > 0)
        )
        .select(
            "conv_id",
            "turn_idx",
            n_grams.alias("n_grams"),
            n_echoed.alias("n_echoed"),
            F.expr(f"(size(array_intersect(__g, __pg)) * cast({units} as bigint)) div size(__g)")
            .alias("echo_units"),
        )
    )


def conversation_language(
    turns: DataFrame, pre_deduped: bool = False
) -> DataFrame:
    """Per-conversation language profile: heuristic langid per turn
    (the shared ``rules.language_id`` kernel — one Arrow pass, same
    determinism contract as the pipeline's ``lang`` column), rolled up
    to ``(conv_id, n_turns, lang_mode, n_langs, n_switches)`` where
    ``n_switches`` counts turn boundaries whose language CHANGES — the
    code-switching lens. A conversation whose turns alternate languages
    is usually a retrieval/translation artifact or an agent answering
    in the wrong language; per-turn language gates pass every turn
    individually and the conv-level ``lang_mode`` alone cannot see the
    alternation.

    ``lang_mode`` uses Spark's deterministic ``mode(lang, true)`` —
    ties resolve to the lexicographically smallest value, matching the
    pipeline's conv-feature contract (SURVEY §7 determinism; the
    DuckDB oracle re-derives the mode via counts + ROW_NUMBER since
    DuckDB's ``mode()`` leaves ties unspecified).

    Scale shape: langid is one map-only Arrow pass over the deduped
    turns; the switch count rides ONE conv_id-keyed sort window and the
    rollup re-aggregates on the same key (AQE reuses the exchange).
    Mega-conversations cost one sort run each — rows are (conv, idx,
    lang) triples, text never enters the window.

    Reference: the pipeline's ``conversation_features`` carries
    ``lang_mode`` (feast-style conv feature); the switch count is the
    corpus-analysis extension (public code-switching literature / CCNet
    per-segment langid practice).
    """
    d = turns if pre_deduped else _deduped(turns)
    sel = d.select("conv_id", "turn_idx", "text")

    def _run(batches):
        import pandas as pd

        from feast_spark import rules

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"],
                    "turn_idx": pdf["turn_idx"],
                    "lang": rules.language_id(pdf["text"]),
                }
            )

    langs = sel.mapInPandas(
        _run, "conv_id string, turn_idx int, lang string"
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    lg = langs.withColumn("__prev", F.lag("lang").over(w))
    return lg.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.expr("mode(lang, true)").alias("lang_mode"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum(
            (
                F.col("__prev").isNotNull() & (F.col("__prev") != F.col("lang"))
            ).cast("long")
        ).alias("n_switches"),
    )


def conversation_integrity(turns: DataFrame) -> DataFrame:
    """Per-conversation key/temporal integrity QA — the ingest-side
    complement of :func:`conversation_structure` (which validates ROLE
    protocol on already-deduped turns; this validates the KEYS and the
    CLOCK of the raw delivery itself).

    An at-least-once collector (the reference's push/stream ingest shape,
    ``infra/materialization`` + push source) delivers duplicate
    ``(conv_id, turn_idx)`` keys; a resumed agent run re-numbers or skips
    turn indices; clock skew between emitting services makes ``ts`` run
    backwards relative to turn order. Each of those breaks a downstream
    assumption (latest-per-key dedup, contiguous packing windows,
    sessionization gaps), so they are surfaced per conversation BEFORE the
    quality pipeline rather than debugged after it.

    One row per ``conv_id``:

    - ``n_rows_raw`` — raw delivered rows (pre-dedup)
    - ``n_turns`` — distinct ``(conv_id, turn_idx)`` keys
    - ``n_dup_keys`` — keys delivered more than once
    - ``first_idx`` — minimum ``turn_idx`` (0 expected)
    - ``n_idx_gaps`` — missing indices inside ``[min_idx, max_idx]``
    - ``n_ts_inversions`` — deduped turns whose latest ``ts`` is STRICTLY
      before the previous turn's (turn_idx order); equality is legal
      (batched writes share a stamp)
    - ``span_ms`` — ``max(ts) - min(ts)`` in milliseconds (BIGINT; exact
      on both engines via epoch-millis, no fractional-second doubles)
    - ``integrity_ok`` — all of the above clean

    Plan: key-grain hash-agg (map-side combine collapses duplicate keys
    before the exchange) -> ``conv_id`` window (lag) -> ``conv_id``
    hash-agg that reuses the window's partitioning — two exchanges total,
    and the second carries one row per TURN KEY, never the raw duplicate
    stream. Group sizes are conversation lengths (mega-conv skew bounded
    by AQE), identical to every other conv-grain operator here; at 10^12
    turns nothing is driver-side and no state outlives the two shuffles.
    """
    key = turns.groupBy("conv_id", "turn_idx").agg(
        F.count(F.lit(1)).cast("long").alias("__copies"),
        F.max("ts").alias("__ts"),
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    k = key.withColumn("__prev_ts", F.lag("__ts").over(w))
    out = k.groupBy("conv_id").agg(
        F.sum("__copies").cast("long").alias("n_rows_raw"),
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum((F.col("__copies") > 1).cast("long")).alias("n_dup_keys"),
        F.min("turn_idx").alias("first_idx"),
        (
            F.max("turn_idx").cast("long")
            - F.min("turn_idx").cast("long")
            + F.lit(1)
            - F.count(F.lit(1))
        ).alias("n_idx_gaps"),
        F.sum(
            (
                F.col("__prev_ts").isNotNull()
                & (F.col("__ts") < F.col("__prev_ts"))
            ).cast("long")
        ).alias("n_ts_inversions"),
        (F.unix_millis(F.max("__ts")) - F.unix_millis(F.min("__ts"))).alias(
            "span_ms"
        ),
    )
    return out.withColumn(
        "integrity_ok",
        (F.col("n_dup_keys") == 0)
        & (F.col("first_idx") == 0)
        & (F.col("n_idx_gaps") == 0)
        & (F.col("n_ts_inversions") == 0),
    )


def pii_echo(
    turns: DataFrame,
    kinds: tuple = ("email", "phone"),
    source_role: str = "user",
    echo_roles: tuple = ("assistant",),
    pre_deduped: bool = False,
) -> DataFrame:
    """Cross-ROLE PII leakage: entities (emails, phones, ...) whose FIRST
    occurrence in a conversation is a ``source_role`` turn and that a
    later ``echo_roles`` turn repeats verbatim. A user pasting their own
    address is expected exposure; the ASSISTANT repeating it back is the
    model amplifying it — post-scrub QA reviews exactly these rows, and
    consistent pseudonymization (``pseudonymize_entities``) is evaluated
    by whether the echo survives as the SAME pseudonym. Neither
    :func:`conversation_pii` (per-turn counters) nor
    :func:`pii_entity_exposure` (cross-conversation recurrence) sees the
    within-conversation role boundary this operator is about.

    One row per ``(conv_id, kind, entity)`` whose first occurrence is a
    ``source_role`` turn: ``first_src_idx`` (that turn), ``n_echoes``
    (occurrences in ``echo_roles`` turns — every one is strictly after
    ``first_src_idx`` by construction, since the first occurrence is the
    source turn), ``first_echo_idx`` (-1 sentinel when never echoed),
    ``echoed``.

    Scale shape: extraction is the map-only JVM ``regexp_extract_all``
    pass shared with the PII family; then ONE hash agg keyed
    ``(conv_id, kind, entity)`` — ``min_by(role, turn_idx)`` resolves the
    introducing role inside the agg (one role per turn key, so ties are
    value-equal), and the echo counters are conditional sums, so no
    window, no join, no second pass over text. Mega-conversation skew is
    bounded by the entity term of the key.
    """
    from feast_spark.rules import SCRUB_PATTERNS

    pats = {name: pat for name, pat, _ in SCRUB_PATTERNS}
    unknown = [k for k in kinds if k not in pats]
    if unknown:
        raise ValueError(f"unknown PII kinds {unknown}; have {list(pats)}")
    d = turns if pre_deduped else _deduped(turns)
    per_kind = [
        d.select(
            "conv_id",
            F.col("turn_idx"),
            "role",
            F.lit(k).alias("kind"),
            F.explode(
                F.regexp_extract_all(
                    F.coalesce(F.col("text"), F.lit("")), F.lit(pats[k]), 0
                )
            ).alias("entity"),
        )
        for k in kinds
    ]
    occ = per_kind[0]
    for df in per_kind[1:]:
        occ = occ.unionByName(df)
    is_echo = F.col("role").isin(*echo_roles)
    agg = occ.groupBy("conv_id", "kind", "entity").agg(
        F.min("turn_idx").alias("first_src_idx"),
        F.min_by("role", "turn_idx").alias("__first_role"),
        F.sum(is_echo.cast("long")).alias("n_echoes"),
        F.coalesce(
            F.min(F.when(is_echo, F.col("turn_idx"))), F.lit(-1)
        ).alias("first_echo_idx"),
    )
    return (
        agg.filter(F.col("__first_role") == source_role)
        .drop("__first_role")
        .withColumn("echoed", F.col("n_echoes") > 0)
    )


# explicit-case alternation, NOT (?i): Java lowercases ASCII-only under
# CASE_INSENSITIVE while DuckDB's RE2 casefolds more — the html_extract
# lesson. Word-ish anchoring via the separator classes keeps "terror"
# or "exceptional" from matching. The boundary classes include \n\r so
# multi-line tool outputs match on interior lines, and — critically for
# cross-engine parity — so the bare `$`/`^` anchors are only ever needed
# at the TRUE ends of the text: Java's `$` (sans MULTILINE) also matches
# before a final line terminator while RE2's matches only at
# end-of-text; with \n in the class that position is covered by the
# class on both engines and the anchors agree byte-for-byte (divergence
# caught by the round-5 review on 'process Failed\n').
TOOL_ERROR_PATTERN = (
    "(^|[ \t\r\n(\\[])([Ee]rror|ERROR|[Ee]xception|[Tt]raceback|"
    "[Ff]ail(ed|ure)?|[Tt]ime[d]? ?out)([ \t\r\n:.,)\\]]|$)"
)


def tool_error_stats(
    turns: DataFrame,
    error_pattern: str = TOOL_ERROR_PATTERN,
    pre_deduped: bool = False,
) -> DataFrame:
    """Per-tool invocation/failure census over ``tool``-role turns — the
    agent-fleet operations lens: a tool whose output is mostly error text
    poisons every conversation that called it, and those turns pass
    per-turn quality rules (error messages are fluent English).
    ``tool_transitions`` profiles call SEQUENCES; this profiles call
    OUTCOMES.

    One row per distinct ``tool`` name: ``n_calls``, ``n_convs`` (exact
    distinct via the ``(tool, conv_id)`` pre-aggregation — the
    pii_entity_exposure skew discipline), ``n_errors`` (output text
    matching ``error_pattern``), ``error_units`` (``n_errors * 2^20 div
    n_calls`` — exact int64 fraction), and ``first_error_conv`` (min
    conv_id among erroring calls; NULL when the tool never errored).

    Scale shape: one map-only JVM ``rlike`` pass, two hash-agg exchanges
    whose keys include/collapse to the tool dimension. The pattern is an
    explicit-case alternation (no ``(?i)``) so Spark's Java regex and the
    DuckDB oracle's RE2 agree byte-for-byte.
    """
    d = turns if pre_deduped else _deduped(turns)
    calls = d.filter(F.col("role") == "tool").select(
        F.coalesce(F.col("tool"), F.lit("<unknown>")).alias("tool"),
        "conv_id",
        F.coalesce(F.col("text"), F.lit(""))
        .rlike(error_pattern)
        .alias("__err"),
    )
    per_conv = calls.groupBy("tool", "conv_id").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("__err").cast("long")).alias("__n_err"),
    )
    agg = per_conv.groupBy("tool").agg(
        F.sum("__n").alias("n_calls"),
        F.count(F.lit(1)).alias("n_convs"),
        F.sum("__n_err").alias("n_errors"),
        F.min(F.when(F.col("__n_err") > 0, F.col("conv_id"))).alias(
            "first_error_conv"
        ),
    )
    # DECIMAL numerator: a pathological fleet tool can log 10^12-scale
    # error counts, where an int64 multiply by 2^20 wraps (the engine's
    # 2^43 rule); IntegralDivide returns BIGINT and the quotient is a
    # fraction <= 2^20
    return agg.withColumn(
        "error_units",
        F.expr(
            f"(CAST(n_errors AS DECIMAL(38,0)) * {1 << 20}) div n_calls"
        ).cast("long"),
    )


def _prefix_digest_per_conv(d: DataFrame, k: int) -> DataFrame:
    """(conv_id, prefix_md5) for every conversation with >= k turns:
    md5 of the first-k ``role:normtext`` turns joined by \\x1e, in
    turn_idx order. WindowGroupLimit bounds each conversation to k rows
    map-side. Shared by conversation_forks and mask_fork_prefixes."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    pre = (
        d.select("conv_id", "turn_idx", "role", _norm_text().alias("__t"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
    )
    return (
        pre.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.array_sort(
                F.collect_list(F.struct("turn_idx", "role", "__t"))
            ).alias("__pfx"),
        )
        .filter(F.col("__n") == k)
        .select(
            "conv_id",
            F.md5(
                F.concat_ws(
                    "\x1e",
                    F.transform(
                        "__pfx",
                        lambda s: F.concat(s["role"], F.lit(":"), s["__t"]),
                    ),
                )
            ).alias("prefix_md5"),
        )
    )


def mask_fork_prefixes(
    turns: DataFrame,
    k: int = 2,
    min_group: int = 2,
    pre_deduped: bool = False,
) -> DataFrame:
    """The curation ACTION for :func:`conversation_forks`' findings:
    annotate every turn so a training pass sees each shared fork prefix
    exactly ONCE. Dropping whole fork siblings (near-dup style) throws
    away their distinct tails — retries and best-of-n continuations are
    real, valuable data; only the shared k-turn prefix is overweighted.
    So: the group's min-conv_id member is the REPRESENTATIVE and keeps
    everything; every other member keeps its tail but has its first k
    turns marked ``keep_turn = false`` (a packer maps that straight onto
    the loss mask, exactly as ``pack_conversations`` masks non-assistant
    turns).

    Output = the deduped turns plus three columns:

    - ``fork_md5`` — the group digest, NULL unless the conversation is in
      a group with >= ``min_group`` members
    - ``is_rep`` — true for every turn of the group's min-conv_id member
      (false, not NULL, outside groups — the column is a filter target)
    - ``keep_turn`` — false exactly on the first-k turns of non-rep group
      members

    Scale shape: the digest pass is conversation_forks' (WindowGroupLimit
    bounds it to k rows per conversation map-side); the group agg carries
    32 hex bytes per conversation. The digest and group relations join
    back to the turn relation on ``conv_id`` with SHUFFLE_HASH pinned —
    both are conversation-DIMENSION-sized (every conversation has a
    digest row), far too big to broadcast at 10^12 turns, and the
    turn-side exchange is the same hash(conv_id) clustering the digest
    window already established.
    """
    d = turns if pre_deduped else _deduped(turns)
    digests = _prefix_digest_per_conv(d, k)
    groups = (
        digests.groupBy("prefix_md5")
        .agg(
            F.count(F.lit(1)).alias("__n_convs"),
            F.min("conv_id").alias("__rep"),
        )
        .filter(F.col("__n_convs") >= min_group)
    )
    conv_flags = (
        digests.join(groups.hint("shuffle_hash"), "prefix_md5", "inner")
        .select(
            "conv_id",
            F.col("prefix_md5").alias("fork_md5"),
            (F.col("conv_id") == F.col("__rep")).alias("is_rep"),
        )
    )
    # rank within the deduped conversation = the SAME first-k positions
    # the digest hashed (row_number over turn_idx); recomputed here on
    # the turn relation so the join carries only 3 small columns
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ranked = d.withColumn("__rn", F.row_number().over(w))
    out = ranked.join(conv_flags.hint("shuffle_hash"), "conv_id", "left")
    return (
        out.withColumn("is_rep", F.coalesce("is_rep", F.lit(False)))
        .withColumn(
            "keep_turn",
            ~(
                F.col("fork_md5").isNotNull()
                & ~F.col("is_rep")
                & (F.col("__rn") <= k)
            ),
        )
        .drop("__rn")
    )


def preference_pairs(
    turns: DataFrame,
    conv_scores: DataFrame,
    k: int = 2,
    score_col: str = "score",
    pre_deduped: bool = False,
) -> DataFrame:
    """Preference-pair (DPO/RLHF) dataset construction from fork groups:
    conversations sharing a verbatim ``k``-turn prefix (retries /
    best-of-n reruns — :func:`conversation_forks`' groups) diverge only
    in their continuations, so a per-conversation quality score turns
    each group into training pairs — the highest-scored member is
    ``chosen``, the lowest ``rejected``, and the shared prefix is the
    prompt both completions condition on. This is the construction step
    every preference-tuning recipe needs and no per-turn filter
    produces.

    ``conv_scores`` is ``(conv_id, <score_col>)`` with an INTEGER score
    (BIGINT — callers quantize floats to units first, the engine-wide
    exactness discipline). One row per fork group that yields a pair:
    ``(prefix_md5, n_convs, chosen_conv, rejected_conv, chosen_score,
    rejected_score, margin)`` with ``margin = chosen - rejected > 0``
    strictly — a group whose members all tie emits nothing (there is no
    preference signal in a tie).

    Determinism: chosen is the lexicographic MAX of ``(score, conv_id)``
    and rejected the MIN, so score ties inside the pair selection break
    on conv_id identically in Spark (struct ordering) and the SQL oracle
    (window rank) — but a chosen/rejected pair only survives when the
    SCORES differ, so the tie-break never manufactures a preference.

    Scale shape: the digest pass is the shared WindowGroupLimit kernel
    (k rows per conversation map-side); scores join the conv-dimension
    digest relation on ``conv_id`` with SHUFFLE_HASH pinned (both sides
    conversation-sized); the group agg carries two 8-byte extrema per
    group. No text ever reaches the pair relation — rendering the
    actual prompt/completion strings is the packer's job
    (:func:`render_conversations` on the winner ids).
    """
    d = turns if pre_deduped else _deduped(turns)
    digests = _prefix_digest_per_conv(d, k)
    scored = digests.join(conv_scores.hint("shuffle_hash"), "conv_id")
    # n_convs counts DISTINCT conversations and the pair filter requires
    # chosen != rejected: a conv_scores relation that (against contract)
    # carries duplicate conv_id rows can otherwise inflate the member
    # count and emit a self-pair with a fabricated margin (round-5
    # review) — with these guards duplicates can at worst duplicate a
    # legitimate extremum, never manufacture a pair
    agg = scored.groupBy("prefix_md5").agg(
        F.count_distinct("conv_id").alias("n_convs"),
        F.max(F.struct(F.col(score_col), F.col("conv_id"))).alias("__hi"),
        F.min(F.struct(F.col(score_col), F.col("conv_id"))).alias("__lo"),
    )
    return (
        agg.filter(
            (F.col("n_convs") >= 2)
            & (F.col("__hi")[score_col] > F.col("__lo")[score_col])
            & (F.col("__hi")["conv_id"] != F.col("__lo")["conv_id"])
        )
        .select(
            "prefix_md5",
            "n_convs",
            F.col("__hi")["conv_id"].alias("chosen_conv"),
            F.col("__lo")["conv_id"].alias("rejected_conv"),
            F.col("__hi")[score_col].alias("chosen_score"),
            F.col("__lo")[score_col].alias("rejected_score"),
            (F.col("__hi")[score_col] - F.col("__lo")[score_col]).alias(
                "margin"
            ),
        )
    )


def repair_alternation(
    turns: DataFrame,
    sep: str = "\n\n",
    pre_deduped: bool = False,
) -> DataFrame:
    """Merge consecutive same-role turns into single turns — the
    alternation REPAIR every strict chat-template trainer needs (SFT
    formats require user/assistant alternation; quality filtering that
    drops individual turns, retry ingestion, and agents that emit several
    messages in a row all leave same-role runs behind).

    After latest-per-key dedup, within each conversation in ``turn_idx``
    order, maximal runs of consecutive turns sharing one ``role`` collapse
    to one output turn:

    - ``turn_idx`` — new contiguous 0-based index (run rank)
    - ``text`` — run texts joined by ``sep`` in original turn order
      (NULL text joins as ``''``)
    - ``tool`` — MIN tool name over the run (order-free deterministic;
      NULLs ignored, NULL when no run member has one). Runs that mix
      tool names are rare (consecutive same-tool retries dominate), and
      an order-free pick keeps the column engine-portable.
    - ``ts_ms`` — epoch millis of the run's earliest ``ts``
    - ``n_merged`` — run length; ``src_first_idx`` — original first index

    Plan (10^12 turns): ONE exchange keyed ``conv_id`` — the lag window,
    the run-id prefix sum, and the ``(conv_id, run)`` hash-agg all reuse
    it (hash(conv_id) already satisfies the grouping clustering). The
    ordered join happens map-side inside ``array_sort`` on each grouped
    run, never as a global sort; group sizes are RUN lengths (<= conv
    length, AQE-bounded like every conv-grain operator here).

    Reference: feast has no transcript surface; this is the
    dedup-then-window materialization shape
    (``infra/compute_engines/spark/nodes.py``) on the run grain.
    """
    d = turns if pre_deduped else _deduped(turns)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    same = F.coalesce(F.col("role") == F.lag("role").over(w), F.lit(False))
    run = F.sum(F.when(same, 0).otherwise(1)).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    base = d.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
        F.coalesce(F.col("text"), F.lit("")).alias("__t"),
    ).withColumn("__run", run)
    agg = base.groupBy("conv_id", "__run").agg(
        F.min("role").alias("role"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("turn_idx", "__t"))),
                lambda s: s["__t"],
            ),
            sep,
        ).alias("text"),
        F.min("tool").alias("tool"),
        F.unix_millis(F.min("ts")).alias("ts_ms"),
        F.count(F.lit(1)).cast("long").alias("n_merged"),
        F.min("turn_idx").cast("int").alias("src_first_idx"),
    )
    return agg.select(
        "conv_id",
        (F.col("__run") - 1).cast("int").alias("turn_idx"),
        "role",
        "text",
        "tool",
        "ts_ms",
        "n_merged",
        "src_first_idx",
    )


def fit_context_budget(
    turns: DataFrame,
    token_budget: int,
    keep_system: bool = True,
    pre_deduped: bool = False,
) -> DataFrame:
    """Tail-fit each conversation to a token budget — the context-window
    FIT every SFT/continued-pretraining pipeline applies before packing:
    keep the system prompt (the behavior contract) plus the LONGEST
    suffix of remaining turns whose whitespace-token total fits what is
    left of the budget.

    Per deduped turn: ``n_tokens`` (whitespace count, 0 for blank/NULL)
    and ``keep_turn``:

    - ``keep_system=True``: every ``role='system'`` turn is kept and its
      tokens are charged against the budget FIRST (a system prompt that
      alone exceeds the budget still ships — the caller chose the
      budget); a non-system turn is kept iff the suffix-sum of non-system
      tokens from the conversation's end back through it fits the
      remainder.
    - ``keep_system=False``: system turns get no pin — one suffix-sum
      over ALL turns.

    Distinct from :func:`conversation_windows` (which assembles a
    per-turn PRECEDING context for every target turn); this emits one
    keep/drop verdict per turn for whole-conversation truncation.

    Plan (10^12 turns): ONE exchange keyed ``conv_id`` — the descending
    suffix-sum window and the all-rows system-token window share the same
    partitioning. All arithmetic is integer.
    """
    if token_budget <= 0:
        raise ValueError("token_budget must be positive")
    d = turns if pre_deduped else _deduped(turns)
    base = d.select(
        "conv_id", "turn_idx", "role", _word_count("text").alias("n_tokens")
    )
    rev = Window.partitionBy("conv_id").orderBy(F.col("turn_idx").desc())
    suffix = rev.rowsBetween(Window.unboundedPreceding, 0)
    if keep_system:
        is_sys = F.col("role") == "system"
        sys_total = F.sum(
            F.when(is_sys, F.col("n_tokens")).otherwise(F.lit(0))
        ).over(
            Window.partitionBy("conv_id").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        revcum = F.sum(
            F.when(is_sys, F.lit(0)).otherwise(F.col("n_tokens"))
        ).over(suffix)
        keep = is_sys | (revcum <= (F.lit(int(token_budget)) - sys_total))
    else:
        revcum = F.sum("n_tokens").over(suffix)
        keep = revcum <= F.lit(int(token_budget))
    return base.withColumn("keep_turn", keep)


def system_prompt_census(
    turns: DataFrame,
    sample_chars: int = 120,
    digest_chars: int = 16,
    pre_deduped: bool = False,
) -> DataFrame:
    """Fleet-wide census of system prompts — which behavior contracts
    dominate the corpus. Agent fleets run a handful of system prompts
    across millions of conversations; their mix shifting between ingest
    batches is the cheapest upstream-regression alarm (a config rollout
    shows up here before any quality metric moves), and training wants
    prompt-stratified sampling weights.

    A conversation's system prompt is the whitespace-normalized text of
    its FIRST ``role='system'`` turn (min ``turn_idx`` after dedup);
    conversations without one fall into the ``<none>`` bucket. One row
    per prompt digest:

    - ``digest`` — first ``digest_chars`` hex of md5(normalized prompt),
      or ``<none>``
    - ``n_convs`` / ``n_turns`` — conversations and total deduped turns
      under that prompt
    - ``sample_text`` — MIN over truncated prompts (order-free
      deterministic representative; NULL for ``<none>``)

    Plan (10^12 turns): conv-grain hash-agg + conv-grain system-prompt
    hash-agg + ONE conv-keyed SHUFFLE_HASH join (both sides are
    conversation-DIMENSION relations — never broadcastable at fleet
    scale, and a wrong-tiny static estimate of the cached python-sourced
    side must not pick a driver-collecting broadcast), then a
    digest-keyed hash-agg whose cardinality is the PROMPT dimension.
    """
    d = turns if pre_deduped else _deduped(turns)
    conv = d.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("__n_turns")
    )
    sys = (
        d.filter(F.col("role") == "system")
        .select("conv_id", "turn_idx", _norm_text("text").alias("__p"))
        .groupBy("conv_id")
        .agg(F.min_by("__p", "turn_idx").alias("__p"))
    )
    joined = conv.join(sys.hint("shuffle_hash"), "conv_id", "left")
    digest = F.when(F.col("__p").isNull(), F.lit("<none>")).otherwise(
        F.substring(F.md5(F.col("__p")), 1, int(digest_chars))
    )
    return (
        joined.select(
            digest.alias("digest"),
            F.col("__n_turns"),
            F.substring(F.col("__p"), 1, int(sample_chars)).alias("__s"),
        )
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_convs"),
            F.sum("__n_turns").cast("long").alias("n_turns"),
            F.min("__s").alias("sample_text"),
        )
    )


# canned refusal / AI-boilerplate openers — the over-refusal lens every
# SFT-distillation cleaning stack applies (training on refusal-heavy
# synthetic data teaches refusal as a style). Literal and case-sensitive
# (these are sentence openers; no (?i) — Java vs Unicode casefold
# discipline).
DEFAULT_REFUSAL_MARKERS = [
    "I'm sorry",
    "I am sorry",
    "I apologize",
    "I cannot",
    "I can't",
    "I'm unable",
    "I am unable",
    "As an AI",
    "as an AI",
    "I won't be able",
    "I don't have the ability",
]


def assistant_refusals(
    turns: DataFrame,
    markers: list[str] | None = None,
    pre_deduped: bool = False,
) -> DataFrame:
    """Per-conversation refusal / boilerplate census over assistant
    turns — the over-refusal lens: canned apologies and "As an AI"
    boilerplate are each unique corpus-wide (cross-conversation dedup
    never fires) and score healthy on length/perplexity rules, yet a
    corpus where 30% of assistant turns open with a refusal teaches
    refusal as a style. One row per conversation WITH assistant turns:

    - ``n_assistant_turns`` — deduped assistant turns
    - ``n_refusal_turns`` — assistant turns containing >= 1 marker
    - ``n_refusal_hits`` — total marker occurrences (each marker counted
      independently — census semantics)
    - ``first_refusal_idx`` — earliest refusing ``turn_idx`` (-1 none)
    - ``refusal_units`` — ``floor(n_refusal_turns * 2^20 /
      n_assistant_turns)`` (integer fraction, engine-portable)

    Plan (10^12 turns): marker counting is the length-difference trick
    (whole-stage codegen, map-only); ONE ``conv_id`` hash-agg exchange.
    """
    ms = list(DEFAULT_REFUSAL_MARKERS if markers is None else markers)
    if not ms or any(not m for m in ms):
        raise ValueError("markers must be non-empty strings")
    from feast_spark.operators.textqa import _count_occurrences

    d = turns if pre_deduped else _deduped(turns)
    t = F.coalesce(F.col("text"), F.lit(""))
    hits = sum(
        (_count_occurrences(t, m) for m in ms[1:]),
        _count_occurrences(t, ms[0]),
    )
    a = d.filter(F.col("role") == "assistant").select(
        "conv_id", "turn_idx", hits.alias("__hits")
    )
    agg = a.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_assistant_turns"),
        F.sum((F.col("__hits") > 0).cast("long")).alias("n_refusal_turns"),
        F.sum("__hits").cast("long").alias("n_refusal_hits"),
        F.coalesce(
            F.min(F.when(F.col("__hits") > 0, F.col("turn_idx"))),
            F.lit(-1),
        ).cast("int").alias("first_refusal_idx"),
    )
    return agg.withColumn(
        "refusal_units",
        F.expr(
            f"(CAST(n_refusal_turns AS DECIMAL(38,0)) * {1 << 20})"
            " div n_assistant_turns"
        ),
    )


def tool_call_json_stats(
    turns: DataFrame,
    status_key: str = "status",
    pre_deduped: bool = False,
) -> DataFrame:
    """Per-tool census of JSON payload health in tool turns — the
    protocol-QA sibling of :func:`tool_error_stats` (that one scans for
    error BANNERS; this one checks whether the payload PARSES). Agent
    frameworks serialize tool results as JSON objects; truncated or
    hand-mangled payloads train the model to emit malformed tool calls.

    One row per tool:

    - ``n_calls`` / ``n_convs`` — deduped tool turns and distinct
      conversations
    - ``n_object_like`` — trimmed payloads starting with ``{``
    - ``n_parsed`` — object-like payloads the JSON parser accepts;
      ``n_malformed`` = object-like - parsed
    - ``n_with_status`` — parsed payloads carrying a non-null
      ``status_key``
    - ``parse_units`` — ``floor(n_parsed * 2^20 / n_object_like)``
      (-1 when no object-like payloads)

    Parser semantics are Spark's Jackson (``get_json_object``): NULL on
    malformed input. NOTE for oracle replays: Jackson and DuckDB's
    yyjson disagree on trailing commas (yyjson accepts) and single-quoted
    strings (Jackson's lenient mode accepts) — deterministic test plants
    must avoid those two shapes; the driver query overwrites tool-turn
    text entirely with controlled variants.

    Plan (10^12 turns): map-only parsing, ``(tool, conv)`` pre-agg then
    tool agg (exact distinct-conv, no count-distinct expand, mega-conv
    skew pre-reduced) — the :func:`tool_error_stats` shape.
    """
    d = turns if pre_deduped else _deduped(turns)
    t = F.coalesce(F.col("text"), F.lit(""))
    obj = F.trim(t).startswith("{")
    parsed = obj & F.get_json_object(t, "$").isNotNull()
    with_status = parsed & F.get_json_object(
        t, f"$.{status_key}"
    ).isNotNull()
    calls = d.filter(F.col("role") == "tool").select(
        F.coalesce(F.col("tool"), F.lit("<unknown>")).alias("tool"),
        "conv_id",
        obj.cast("long").alias("__obj"),
        parsed.cast("long").alias("__parsed"),
        with_status.cast("long").alias("__status"),
    )
    pre = calls.groupBy("tool", "conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__obj").alias("__o"),
        F.sum("__parsed").alias("__p"),
        F.sum("__status").alias("__s"),
    )
    agg = pre.groupBy("tool").agg(
        F.sum("__n").cast("long").alias("n_calls"),
        F.count(F.lit(1)).cast("long").alias("n_convs"),
        F.sum("__o").cast("long").alias("n_object_like"),
        F.sum("__p").cast("long").alias("n_parsed"),
        F.sum("__s").cast("long").alias("n_with_status"),
    )
    return agg.select(
        "tool",
        "n_calls",
        "n_convs",
        "n_object_like",
        "n_parsed",
        (F.col("n_object_like") - F.col("n_parsed")).alias("n_malformed"),
        "n_with_status",
        F.when(F.col("n_object_like") == 0, F.lit(-1))
        .otherwise(
            F.expr(
                f"(CAST(n_parsed AS DECIMAL(38,0)) * {1 << 20})"
                " div n_object_like"
            )
        )
        .cast("long")
        .alias("parse_units"),
    )


def tool_latency_histogram(
    turns: DataFrame, pre_deduped: bool = False
) -> DataFrame:
    """Per-tool RESPONSE-LATENCY histogram from the turn timestamps the
    transcript actually records — the fleet-ops view ``tool_error_stats``
    (outcomes) and ``tool_call_json_stats`` (payload health) don't cover:
    a tool whose p99 quietly moved a log2 bucket is saturating long
    before its error banner rate moves. A tool turn's latency is its
    ``ts`` minus the PREVIOUS turn's ``ts`` (the request -> result gap;
    ``reply_latency`` measures the user -> reply gap at CONVERSATION
    grain — this is the TOOL-dimension histogram).

    Buckets are exact integer log2 of the microsecond latency:
    ``length(bin(lat_us))`` = floor(log2)+1, computed on the INTEGER
    path on both engines (Spark ``bin`` and DuckDB ``bin`` emit the same
    minimal binary string for non-negative int64) — no float log that
    could round a boundary value differently per engine. Non-positive
    latencies (timestamp inversions, edited-turn collisions) land in
    sentinel bucket -1 and are excluded from ``total_ms``.

    One row per (tool, lat_bucket): ``n_calls``, ``total_ms`` (sum of
    per-call ``lat_us div 1000`` over POSITIVE latencies — at 10^12
    calls x 120s ceiling that is ~1.2e17, inside int64), ``min_us``,
    ``max_us``. First-turn tool calls (no request row) are excluded.

    Scale shape: ONE exchange keyed ``conv_id`` for the lag window, then
    a (tool, bucket) hash-agg with map-side combine whose group count is
    bounded by #tools x 64 — dimension-sized at any corpus size.
    """
    d = turns if pre_deduped else _deduped(turns)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    lat = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    calls = (
        d.select("conv_id", "turn_idx", "role", "tool", "ts")
        .withColumn("__lat_us", lat)
        .filter(
            (F.col("role") == "tool")
            & F.col("tool").isNotNull()
            & F.col("__lat_us").isNotNull()
        )
    )
    bucket = F.when(F.col("__lat_us") <= 0, F.lit(-1)).otherwise(
        F.length(F.bin(F.col("__lat_us")))
    )
    ms = F.when(
        F.col("__lat_us") > 0, F.expr("__lat_us div 1000")
    ).otherwise(F.lit(0))
    return (
        calls.select(
            "tool",
            bucket.cast("int").alias("lat_bucket"),
            ms.alias("__ms"),
            "__lat_us",
        )
        .groupBy("tool", "lat_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_calls"),
            F.sum("__ms").cast("long").alias("total_ms"),
            F.min("__lat_us").cast("long").alias("min_us"),
            F.max("__lat_us").cast("long").alias("max_us"),
        )
    )


def tool_arg_key_stats(turns: DataFrame, pre_deduped: bool = False) -> DataFrame:
    """Per-tool census of the TOP-LEVEL KEYS in tool-turn JSON payloads —
    the schema-drift lens :func:`tool_call_json_stats` (does it parse)
    and :func:`tool_error_stats` (does it report errors) don't cover: a
    tool that renames ``rows`` to ``row_count``, starts omitting
    ``status``, or grows a surprise ``debug`` field changes the payload
    contract an agent model trains against long before anything fails to
    parse. Agent fleets hit this on every tool-server rollout.

    Per (tool, key) over deduped ``role='tool'`` turns whose payload is a
    valid JSON OBJECT (Spark ``json_object_keys`` — strict object parse;
    verified engine-parity surface: malformed / non-object / bare-text
    payloads return NULL on BOTH Spark's Jackson path and DuckDB's
    yyjson, ``{}`` returns an empty key list on both):

    - ``n_calls`` — parsed payloads carrying the key
    - ``n_convs`` — distinct conversations doing so
    - ``n_parsed`` — ALL parsed payloads for the tool (the denominator,
      repeated per key row so each row is self-contained)
    - ``coverage_units`` — ``floor(n_calls * 2^20 / n_parsed)``: a key at
      < 2^20 is OPTIONAL or drifting — exactly the alarm wanted.

    Plan (10^12 turns): map-only parse + explode (keys are handfuls, the
    explode is bounded by payload schema size, and the text column never
    survives it), a (tool, key, conv) pre-agg then (tool, key) hash-agg
    (mega-conv skew pre-reduced, exact distinct-conv without expand),
    and a per-tool parsed-count agg joined back BROADCAST — both sides
    of that join are dimension-sized (#tools x #keys).
    """
    d = turns if pre_deduped else _deduped(turns)
    keys = F.json_object_keys(F.coalesce(F.col("text"), F.lit("")))
    parsed = (
        d.filter(F.col("role") == "tool")
        .select(
            F.coalesce(F.col("tool"), F.lit("<unknown>")).alias("tool"),
            "conv_id",
            keys.alias("__keys"),
        )
        .filter(F.col("__keys").isNotNull())
    )
    totals = parsed.groupBy("tool").agg(
        F.count(F.lit(1)).cast("long").alias("n_parsed")
    )
    per_key = (
        parsed.select("tool", "conv_id", F.explode("__keys").alias("key"))
        .groupBy("tool", "key", "conv_id")
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
        .groupBy("tool", "key")
        .agg(
            F.sum("__n").cast("long").alias("n_calls"),
            F.count(F.lit(1)).cast("long").alias("n_convs"),
        )
    )
    return per_key.join(F.broadcast(totals), "tool").select(
        "tool",
        "key",
        "n_calls",
        "n_convs",
        "n_parsed",
        F.expr(
            f"CAST((CAST(n_calls AS DECIMAL(38,0)) * {1 << 20})"
            " div n_parsed AS BIGINT)"
        ).alias("coverage_units"),
    )


def repair_turn_order(turns: DataFrame, pre_deduped: bool = False) -> DataFrame:
    """Re-index each conversation's turns into timestamp order — the
    REPAIR action for the ``ts`` inversions
    :func:`conversation_integrity` detects (multi-writer ingestion,
    clock-skewed agents and backfilled tool results leave ``turn_idx``
    disagreeing with ``ts``; windowing, latency and packing operators
    all assume index order IS conversation order).

    After latest-per-key dedup, turns re-number per conversation by
    ``(ts, turn_idx)`` — the original index breaks exact-``ts`` ties, so
    the repair is STABLE: an already-ordered conversation re-emits
    byte-identically with ``moved = false`` everywhere (pinned by test).

    Output per turn: the six transcript columns with the NEW contiguous
    0-based ``turn_idx``, plus ``src_turn_idx`` and ``moved``
    (``new != src``). Composes with :func:`repair_alternation` (which
    assumes index order = time order) as repair stage 0; running
    :func:`conversation_integrity` on repaired output yields zero
    ``n_ts_inversions`` by construction (pinned by test).

    Plan (10^12 turns): ONE exchange keyed ``conv_id`` shared by the
    dedup and the rank window — same shape as every conv-grain operator
    here.
    """
    d = turns if pre_deduped else _deduped(turns)
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    return (
        d.withColumn("__new", (F.row_number().over(w) - 1).cast("int"))
        .select(
            "conv_id",
            F.col("__new").alias("turn_idx"),
            "role",
            "text",
            "tool",
            "ts",
            F.col("turn_idx").alias("src_turn_idx"),
            (F.col("__new") != F.col("turn_idx")).alias("moved"),
        )
    )


# 25 / 50 / 90 / 99 percent in 2^-20 units — the oracle SQL generates
# its probe dimension from this SAME constant
DEFAULT_LENGTH_PROBES = (262144, 524288, 943718, 1038090)


def turn_length_quantiles(
    turns: DataFrame,
    probe_units: list[int] | None = None,
    pre_deduped: bool = False,
) -> DataFrame:
    """Exact words-per-turn quantiles by role — the distributional
    length lens the mean/stddev in per-turn rules cannot give: a
    healthy corpus has a stable p50/p90/p99 per role (user turns short,
    assistant turns longer, tool output heavy-tailed); a fleet
    regression (runaway tool dumps, one-word assistant collapse) moves
    a tail quantile long before it moves the mean.

    Thin transcript-native wrapper over the generic
    :func:`feast_spark.operators.aggregate.grouped_quantiles` kernel:
    latest-per-key dedup, explicit-ASCII-class word counts (Java ``\\s``
    vs RE2 divergence — the conv_pack-oracle lesson), group = ``role``.
    Default probes = 25/50/90/99 percent in 2^-20 units. Output one row
    per (role, probe): ``(role, probe_units, n_rows, rank, q_value)``.

    Scale shape (10^12 turns): the (role, word-count) hash agg bounds
    everything downstream by DISTINCT word-count values per role (a few
    thousand at any corpus size) — see the kernel docstring.
    """
    from feast_spark.operators.aggregate import grouped_quantiles

    if probe_units is None:
        probe_units = list(DEFAULT_LENGTH_PROBES)
    d = turns if pre_deduped else _deduped(turns)
    wc = d.select(
        "role",
        F.size(
            F.filter(
                F.split(F.coalesce(F.col("text"), F.lit("")), _ASCII_WS),
                lambda x: F.length(x) > 0,
            )
        ).cast("long").alias("n_words"),
    )
    return grouped_quantiles(wc, ["role"], "n_words", probe_units)


def tool_latency_quantiles(
    turns: DataFrame,
    probe_units: list[int] | None = None,
    pre_deduped: bool = False,
) -> DataFrame:
    """Exact per-tool response-latency quantiles in MILLISECONDS — the
    percentile companion of :func:`tool_latency_histogram` (same
    request->result gap, same exclusions): the histogram shows the
    shape, this answers "what IS tool X's p99 now" as one exact integer
    per (tool, probe) that two runs diff bit-for-bit.

    Latency derivation is shared with the histogram: a tool turn's
    ``ts`` minus the previous turn's ``ts``; first-turn calls and
    non-positive gaps (inversions) are EXCLUDED — a broken timestamp is
    not a fast call. Values are quantized to ``lat_us div 1000``
    BEFORE the quantile kernel so the distinct-value cardinality that
    bounds the kernel's window partitions stays ~1.2e5 even for a 120 s
    latency ceiling (microsecond grain would make it corpus-sized);
    the returned ``q_value`` is therefore a millisecond figure. Default
    probes = 50/90/99 percent in 2^-20 units.

    One row per (tool, probe): ``(tool, probe_units, n_rows, rank,
    q_value)`` — the :func:`feast_spark.operators.aggregate
    .grouped_quantiles` contract. Scale: one conv_id exchange for the
    lag window (shared shape with the histogram), then the kernel's
    (tool, ms) hash agg.
    """
    from feast_spark.operators.aggregate import grouped_quantiles

    if probe_units is None:
        probe_units = [524288, 943718, 1038090]
    d = turns if pre_deduped else _deduped(turns)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    lat = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    calls = (
        d.select("conv_id", "turn_idx", "role", "tool", "ts")
        .withColumn("__lat_us", lat)
        .filter(
            (F.col("role") == "tool")
            & F.col("tool").isNotNull()
            & (F.col("__lat_us") > 0)
        )
        .select("tool", F.expr("__lat_us div 1000").alias("__lat_ms"))
    )
    return grouped_quantiles(calls, ["tool"], "__lat_ms", probe_units)


# expected dominant script per language_id label ({en,de,es,fr,zh};
# 'und' deliberately unmapped -> agreement is NULL, not false)
LANG_SCRIPT_EXPECTATIONS: dict[str, str] = {
    "en": "latin",
    "de": "latin",
    "es": "latin",
    "fr": "latin",
    "zh": "han",
}


def language_script_agreement(
    turns: DataFrame,
    expectations: dict[str, str] | None = None,
    pre_deduped: bool = False,
) -> DataFrame:
    """Cross-check the LANGUAGE CLASSIFIER against raw CODEPOINT
    evidence per conversation: ``conversation_language``'s ``lang_mode``
    claims a label from the trained/heuristic model; the dominant
    writing script (most codepoints across the
    ``textqa.SCRIPT_CLASSES`` bands) is what the bytes actually say.
    Disagreement is the mislabel/mojibake alarm neither lens raises
    alone — a conversation whose classifier says ``en`` but whose
    chars are majority-Cyrillic is typically double-decoded cp1252,
    transliteration damage, or a classifier false positive, and every
    downstream language gate then filters it WRONG.

    One row per conversation: ``(conv_id, lang_mode, dominant_script,
    script_chars, expected_script, verdict)`` — ``dominant_script`` by
    codepoint count (ties: lexicographically smallest script, both
    engines), ``verdict`` one of ``'agree'`` / ``'disagree'`` and NULL
    (not ``'disagree'``) when the label has no script expectation
    (``und``) or the conversation has no script codepoints at all. A
    string verdict rather than a nullable boolean: a NULL bool
    round-trips as None on Spark but NaN from DuckDB through pandas,
    which the driver's dtype-sensitive compare rejects.

    Plan (10^12 turns): langid is the shared one-Arrow-pass kernel; the
    script counts are the unicode_anomaly chassis (regex
    length-difference per class, hit-filter before explode) into a
    (conv, script) hash agg; dominance is a WindowGroupLimit-bounded
    rank over <= #classes rows per conversation; the final join is
    conv-dimension keyed and pinned SHUFFLE_HASH (one row per
    conversation — never broadcastable at fleet scale).
    """
    from feast_spark.operators.textqa import SCRIPT_CLASSES

    exp_map = (
        LANG_SCRIPT_EXPECTATIONS if expectations is None else expectations
    )
    d = turns if pre_deduped else _deduped(turns)
    conv_lang = conversation_language(d, pre_deduped=True).select(
        "conv_id", "lang_mode"
    )
    t = F.coalesce(F.col("text"), F.lit(""))
    counts = F.array(
        *[
            F.struct(
                F.lit(k).alias("script"),
                (
                    F.length(t) - F.length(F.regexp_replace(t, pat, ""))
                ).alias("cnt"),
            )
            for k, pat in SCRIPT_CLASSES
        ]
    )
    per_conv = (
        d.select(
            "conv_id", F.filter(counts, lambda s: s["cnt"] > 0).alias("__h")
        )
        .filter(F.size("__h") > 0)
        .select("conv_id", F.explode("__h").alias("__s"))
        .groupBy("conv_id", F.col("__s.script").alias("script"))
        .agg(F.sum("__s.cnt").cast("long").alias("cnt"))
    )
    win = Window.partitionBy("conv_id").orderBy(
        F.col("cnt").desc(), F.col("script")
    )
    dominant = (
        per_conv.withColumn("__r", F.row_number().over(win))
        .filter(F.col("__r") == 1)
        .select(
            "conv_id",
            F.col("script").alias("dominant_script"),
            F.col("cnt").alias("script_chars"),
        )
    )
    expected = F.create_map(
        *[F.lit(x) for kv in sorted(exp_map.items()) for x in kv]
    )
    joined = conv_lang.join(dominant.hint("SHUFFLE_HASH"), "conv_id", "left")
    return joined.select(
        "conv_id",
        "lang_mode",
        "dominant_script",
        F.coalesce("script_chars", F.lit(0)).cast("long").alias(
            "script_chars"
        ),
        F.element_at(expected, F.col("lang_mode")).alias("expected_script"),
        F.when(
            F.element_at(expected, F.col("lang_mode")).isNotNull()
            & F.col("dominant_script").isNotNull(),
            F.when(
                F.element_at(expected, F.col("lang_mode"))
                == F.col("dominant_script"),
                F.lit("agree"),
            ).otherwise(F.lit("disagree")),
        ).alias("verdict"),
    )


# entity kinds assistant_grounding can check: (kind, pattern, min_len).
# Patterns are explicit ASCII classes, no (?i) and no \b — the Java vs
# RE2 casefold/boundary discipline; both engines scan left-to-right
# non-overlapping so the extracted entity streams are byte-identical.
# number: integer or decimal runs, min 2 chars (single digits are list
#         markers / step numbers, not figures); version strings
#         contribute their components ('2.5.1' -> '2.5', '1').
# url:    scheme-anchored raw grab to the next ASCII whitespace —
#         trailing punctuation rides along (documented; the grounding
#         comparison is exact-string so both sides carry it equally).
GROUNDING_PATTERNS: list[tuple[str, str, int]] = [
    ("number", r"[0-9]+(?:\.[0-9]+)?", 2),
    ("url", r"https?://[^ \t\n\x0b\f\r]+", 1),
]


def assistant_grounding(
    turns: DataFrame,
    kinds: tuple[str, ...] = ("number", "url"),
    units: int = 1 << 20,
    pre_deduped: bool = False,
) -> DataFrame:
    """Fabricated-figure / fabricated-link detector: for every assistant
    turn, which of its concrete entities (numbers, URLs) were GROUNDED —
    introduced by an earlier non-assistant turn of the same conversation
    (the user asked about them, or a tool returned them) — and which
    appear out of thin air. An agent that invents "$1,234" or cites a
    URL no tool ever returned produces turns that per-turn quality rules
    score healthy, that dedup never sees (each fabrication is unique),
    and that assistant_echo misses when the fabrication does NOT echo
    the preceding turn. The within-conversation directional complement
    of ``pii_echo`` (there: user-introduced entities the assistant
    repeats = leakage; here: assistant entities NO earlier turn
    introduced = fabrication risk).

    Contract: entities are the DISTINCT per-turn matches of
    :data:`GROUNDING_PATTERNS` (exact string grain — '42' and '42.0'
    are different entities). An assistant occurrence at ``turn_idx`` is
    grounded iff some turn with role != 'assistant' and STRICTLY
    smaller ``turn_idx`` contains the same (kind, entity) — an
    assistant inventing a number and repeating it later does not
    ground itself. One row per (assistant turn, kind) with >= 1
    entity: ``(conv_id, turn_idx, kind, n_entities, n_grounded,
    ungrounded_units)``; ``ungrounded_units`` is the exact integer
    fraction ``(n_entities - n_grounded) * units div n_entities``
    (per-turn counts are bounded by turn length, so plain int64).

    Scale shape at 10^12 turns: extraction is one map-only JVM
    ``regexp_extract_all`` pass per kind (entity stream is
    defect-sized — rows explode only where entities exist); first-source
    resolution is ONE (conv, kind, entity)-keyed map-side-combined hash
    agg; assistant occurrences join that relation on the same key with
    SHUFFLE_HASH pinned (the entity relation is corpus-scaled — never
    broadcastable; Catalyst's static estimate of a cached python-sourced
    subtree cannot be trusted to know that, the minhash lesson); the
    final (conv, turn, kind) agg reuses defect-sized rows. Text never
    survives extraction.

    Reference: feast has no cross-turn surface; the rule-engine shape
    this extends is ``labeling/conflict_resolver.py``'s per-key
    resolution restated at the (conv, entity) grain.
    """
    pats = [t for t in GROUNDING_PATTERNS if t[0] in kinds]
    unknown = set(kinds) - {k for k, _, _ in GROUNDING_PATTERNS}
    if unknown or not pats:
        raise ValueError(
            f"unknown kinds {sorted(unknown)}; available: "
            f"{[k for k, _, _ in GROUNDING_PATTERNS]}"
        )

    d = turns if pre_deduped else _deduped(turns)
    txt = F.coalesce(F.col("text"), F.lit(""))
    arms = F.array(
        *[
            F.struct(
                F.lit(k).alias("kind"),
                F.array_distinct(
                    F.filter(
                        F.regexp_extract_all(txt, F.lit(p), F.lit(0)),
                        lambda x: F.length(x) >= F.lit(ml),
                    )
                ).alias("ents"),
            )
            for k, p, ml in pats
        ]
    )
    ents = (
        d.select("conv_id", "turn_idx", "role", F.explode(arms).alias("ke"))
        .select(
            "conv_id",
            "turn_idx",
            "role",
            F.col("ke.kind").alias("kind"),
            F.explode("ke.ents").alias("ent"),
        )
    )
    src = ents.groupBy("conv_id", "kind", "ent").agg(
        F.min(
            F.when(F.col("role") != "assistant", F.col("turn_idx"))
        ).alias("__first_src_idx")
    )
    a = ents.filter(F.col("role") == "assistant")
    j = a.join(src.hint("SHUFFLE_HASH"), ["conv_id", "kind", "ent"])
    grounded = (
        F.col("__first_src_idx").isNotNull()
        & (F.col("__first_src_idx") < F.col("turn_idx"))
    ).cast("long")
    agg = j.groupBy("conv_id", "turn_idx", "kind").agg(
        F.count(F.lit(1)).cast("long").alias("n_entities"),
        F.sum(grounded).alias("n_grounded"),
    )
    return agg.select(
        "conv_id",
        "turn_idx",
        "kind",
        "n_entities",
        "n_grounded",
        F.expr(
            f"((n_entities - n_grounded) * {int(units)}) div n_entities"
        ).alias("ungrounded_units"),
    )


def repeated_tool_calls(
    turns: DataFrame,
    min_calls: int = 2,
    pre_deduped: bool = False,
) -> DataFrame:
    """Stuck-agent / polling-loop detector: identical tool payloads
    repeated WITHIN one conversation. An agent stuck retrying the same
    failing call, or polling an unchanged resource, emits tool turns
    whose payloads are verbatim-identical but non-consecutive — so
    :func:`conversation_repetition` (identical CONSECUTIVE turns) and
    :func:`turn_dedup` (cross-conversation, assistant-grain) both miss
    them, while the wasted calls inflate tool-latency mass and teach
    the model that repeating a call is normal.

    Payload identity is the md5-16 digest of the whitespace-normalized
    text (:func:`_norm_text` — turn_dedup's engine-agnostic
    normalization, NO case fold); empty/NULL payloads are excluded
    (orphan empty tool turns are conversation_structure's finding, not
    a repeat signal). One row per (conv_id, tool, call_digest) with
    ``n_calls >= min_calls``: ``(conv_id, tool, call_digest, n_calls,
    first_idx, last_idx)`` — ``last_idx - first_idx + 1 > n_calls``
    distinguishes spread-out polling from a tight retry burst.

    Scale shape: map-only digesting (text never survives it), ONE
    (conv, tool, digest)-keyed map-side-combined hash agg, defect-sized
    output. Reference: feast has no tool surface; the per-key census
    chassis matches ``tool_error_stats``.
    """
    if min_calls < 2:
        raise ValueError(f"min_calls must be >= 2: {min_calls}")
    d = turns if pre_deduped else _deduped(turns)
    calls = d.filter(
        (F.col("role") == "tool") & F.col("tool").isNotNull()
    ).select(
        "conv_id",
        "tool",
        "turn_idx",
        _norm_text("text").alias("__norm"),
    ).filter(F.length("__norm") > 0)
    agg = (
        calls.select(
            "conv_id",
            "tool",
            "turn_idx",
            F.substring(F.md5("__norm"), 1, 16).alias("call_digest"),
        )
        .groupBy("conv_id", "tool", "call_digest")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_calls"),
            F.min("turn_idx").alias("first_idx"),
            F.max("turn_idx").alias("last_idx"),
        )
    )
    return agg.filter(F.col("n_calls") >= min_calls)
