"""Corpus-size scaling study: the same selection/curation operators at
50k vs 500k documents (10x), local[32].

The per-round bench pins absolute walls at 50k (`bench.py docs_large`);
this script answers the 100x question directly: does the wall grow
~linearly with corpus size, or is something super-linear hiding below
the test scale? Operators covered: the curation flagship (span dedup ->
quality -> decontaminate -> DSIR -> sample), span_dedup's xxhash64 scale
arm alone, minhash LSH pair generation + connected components, and the
training-shard export.

Run:  cd /root/repo && python3 scripts/scale_study.py [n_small n_big]
Emits one compact JSON line: per-operator walls at both sizes + the
wall ratio vs the 10x size ratio (ratio/10 <= ~1.3 reads as linear with
log factors; >> that flags a super-linear term).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _corpus(spark, n_docs: int) -> str:
    import bench

    return bench._docs_corpus(spark, n_docs)


def _one_size(spark, n_docs: int) -> dict:
    from pyspark.sql import functions as F

    from feast_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
        release_dedup_caches,
    )
    from feast_spark.operators.selection import span_dedup
    from feast_spark.pipeline.curation import CurationConfig, run_curation
    from feast_spark.pipeline.export import export_training_shards

    docs = spark.read.parquet(_corpus(spark, n_docs)).persist()
    docs.count()
    out: dict = {"n_docs": n_docs}

    t0 = time.time()
    n_span = span_dedup(docs, span_words=10, method="xxhash64").count()
    out["span_dedup_xx"] = {"wall_sec": round(time.time() - t0, 2),
                            "docs_kept": n_span}

    from feast_spark.operators.selection import substring_dedup

    t0 = time.time()
    n_ss = substring_dedup(docs, k=8, method="xxhash64").count()
    out["substring_dedup_xx"] = {"wall_sec": round(time.time() - t0, 2),
                                 "docs_kept": n_ss}

    from feast_spark.operators.bpe import bpe_encode, train_bpe
    from feast_spark.operators.selection import pack_token_sequences

    model = train_bpe(docs.filter(F.col("doc_id") % 10 == 0), num_merges=16)
    t0 = time.time()
    n_seqs = pack_token_sequences(bpe_encode(docs, model), seq_len=512).count()
    out["tokenize_pack"] = {"wall_sec": round(time.time() - t0, 2),
                            "n_seqs": n_seqs}

    # session-6 operators: paragraph dedup (planted shared footer),
    # BM25 retrieval, C4 line cleaning, lexical stats — all must stay
    # ~linear in corpus size
    from feast_spark.operators.bm25 import bm25_topk
    from feast_spark.operators.lexical import lexical_stats
    from feast_spark.operators.lines import clean_lines
    from feast_spark.operators.selection import paragraph_dedup

    footer = "shared boilerplate footer paragraph for every page"
    pdocs = docs.select(
        "doc_id", F.concat("text", F.lit("\n\n" + footer)).alias("text")
    )
    t0 = time.time()
    pagg = paragraph_dedup(pdocs, method="xxhash64").agg(
        F.count(F.lit(1)).alias("docs_out"),
        F.sum(F.col("dedup_text").contains(footer).cast("long")).alias(
            "footer_survivors"
        ),
    ).collect()[0]
    assert pagg["footer_survivors"] == 1, pagg
    out["paragraph_dedup_xx"] = {"wall_sec": round(time.time() - t0, 2),
                                 "docs_out": pagg["docs_out"]}

    w0 = (
        docs.filter(F.col("doc_id") == 0)
        .select(F.split("text", " ").alias("w"))
        .collect()[0]["w"][:6]
    )
    t0 = time.time()
    n_hits = bm25_topk(
        docs, [("q1", " ".join(w0[:3])), ("q2", " ".join(w0[3:6]))], k=10
    ).count()
    out["bm25_topk"] = {"wall_sec": round(time.time() - t0, 2),
                        "hits": n_hits}
    release_dedup_caches()

    # vocab-independent line synthesis: newline after every 8th word, so
    # most docs yield multiple >=3-word lines and doc_ok does real work
    ldocs = docs.select(
        "doc_id",
        F.expr(
            r"regexp_replace(text, '((?:\\S+ ){7}\\S+) ', '$1\n')"
        ).alias("text"),
    )
    t0 = time.time()
    n_ok = clean_lines(ldocs, require_terminal=False).filter("doc_ok").count()
    out["clean_lines"] = {"wall_sec": round(time.time() - t0, 2),
                          "docs_ok": n_ok}
    assert n_ok > 0.9 * n_docs, n_ok

    t0 = time.time()
    n_lex = lexical_stats(docs).count()
    out["lexical_stats"] = {"wall_sec": round(time.time() - t0, 2),
                            "docs": n_lex}
    assert n_lex == n_docs

    # session-7: token-budget carving — budget scales with the corpus so
    # the straddle bucket does real work at both sizes; the exclusive-
    # cum contract (crossing doc included, overshoot <= one doc) is
    # asserted in-study
    from feast_spark.operators.selection import select_token_budget

    tb_budget = n_docs * 40
    scored = docs.withColumn("q", (F.col("doc_id") % 97).cast("long"))
    t0 = time.time()
    tb = select_token_budget(scored, tb_budget, "q").agg(
        F.sum("n_tokens").alias("tot"),
        F.max("n_tokens").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    out["token_budget"] = {"wall_sec": round(time.time() - t0, 2),
                           "docs_kept": int(tb["n"])}
    assert tb["tot"] >= tb_budget, (tb["tot"], tb_budget)
    assert tb["tot"] - tb["mx"] < tb_budget, (tb["tot"], tb["mx"], tb_budget)

    # session-6: FK readability (map-only — must be pure scan cost) and
    # the cross-source overlap matrix (corpus-wide distinct + digest
    # self-join; a planted mirror source carries every 10th doc so
    # n_shared has known mass at both sizes)
    from feast_spark.operators.lexical import readability_scores

    t0 = time.time()
    n_read = readability_scores(docs).count()
    out["readability"] = {"wall_sec": round(time.time() - t0, 2),
                          "docs": n_read}
    assert n_read == n_docs  # fixture text always has words

    from feast_spark.operators.dedup import cross_source_overlap

    mirror = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "source", F.lit("mirror")
    )
    t0 = time.time()
    ov = cross_source_overlap(docs.unionByName(mirror)).collect()
    out["source_overlap"] = {
        "wall_sec": round(time.time() - t0, 2),
        "pairs": len(ov),
        "mirror_shared": sum(
            r["n_shared"] for r in ov if r["source_b"] == "mirror"
            or r["source_a"] == "mirror"
        ),
    }
    # every mirror doc is a verbatim copy: its normalized text must be
    # found in its home source (dup-group collapse makes >= distinct
    # mirror texts, so compare against the distinct mirror side)
    mirror_rows = [r for r in ov if "mirror" in (r["source_a"], r["source_b"])]
    m_total = sum(r["n_shared"] for r in mirror_rows)
    m_size = max(
        (r["n_b"] if r["source_b"] == "mirror" else r["n_a"])
        for r in mirror_rows
    )
    assert m_total >= m_size, (m_total, m_size)

    # byte-grain CDC near-dup: planted 3%-mutated copies share chunk
    # runs; recall must hold at 10x, walls ~linear (the chunk table is
    # map-only; the only shuffles are chunk-keyed)
    from feast_spark.operators.dedup import cdc_neardup_pairs

    t0 = time.time()
    cdc = cdc_neardup_pairs(
        docs, avg_bits=6, min_shared=3, max_chunk_df=8
    ).localCheckpoint()
    n_cdc = cdc.count()
    n_cdc_planted = cdc.filter(
        ((F.col("id_a") % 10 == 0) & ((F.col("id_b") - F.col("id_a")).isin(8, 9)))
        | ((F.col("id_a") % 10 == 8) & (F.col("id_b") == F.col("id_a") + 1))
    ).count()
    out["cdc_neardup"] = {"wall_sec": round(time.time() - t0, 2),
                          "pairs": n_cdc, "planted_found": n_cdc_planted}
    planted = (n_docs // 10) * 3
    assert n_cdc_planted >= 0.95 * planted, (n_cdc_planted, planted)
    assert n_cdc <= 1.02 * n_cdc_planted, (n_cdc, n_cdc_planted)
    cdc.unpersist()
    release_dedup_caches()

    # session-7: threshold-retention profile (shares the signature/
    # bucket/pair kernels; output bounded at num_hashes+1 rows) — the
    # cumulative column must be internally consistent at both sizes
    from feast_spark.operators.dedup import minhash_est_histogram

    t0 = time.time()
    hist = sorted(
        minhash_est_histogram(docs, "doc_id", "text").collect(),
        key=lambda r: r["est_matches"],
    )
    out["minhash_profile"] = {
        "wall_sec": round(time.time() - t0, 2),
        "rows": len(hist),
        "candidates": int(hist[0]["pairs_at_or_above"]) if hist else 0,
    }
    assert len(hist) <= 33, len(hist)
    cums = [r["pairs_at_or_above"] for r in hist]
    assert all(a >= b for a, b in zip(cums, cums[1:])), cums
    assert cums[0] == sum(r["n_pairs"] for r in hist), hist
    release_dedup_caches()

    t0 = time.time()
    pairs = minhash_lsh_pairs(docs, "doc_id", "text").localCheckpoint()
    n_pairs = pairs.count()
    comp = connected_components(pairs.select("id_a", "id_b"))
    n_dup = comp.filter(F.col("id") != F.col("component")).count()
    out["minhash_cc"] = {"wall_sec": round(time.time() - t0, 2),
                         "pairs": n_pairs, "dups_dropped": n_dup}

    # edit-similarity verify over the SAME pair table: cost must stay
    # pair-bounded (wall grows with the PAIR count, not the corpus —
    # the ratio column is the evidence); planted pairs are ~3%-word
    # mutations (edit sim >= ~0.88) so >= 95% of the planted count
    # confirms at 0.8
    from feast_spark.operators.dedup import neardup_verify

    t0 = time.time()
    n_confirmed = (
        neardup_verify(pairs, docs, threshold=0.8, max_chars=2000)
        .filter("is_dup")
        .count()
    )
    out["neardup_verify"] = {"wall_sec": round(time.time() - t0, 2),
                             "confirmed": n_confirmed}
    assert n_confirmed >= 0.95 * (n_docs // 10) * 3, n_confirmed
    release_dedup_caches()

    # session 13: Zipf slope (vocab-bounded after the map-side top-R
    # prune) and threshold heavy hitters (sketch-verify; the exchange
    # carries candidates only). Heavy plant: one ' zzheavy' per doc ->
    # mass = 1/(avg words+1) ~ 1/600 of tokens at EVERY corpus size, so
    # it must qualify at k=2048 (threshold 1/2048) at both sizes.
    from feast_spark.operators.lexical import frequent_terms, zipf_profile

    t0 = time.time()
    zp = zipf_profile(docs, top_r=256).collect()
    out["zipf_profile"] = {"wall_sec": round(time.time() - t0, 2),
                           "n_groups": len(zp)}
    assert all(r["slope_den"] > 0 for r in zp), "degenerate rank curve"
    assert all(1 <= r["n_terms"] <= 256 for r in zp)

    heavy = docs.withColumn(
        "text", F.concat(F.coalesce("text", F.lit("")), F.lit(" zzheavy"))
    )
    n_rows = docs.count()  # corpus carries planted near-dup EXTRA rows
    t0 = time.time()
    ft = frequent_terms(heavy, k=2048).collect()
    out["frequent_terms"] = {"wall_sec": round(time.time() - t0, 2),
                             "n_heavy": len(ft)}
    by_term = {r["term"]: r for r in ft}
    assert "zzheavy" in by_term and by_term["zzheavy"]["cnt"] == n_rows
    n_tok = ft[0]["n_tokens"]
    assert all(r["cnt"] * 2048 > n_tok for r in ft)

    bench_df = docs.filter(F.col("doc_id") % 41 == 0).select(
        F.array_join(F.slice(F.split("text", " "), 1, 12), " ").alias("bench_text")
    )
    # same config bench.py's docs_large section uses: the synthetic-vocab
    # fixture needs relaxed language/stopword/perplexity gates or stage 2
    # drops every document
    from feast_spark.rules import RuleConfig

    cfg = CurationConfig(
        rule_config=RuleConfig(
            allowed_langs=None, min_stopword_ratio=0.0, max_perplexity=1e9
        ),
        target_sources=("web", "wiki"),
        dsir_method="xxhash64",
    )
    t0 = time.time()
    res = run_curation(spark, docs, bench_df, cfg)
    n_kept = res.kept.count()
    out["curation"] = {"wall_sec": round(time.time() - t0, 2), "kept": n_kept}

    t0 = time.time()
    exp = export_training_shards(
        spark, res.kept.withColumnRenamed("dedup_text", "text"),
        F.col("doc_id").cast("string"),
        f"/tmp/feast_spark_scale_export_{n_docs}", n_shards=32,
        method="xxhash64", overwrite=True,
    )
    n_exp = exp.manifest.agg(F.sum("n_docs")).first()[0]
    out["shard_export"] = {"wall_sec": round(time.time() - t0, 2),
                           "docs_exported": int(n_exp)}
    assert n_exp == n_kept
    res.release()
    # session 15: KMV distinct sketch (k-row-per-group summary; the
    # estimate must stay within the deterministic-hash error band at
    # every size) and the stride interleave schedule (two-phase ranks;
    # the prefix-mixture property is size-invariant)
    from feast_spark.operators.lexical import (
        kmv_estimate,
        kmv_sketch,
    )

    t0 = time.time()
    toks = docs.select(
        "source",
        F.explode(
            F.filter(F.split(F.coalesce("text", F.lit("")),
                             "[ \t\n\x0b\f\r]+"),
                     lambda x: x != ""),
        ).alias("term"),
    )
    kv = kmv_estimate(
        kmv_sketch(toks, ["source"], "term", k=1024), ["source"], 1024
    ).collect()
    out["kmv_distinct"] = {"wall_sec": round(time.time() - t0, 2),
                           "n_groups": len(kv)}
    assert all(r["est_distinct"] > 0 for r in kv)

    from feast_spark.operators.selection import (
        bucketed_batches,
        sentence_chunks,
    )

    t0 = time.time()
    sc_ = sentence_chunks(docs, target_words=100)
    n_chunks = sc_.count()
    wall = round(time.time() - t0, 2)
    assert n_chunks > 0
    out["sentence_chunks"] = {"wall_sec": wall, "n_chunks": n_chunks}

    from feast_spark.operators.selection import ws_word_count

    wc_rel = docs.select("doc_id", ws_word_count("text").alias("n_tokens"))
    t0 = time.time()
    bb = bucketed_batches(wc_rel, 32, id_col="doc_id")
    n_bb = bb.count()
    wall = round(time.time() - t0, 2)
    # every positive-count doc is assigned exactly once
    assert n_bb == wc_rel.filter("n_tokens > 0").count()
    out["bucketed_batches"] = {"wall_sec": wall, "n_rows": n_bb}

    from feast_spark.operators.selection import interleave_sources

    srcs = [r["source"] for r in docs.select("source").distinct().collect()]
    wts = {sc: 1 + i % 5 for i, sc in enumerate(sorted(srcs))}
    t0 = time.time()
    il = interleave_sources(docs, wts)
    n_il = il.count()
    wall = round(time.time() - t0, 2)
    # schedule covers every weighted doc exactly once
    assert n_il == docs.count(), (n_il,)
    out["interleave"] = {"wall_sec": wall, "n_rows": n_il}

    docs.unpersist()
    return out


def _one_size_conv(spark, n_convs: int) -> dict:
    """Conversation-grain flagships at scale: curate_conversations with
    PLANTED whole-conversation clones (every clone must drop as a
    near-dup with its original as component representative) and
    pack_conversations with token/mask conservation asserted — the same
    invariants bench.py pins at the per-round size, here at 10x."""
    import bench
    from pyspark.sql import functions as F

    from feast_spark.operators.bpe import train_bpe
    from feast_spark.operators.conversation import pack_conversations
    from feast_spark.pipeline.conv_curation import (
        ConvCurationConfig,
        curate_conversations,
    )

    turns = spark.read.parquet(bench._corpus(spark, n_convs, files=64))
    # plant clones: every 50th conversation duplicated verbatim under a
    # new id that sorts AFTER the original ('_clone' > any digit), so the
    # original is always the component's min-id representative
    originals = turns.filter(F.pmod(F.xxhash64("conv_id"), F.lit(50)) == 0)
    clones = originals.withColumn(
        "conv_id", F.concat("conv_id", F.lit("_clone"))
    )
    n_clones = clones.select("conv_id").distinct().count()
    corpus = turns.unionByName(clones).persist()
    n_turns = corpus.count()
    out: dict = {"n_convs": n_convs, "n_turns": n_turns,
                 "planted_clones": n_clones}

    t0 = time.time()
    res = curate_conversations(
        spark, corpus, ConvCurationConfig(sample_rate=1.0)
    )
    dec = res.decisions.persist()
    n_dec = dec.count()
    wall = round(time.time() - t0, 2)
    clone_rows = dec.filter(F.col("conv_id").endswith("_clone")).persist()
    # exact planted recovery: a clone survives only if its ORIGINAL
    # failed structure/quality (then the clone is the component rep);
    # when both reach stage 3 the clone must drop as near_dup
    clone_near_dup = clone_rows.filter("drop_stage = 'near_dup'").count()
    clone_kept = clone_rows.filter("kept").count()
    assert clone_kept == 0, (clone_kept, n_clones)
    out["conv_curate"] = {
        "wall_sec": wall,
        "n_conversations": n_dec,
        "clones_dropped_near_dup": clone_near_dup,
        "clones_planted": n_clones,
    }
    clone_rows.unpersist()
    dec.unpersist()
    res.release()

    model = train_bpe(
        corpus.filter(F.pmod(F.xxhash64("conv_id"), F.lit(10)) == 0).select(
            F.concat("role", F.lit(": "), F.coalesce("text", F.lit(""))
                     ).alias("text")
        ),
        num_merges=16,
    )
    t0 = time.time()
    pk = pack_conversations(corpus, model, seq_len=512).agg(
        F.count(F.lit(1)).alias("n_seqs"),
        F.sum("n_tokens").alias("tok"),
        F.sum((F.col("n_tokens") < 512).cast("long")).alias("short"),
        F.sum((F.size("token_ids") != F.size("loss_mask")).cast("long")
              ).alias("mask_mismatch"),
        F.sum(F.aggregate("loss_mask", F.lit(0).cast("long"),
                          lambda a, x: a + x)).alias("unmasked"),
    ).collect()[0]
    wall = round(time.time() - t0, 2)
    # conservation at scale: every token carried once (at most one short
    # tail sequence), masks ride 1:1, assistant tokens strictly between
    # none and all
    assert pk["short"] <= 1 and pk["mask_mismatch"] == 0, pk
    assert 0 < pk["unmasked"] < pk["tok"], pk
    out["conv_pack"] = {
        "wall_sec": wall,
        "n_seqs": pk["n_seqs"],
        "n_tokens": int(pk["tok"]),
        "turns_per_sec": round(n_turns / wall, 1),
    }

    # turn-grain cross-conversation dedup at scale: every ELIGIBLE
    # assistant turn of a clone is an exact repeat of its original's
    # (same ts -> same latest-per-key winner), so the planted lower
    # bound on dropped turns is the clones' eligible-turn count; ranks
    # stay bounded by copy counts
    from feast_spark.operators.conversation import turn_dedup

    t0 = time.time()
    td = turn_dedup(corpus, key_method="xxhash64").persist()
    stats = td.agg(
        F.count(F.lit(1)).alias("n_eligible"),
        F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
        F.sum((F.col("copy_rank") > F.col("n_copies")).cast("long")
              ).alias("rank_overflow"),
    ).collect()[0]
    clone_eligible = td.filter(
        F.col("conv_id").endswith("_clone")
    ).count()
    clone_dropped = td.filter(
        F.col("conv_id").endswith("_clone") & ~F.col("keep")
    ).count()
    wall = round(time.time() - t0, 2)
    assert stats["rank_overflow"] == 0, stats
    assert clone_dropped == clone_eligible, (clone_dropped, clone_eligible)
    assert stats["n_dropped"] >= clone_eligible
    out["turn_dedup"] = {
        "wall_sec": wall,
        "n_eligible": int(stats["n_eligible"]),
        "n_dropped": int(stats["n_dropped"]),
        "clone_turns_planted": clone_eligible,
        "clone_turns_dropped": clone_dropped,
        "turns_per_sec": round(n_turns / wall, 1),
    }
    td.unpersist()

    # fork-prefix masking at scale: every planted verbatim '_clone'
    # shares its FULL prefix with the original, every fixture
    # conversation has >= 3 turns, and '_clone' sorts after any digit —
    # so each (orig, clone) pair is a fork group with the original as
    # rep and the clone carrying exactly k=2 masked turns
    from feast_spark.operators.conversation import mask_fork_prefixes

    t0 = time.time()
    fm = mask_fork_prefixes(corpus, k=2).agg(
        F.sum((~F.col("keep_turn")).cast("long")).alias("n_masked"),
        F.count_distinct(
            F.when(~F.col("keep_turn"), F.col("conv_id"))
        ).alias("n_masked_convs"),
        F.count_distinct("fork_md5").alias("n_groups"),
        F.count_distinct(
            F.when(F.col("is_rep"), F.col("conv_id"))
        ).alias("n_reps"),
    ).collect()[0]
    wall = round(time.time() - t0, 2)
    assert int(fm["n_masked"]) == 2 * int(fm["n_masked_convs"]), fm
    assert int(fm["n_reps"]) == int(fm["n_groups"]), fm
    assert int(fm["n_masked_convs"]) >= n_clones, (fm, n_clones)
    out["fork_mask"] = {
        "wall_sec": wall,
        "n_groups": int(fm["n_groups"]),
        "n_masked_turns": int(fm["n_masked"]),
        "clones_planted": n_clones,
        "turns_per_sec": round(n_turns / wall, 1),
    }

    # turn-grain FUZZY near-dup at scale: every 200th conversation
    # cloned under '_near' with ONE word appended to each assistant turn
    # — near- but never exact-duplicates (invisible to turn_dedup). At
    # word-3-gram shingles the planted jaccard is (w-2)/(w-1) >= 0.75
    # for eligible turns (w >= 5), where 32x8 banding recall is ~0.95+;
    # the bound below is deterministic for a fixed corpus/seed.
    from feast_spark.operators.conversation import (
        _norm_text,
        turn_neardup_pairs,
    )

    near_src = turns.filter(F.pmod(F.xxhash64("conv_id"), F.lit(200)) == 0)
    near = near_src.withColumn(
        "text",
        F.when(
            F.col("role") == "assistant",
            F.concat(F.coalesce("text", F.lit("")), F.lit(" edited")),
        ).otherwise(F.col("text")),
    ).withColumn("conv_id", F.concat("conv_id", F.lit("_near")))
    fuzz = turns.unionByName(near).persist()
    fuzz.count()
    # planted eligible pairs: the cloned convs' assistant turns whose
    # ORIGINAL normalized word count >= 5 (the near side then has >= 6),
    # counted on the deduped view the operator itself sees
    from feast_spark.operators.latest import dedup_latest_turns

    dd = dedup_latest_turns(near_src)
    norm = _norm_text("text")
    planted = (
        dd.filter(F.col("role") == "assistant")
        .select(norm.alias("__n"))
        .filter(
            F.when(F.length("__n") == 0, F.lit(0)).otherwise(
                F.size(F.split(F.col("__n"), " "))
            )
            >= 5
        )
        .count()
    )
    t0 = time.time()
    pairs = turn_neardup_pairs(fuzz).persist()
    n_pairs = pairs.count()
    hit = pairs.filter(
        (F.col("conv_b") == F.concat("conv_a", F.lit("_near")))
        & (F.col("idx_a") == F.col("idx_b"))
    ).count()
    wall = round(time.time() - t0, 2)
    out["turn_neardup"] = {
        "wall_sec": wall,
        "n_pairs": n_pairs,
        "planted_eligible": planted,
        "planted_recovered": hit,
        "recall": round(hit / planted, 4) if planted else None,
        "turns_per_sec": round(n_turns / wall, 1),
    }
    assert planted > 0 and hit / planted >= 0.85, out["turn_neardup"]
    pairs.unpersist()
    fuzz.unpersist()

    # context-echo at scale: one conv-keyed exchange, walls ~linear in
    # turns; invariants as in bench's conv_grain section
    from feast_spark.operators.conversation import assistant_echo

    t0 = time.time()
    ae = assistant_echo(corpus, n=3).agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum((F.col("n_echoed") > F.col("n_grams")).cast("long")
              ).alias("echo_overflow"),
        F.max("echo_units").alias("max_units"),
    ).collect()[0]
    wall = round(time.time() - t0, 2)
    assert ae["echo_overflow"] == 0, ae
    assert ae["max_units"] is None or 0 <= int(ae["max_units"]) <= (1 << 20)
    out["assistant_echo"] = {
        "wall_sec": wall,
        "turns_scored": int(ae["n_scored"]),
        "turns_per_sec": round(n_turns / wall, 1),
    }

    # session-6: decode-loop detector (map-only higher-order slice
    # comparisons — must be pure scan cost; loop accounting stays
    # inside each turn at both sizes)
    from feast_spark.operators.conversation import _deduped
    from feast_spark.operators.textqa import suffix_loop_stats

    t0 = time.time()
    sl = suffix_loop_stats(
        _deduped(corpus), id_cols=("conv_id", "turn_idx")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("loop_words") > F.col("n_words")).cast("long")
              ).alias("overflow"),
        F.max("loop_units").alias("max_units"),
    ).collect()[0]
    wall = round(time.time() - t0, 2)
    assert sl["overflow"] == 0, sl
    assert 0 <= int(sl["max_units"]) <= (1 << 20), sl
    out["suffix_loops"] = {
        "wall_sec": wall,
        "turns": int(sl["n_rows"]),
        "turns_per_sec": round(n_turns / wall, 1),
    }

    # session-10: alternation repair + context fit at scale — the
    # training-prep actions. Invariants: merge conserves the deduped
    # turn count, new indices contiguous (checked via max+1 == count),
    # system turns all kept, kept non-system tokens within budget.
    from feast_spark.operators.conversation import (
        fit_context_budget,
        repair_alternation,
    )

    n_dedup = _deduped(corpus).count()
    t0 = time.time()
    ra_df = repair_alternation(corpus)
    ra = ra_df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_merged").alias("merged_total"),
    ).collect()[0]
    wall = round(time.time() - t0, 2)
    assert int(ra["merged_total"]) == n_dedup, (ra, n_dedup)
    bad_idx = (
        ra_df.groupBy("conv_id")
        .agg((F.max("turn_idx") + 1 != F.count(F.lit(1))).alias("bad"))
        .filter("bad")
        .count()
    )
    assert bad_idx == 0, bad_idx
    out["alternation_repair"] = {
        "wall_sec": wall,
        "n_rows": int(ra["n_rows"]),
        "turns_per_sec": round(n_turns / wall, 1),
    }

    t0 = time.time()
    fc_df = fit_context_budget(corpus, 256)
    fc = fc_df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("keep_turn").cast("long")).alias("n_kept"),
        F.sum(
            ((F.col("role") == "system") & ~F.col("keep_turn")).cast("long")
        ).alias("sys_dropped"),
    ).collect()[0]
    wall = round(time.time() - t0, 2)
    assert int(fc["sys_dropped"]) == 0, fc
    over = (
        fc_df.groupBy("conv_id")
        .agg(
            F.sum(
                F.when(F.col("role") == "system", F.col("n_tokens"))
                .otherwise(0)
            ).alias("sys_tot"),
            F.sum(
                F.when(
                    F.col("keep_turn") & (F.col("role") != "system"),
                    F.col("n_tokens"),
                ).otherwise(0)
            ).alias("kept_rest"),
        )
        .filter(F.col("kept_rest") > F.lit(256) - F.col("sys_tot"))
        .count()
    )
    assert over == 0, over
    out["context_fit"] = {
        "wall_sec": wall,
        "kept_frac": round(float(fc["n_kept"]) / float(fc["n_rows"]), 4),
        "turns_per_sec": round(n_turns / wall, 1),
    }

    # session-12: rule threshold sweep + tool argument-key census +
    # timestamp-order repair at scale. Invariants: sweep curve monotone
    # (raising the 'lt' stopword floor only drops turns), n_total = the
    # deduped count every row; tool keys exactly the planted set with
    # coverage <= 2^20; repair conserves the deduped count, re-indexes
    # contiguously, and leaves ZERO ts inversions.
    from feast_spark import rules as _rules
    from feast_spark.operators.conversation import (
        conversation_integrity,
        repair_turn_order,
        tool_arg_key_stats,
    )
    from feast_spark.pipeline.quality import rule_threshold_sweep

    t0 = time.time()
    curve = (
        rule_threshold_sweep(corpus, "stopword_ratio", _rules.RULE_SWEEP_GRID)
        .collect()
    )
    wall = round(time.time() - t0, 2)
    kept_seq = [r["n_kept"] for r in sorted(curve, key=lambda r: r["threshold"])]
    assert all(a >= b for a, b in zip(kept_seq, kept_seq[1:])), kept_seq
    assert all(r["n_total"] == n_dedup for r in curve), (curve[0], n_dedup)
    assert all(r["n_kept"] <= r["n_pass_others"] for r in curve)
    out["rule_sweep"] = {
        "wall_sec": wall,
        "kept_at_min": kept_seq[0],
        "kept_at_max": kept_seq[-1],
        "turns_per_sec": round(n_turns / wall, 1),
    }

    # bound the hash before *13: raw xxhash64 * 13 overflows int64 under
    # ANSI mode
    idx = F.pmod(F.xxhash64("conv_id"), F.lit(1 << 31))
    variant = F.pmod(idx * 13 + F.col("turn_idx"), F.lit(6))
    planted = corpus.withColumn(
        "text",
        F.when(
            F.col("role") == "tool",
            F.when(variant == 0, F.lit('{"status": "ok", "rows": 12}'))
            .when(variant == 1, F.lit('{"status": "error", "msg": "boom"}'))
            .when(variant == 2, F.lit('{"status": "ok", "data": {"x": 1}}'))
            .when(variant == 3, F.lit('{"row_count": 12}'))
            .when(variant == 4, F.lit('{"partial": true'))
            .otherwise(F.lit("plain text output")),
        ).otherwise(F.col("text")),
    )
    t0 = time.time()
    keys = tool_arg_key_stats(planted).collect()
    wall = round(time.time() - t0, 2)
    assert {r["key"] for r in keys} <= {
        "status", "rows", "msg", "data", "row_count"
    }, keys
    assert all(0 <= r["coverage_units"] <= (1 << 20) for r in keys)
    assert all(r["n_calls"] <= r["n_parsed"] for r in keys)
    out["tool_args"] = {
        "wall_sec": wall,
        "n_key_rows": len(keys),
        "turns_per_sec": round(n_turns / wall, 1),
    }

    shifted = corpus.withColumn(
        "ts",
        F.when(
            (F.pmod(F.xxhash64("conv_id"), F.lit(7)) == 0)
            & (F.col("turn_idx") == 2),
            F.col("ts") - F.expr("INTERVAL 1 HOUR"),
        ).otherwise(F.col("ts")),
    )
    t0 = time.time()
    rep = repair_turn_order(shifted)
    ro = rep.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("moved").cast("long")).alias("n_moved"),
    ).collect()[0]
    wall = round(time.time() - t0, 2)
    assert int(ro["n_rows"]) == n_dedup, (ro, n_dedup)
    bad_idx = (
        rep.groupBy("conv_id")
        .agg((F.max("turn_idx") + 1 != F.count(F.lit(1))).alias("bad"))
        .filter("bad")
        .count()
    )
    assert bad_idx == 0, bad_idx
    inversions = (
        conversation_integrity(
            rep.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        )
        .agg(F.sum("n_ts_inversions").alias("s"))
        .collect()[0]["s"]
    )
    assert int(inversions) == 0, inversions
    out["repair_order"] = {
        "wall_sec": wall,
        "n_moved": int(ro["n_moved"]),
        "turns_per_sec": round(n_turns / wall, 1),
    }
    # session 13: writing-script census (map-only regex passes +
    # defect-sized explode) and exact grouped length quantiles (the
    # (role, value) agg bounds the window partitions by distinct word
    # counts, never turns)
    from feast_spark.operators.conversation import turn_length_quantiles
    from feast_spark.operators.textqa import script_mix_stats

    t0 = time.time()
    sm = script_mix_stats(corpus).collect()
    wall = round(time.time() - t0, 2)
    assert all(r["n_chars"] > 0 for r in sm)
    from collections import defaultdict

    share_by_role = defaultdict(int)
    for r in sm:
        share_by_role[r["role"]] += r["share_units"]
    # script classes are disjoint, so per-role shares can never exceed 1
    assert all(v <= (1 << 20) for v in share_by_role.values()), share_by_role
    out["script_mix"] = {
        "wall_sec": wall,
        "n_rows": len(sm),
        "turns_per_sec": round(n_turns / wall, 1),
    }

    t0 = time.time()
    lq = turn_length_quantiles(corpus).collect()
    wall = round(time.time() - t0, 2)
    by_role: dict = {}
    for r in lq:
        by_role.setdefault(r["role"], []).append(
            (r["probe_units"], r["q_value"], r["n_rows"])
        )
    for role, rows in by_role.items():
        rows.sort()
        qs = [q for _, q, _ in rows]
        assert qs == sorted(qs), (role, qs)  # quantiles monotone in p
    # role row counts partition the deduped corpus exactly
    assert sum(rows[0][2] for rows in by_role.values()) == n_dedup
    out["length_quantiles"] = {
        "wall_sec": wall,
        "n_rows": len(lq),
        "turns_per_sec": round(n_turns / wall, 1),
    }

    # session 15: skew diagnostic (the planted mega-convs must surface a
    # salt hint), assistant grounding, tool-loop detector, packing sweep
    # + FFD packing (FFD bins <= the sweep's isolated n_seqs — the
    # waste-reduction pin, held at every size)
    from feast_spark.operators.conversation import (
        assistant_grounding,
        repeated_tool_calls,
    )
    from feast_spark.operators.salting import shuffle_skew_report

    biggest_conv = (
        corpus.groupBy("conv_id").count().agg(F.max("count")).first()[0]
    )
    t0 = time.time()
    sk = shuffle_skew_report(corpus, ["conv_id"], 64).collect()
    wall = round(time.time() - t0, 2)
    assert sum(r["n_rows"] for r in sk) == n_turns
    # non-vacuous hot-key pin that survives any corpus size: the
    # report's global hottest key must be EXACTLY the independently
    # measured biggest conversation (salt_hint is then arithmetic)
    assert max(r["max_key_rows"] for r in sk) == biggest_conv, (
        max(r["max_key_rows"] for r in sk), biggest_conv)
    expected_hint = -(-biggest_conv * 64 // n_turns)
    assert max(r["salt_hint"] for r in sk) == expected_hint
    out["skew_report"] = {
        "wall_sec": wall,
        "max_balance_units": max(r["balance_units"] for r in sk),
        "max_salt_hint": max(r["salt_hint"] for r in sk),
        "turns_per_sec": round(n_turns / wall, 1),
    }

    t0 = time.time()
    gr = assistant_grounding(corpus)
    n_gr = gr.count()
    wall = round(time.time() - t0, 2)
    out["grounding"] = {"wall_sec": wall, "n_rows": n_gr,
                        "turns_per_sec": round(n_turns / wall, 1)}

    t0 = time.time()
    tl = repeated_tool_calls(corpus)
    n_tl = tl.count()
    wall = round(time.time() - t0, 2)
    out["tool_loops"] = {"wall_sec": wall, "n_rows": n_tl,
                         "turns_per_sec": round(n_turns / wall, 1)}

    from feast_spark.operators.selection import pack_best_fit, packing_sweep

    counts = corpus.groupBy("conv_id").agg(
        F.sum(
            F.when(F.length(F.trim(F.coalesce("text", F.lit("")))) == 0, 0)
            .otherwise(F.size(F.split(F.trim(F.coalesce("text", F.lit(""))),
                                      r"\s+")))
        ).cast("long").alias("n_tokens")
    ).persist()
    counts.count()
    t0 = time.time()
    sw = {r["seq_len"]: r
          for r in packing_sweep(counts, [256, 1024, 4096]).collect()}
    wall = round(time.time() - t0, 2)
    assert all(sw[L]["n_pad"] >= 0 for L in sw)
    out["packing_sweep"] = {"wall_sec": wall,
                            "util_1024": sw[1024]["util_units"]}

    fit = counts.filter("n_tokens > 0 and n_tokens <= 1024")
    t0 = time.time()
    pk = pack_best_fit(fit, 1024, id_col="conv_id", bucket_docs=8192)
    n_bins = pk.select("pack_bucket", "pack_bin").distinct().count()
    wall = round(time.time() - t0, 2)
    n_fit = fit.count()
    # FFD combines whole conversations -> never more bins than the
    # one-item-per-sequence isolated layout
    assert n_bins <= n_fit, (n_bins, n_fit)
    out["pack_ffd"] = {"wall_sec": wall, "n_bins": n_bins,
                       "n_items": n_fit}
    counts.unpersist()

    corpus.unpersist()
    return out


def main() -> None:
    import bench

    n_small = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    n_big = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000
    conv_small = int(os.environ.get("SPARK_GRAFT_SCALE_CONVS", "7000"))
    conv_big = conv_small * 10
    spark = bench._session(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    small = _one_size(spark, n_small)
    big = _one_size(spark, n_big)
    csmall = _one_size_conv(spark, conv_small)
    cbig = _one_size_conv(spark, conv_big)
    size_ratio = n_big / n_small
    summary = {
        "n_small": n_small, "n_big": n_big, "size_ratio": size_ratio,
        "small": small, "big": big,
        "conv_small": csmall, "conv_big": cbig,
        "wall_ratio_over_size_ratio": {
            **{
                k: round(big[k]["wall_sec"] / max(small[k]["wall_sec"], 1e-9)
                         / size_ratio, 3)
                for k in ("span_dedup_xx", "substring_dedup_xx",
                          "tokenize_pack", "paragraph_dedup_xx", "bm25_topk",
                          "clean_lines", "lexical_stats", "minhash_cc",
                          "curation", "shard_export", "readability",
                          "source_overlap", "token_budget",
                          "minhash_profile", "zipf_profile",
                          "frequent_terms", "kmv_distinct", "interleave",
                          "sentence_chunks", "bucketed_batches")
            },
            **{
                k: round(
                    cbig[k]["wall_sec"] / max(csmall[k]["wall_sec"], 1e-9)
                    / (cbig["n_turns"] / csmall["n_turns"]), 3)
                for k in ("conv_curate", "conv_pack", "suffix_loops",
                          "fork_mask", "alternation_repair", "context_fit",
                          "rule_sweep", "tool_args", "repair_order",
                          "script_mix", "length_quantiles",
                          "skew_report", "grounding", "tool_loops",
                          "packing_sweep", "pack_ffd")
            },
        },
    }
    print(json.dumps(summary, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
