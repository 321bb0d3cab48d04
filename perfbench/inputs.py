"""Seeded inputs for the benchmark, generated once per (size, seed).

The corpus is :func:`feast_spark.fixtures.gen_conversation` output, which
the fixture module guarantees is bit-identical to
``transcripts_spark(seed=...)`` at any parallelism; generating it in a
small process pool keeps the Spark session (and its JIT state) out of
input generation. Each cache entry holds:

- ``transcripts/``: the raw corpus, one parquet file per 500
  conversations (so every file carries one mega-conversation);
- ``versions/``: a conversation-feature source with one version every
  ``VERSION_EVERY`` deduped turns, each with ``ts`` and ``created_ts``;
- ``qf_expected.parquet``: :func:`oracle_labels` over a fixed sample of
  whole conversations that includes a mega-conversation;
- ``pit_expected.parquet``: per-conversation ``merge_asof`` of every raw
  turn against the versions;
- ``meta.json``: measured input properties; ``_COMPLETE`` marks the end.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
import time
from dataclasses import dataclass
from datetime import datetime, timezone
from pathlib import Path

import numpy as np
import pandas as pd

N_CONVS = 3000
MEGA_EVERY = 500
MEGA_TURNS = 1200
DUP_PROB = 0.02
VERSION_EVERY = 5
SAMPLE_CONVS = 60  # regular conversations in the checked sample
DECISION_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)
FEATURES = ["n_turns", "tool_share", "mean_chars", "last_role"]
CACHE_FORMAT = 3
MARKER = "_COMPLETE"


@dataclass(frozen=True)
class Inputs:
    dir: Path
    meta: dict

    @property
    def transcripts(self) -> str:
        return str(self.dir / "transcripts")

    @property
    def versions(self) -> str:
        return str(self.dir / "versions")

    def expected(self, name: str) -> pd.DataFrame:
        return pd.read_parquet(self.dir / f"{name}_expected.parquet")


def _gen_chunk(job: tuple[int, int, int]) -> pd.DataFrame:
    from feast_spark.fixtures import gen_conversation

    lo, hi, seed = job
    return pd.concat(
        [gen_conversation(i, seed, MEGA_EVERY, MEGA_TURNS, DUP_PROB) for i in range(lo, hi)],
        ignore_index=True,
    )


def feature_versions(deduped: pd.DataFrame) -> pd.DataFrame:
    """One feature row per ``VERSION_EVERY`` turns of each conversation:
    running turn count, tool-call share, mean text length and last role."""
    d = deduped.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    g = d.groupby("conv_id", sort=False)
    pos = g.cumcount()
    n = pos + 1
    tool_share = g["tool"].transform(lambda t: t.notna().cumsum()) / n
    mean_chars = d["text"].str.len().groupby(d["conv_id"], sort=False).cumsum() / n
    at = (pos % VERSION_EVERY) == VERSION_EVERY - 1
    return pd.DataFrame(
        {
            "conv_id": d["conv_id"][at],
            "ts": d["ts"][at],
            "created_ts": d["ts"][at] + pd.Timedelta(seconds=30),
            "n_turns": n[at].astype(np.int64),
            "tool_share": tool_share[at].astype(np.float64),
            "mean_chars": mean_chars[at].astype(np.float64),
            "last_role": d["role"][at],
        }
    ).reset_index(drop=True)


def asof_expected(entities: pd.DataFrame, versions: pd.DataFrame) -> pd.DataFrame:
    """Features as of each entity row's own ``ts`` (latest version with
    ``version.ts <= entity.ts``; NULL before a conversation's first one)."""
    ent = entities.sort_values("ts", kind="mergesort")
    ver = versions.sort_values("ts", kind="mergesort")[["conv_id", "ts", *FEATURES]]
    out = pd.merge_asof(ent, ver, on="ts", by="conv_id", direction="backward")
    return out.sort_values(["conv_id", "ts"], kind="mergesort").reset_index(drop=True)


def _utc(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    # tz-aware microsecond timestamps read back in Spark as TIMESTAMP
    out = df.copy()
    for c in cols:
        out[c] = out[c].astype("datetime64[us]").dt.tz_localize("UTC")
    return out


def generate(target: Path, seed: int, workers: int) -> None:
    from feast_spark.pipeline.oracle import oracle_dedup_latest, oracle_labels
    from feast_spark.pipeline.quality import QualityConfig

    chunks = [(lo, min(lo + MEGA_EVERY, N_CONVS), seed) for lo in range(0, N_CONVS, MEGA_EVERY)]
    # fork, not spawn: a spawn pool starts multiprocessing's resource
    # tracker, a process that stays until the benchmark itself exits
    with multiprocessing.get_context("fork").Pool(workers) as pool:
        frames = pool.map(_gen_chunk, chunks)
        pool.close()
        pool.join()
    (target / "transcripts").mkdir(parents=True)
    (target / "versions").mkdir()
    for i, f in enumerate(frames):
        _utc(f, ["ts"]).to_parquet(target / "transcripts" / f"part-{i:03d}.parquet", index=False)
    raw = pd.concat(frames, ignore_index=True)

    deduped = oracle_dedup_latest(raw)
    versions = feature_versions(deduped)
    bounds = np.linspace(0, len(versions), len(frames) + 1).astype(int)
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        _utc(versions.iloc[lo:hi], ["ts", "created_ts"]).to_parquet(
            target / "versions" / f"part-{i:03d}.parquet", index=False
        )

    conv_idx = raw["conv_id"].str[1:].astype(int)
    is_mega = (conv_idx % MEGA_EVERY == 0) & (conv_idx > 0)
    megas = sorted(raw["conv_id"][is_mega].unique())
    regular = sorted(raw["conv_id"][~is_mega].unique())
    rng = np.random.default_rng(seed)
    sample = sorted([megas[0], *rng.choice(regular, SAMPLE_CONVS, replace=False)])
    in_sample = raw["conv_id"].isin(sample)

    qf = oracle_labels(raw[in_sample], QualityConfig(), DECISION_TS, DECISION_TS)
    _utc(qf, ["ts"]).to_parquet(target / "qf_expected.parquet", index=False)
    pit = asof_expected(raw[["conv_id", "ts"]], versions)
    _utc(pit, ["ts"]).to_parquet(target / "pit_expected.parquet", index=False)

    per_key = versions.groupby("conv_id").size()
    meta = {
        "seed": seed,
        "conversations": int(raw["conv_id"].nunique()),
        "raw_turns": int(len(raw)),
        "deduped_turns": int(len(deduped)),
        "planted_dup_share": (len(raw) - len(deduped)) / len(deduped),
        "mega_conversations": len(megas),
        "mega_turn_share": float(is_mega.mean()),
        "feature_rows": int(len(versions)),
        "versions_per_key_p50": float(per_key.median()),
        "versions_per_key_max": int(per_key.max()),
        "keys_with_versions": int(len(per_key)),
        "sample_convs": sample,
        "sample_raw_turns": int(in_sample.sum()),
        "version_ts_min": versions["ts"].min().isoformat(),
        "version_ts_max": versions["ts"].max().isoformat(),
    }
    (target / "meta.json").write_text(json.dumps(meta, indent=1))
    (target / MARKER).write_text("")


def ensure_inputs(cache_root: Path, seed: int, workers: int) -> tuple[Inputs, float]:
    """The cached inputs for ``seed``, generating them first when absent.
    Returns them with the seconds spent generating (0 on a cache hit)."""
    d = cache_root / f"transcripts-n{N_CONVS}-seed{seed}-f{CACHE_FORMAT}"
    spent = 0.0
    if not (d / MARKER).exists():
        t = time.perf_counter()
        tmp = d.with_name(f"{d.name}.tmp-{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)  # an entry left without its marker
        try:
            generate(tmp, seed, workers)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        os.rename(tmp, d)
        spent = time.perf_counter() - t
    return Inputs(d, json.loads((d / "meta.json").read_text())), spent
