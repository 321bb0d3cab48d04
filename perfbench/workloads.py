"""The three benchmark workloads over ``feast_spark``.

Each workload is a closed loop with one client and no think time:

- ``qf_batch``: the product's job, as ``feast_spark.cli`` runs it —
  ``run_quality_pipeline`` with a fixed ``decision_ts``, then parquet
  writes of ``conv_features``, ``labels`` and ``lineage``.
- ``pit_history``: ``FeatureStore.get_historical_features`` with every raw
  turn as an entity row asking for features as of its own ``ts``,
  materialized to the noop sink.
- ``serve_mixed``: ticks of one ``FeatureStore.materialize`` of the next
  time interval followed by ``READS_PER_TICK`` ``get_latest_features``
  reads of ``READ_BATCH`` keys, about ``MISS_SHARE`` of them absent.

``prepare()`` builds a workload's state from the cached inputs; ``op()``
runs one timed operation (spans go to the given tracer); ``check()``
returns one list of problems per operation in the result.
"""

from __future__ import annotations

import shutil
import time
from statistics import median
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from inputs import DECISION_TS, FEATURES, Inputs
from spans import Span, Tracer, counters
from stats import percentile

F1_MIN = 0.99
VIEW = "conv_stats"
READ_TAIL_Q = 75  # the read-latency tail a run has MIN_BEYOND samples beyond


@dataclass
class OpResult:
    wall_s: float  # the timed work only; checks run outside it
    rows: int  # rows the operation served, the throughput numerator
    root: Span | None = None
    reads_s: list[float] = field(default_factory=list)
    writes_s: list[float] = field(default_factory=list)
    payload: dict = field(default_factory=dict)


def _naive_utc(s: pd.Series) -> pd.Series:
    s = pd.to_datetime(s)
    return s.dt.tz_convert(None) if s.dt.tz is not None else s


def _utc_dt(ts: pd.Timestamp):
    # tz-aware, so Spark reads the bound as UTC whatever the local zone
    return ts.tz_localize("UTC").to_pydatetime()


def frame_problems(got: pd.DataFrame, want: pd.DataFrame, cols: list[str], what: str) -> list[str]:
    """Exact cell-by-cell comparison (NULL equals NULL) of two frames
    already sorted the same way."""
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, expected {len(want)}"]
    bad = []
    for c in cols:
        a, b = got[c].reset_index(drop=True), want[c].reset_index(drop=True)
        n = int((~((a == b) | (a.isna() & b.isna()))).sum())
        if n:
            bad.append(f"{what}: {n} cells of {c} differ")
    return bad


def _med_duration(spans: list[Span]) -> float:
    return median([s.duration for s in spans]) if spans else 0.0


def _ids(spans: list[Span]) -> set[str]:
    return {s.span_id for s in spans}


class Workload:
    name = ""
    warmups = 1  # untimed operations before the timed loop, counted in setup_s
    min_ops = 1  # timed operations a run makes even past its --seconds

    def __init__(self, spark: SparkSession, inputs: Inputs, work: Path, seed: int):
        self.spark = spark
        self.inputs = inputs
        self.meta = inputs.meta
        self.work = work
        self.seed = seed
        self.rounds = 0

    def prepare(self) -> None:
        self.rounds += 1

    def exhausted(self) -> bool:
        """True when the workload has no operation left to run."""
        return False

    def op(self, tracer: Tracer) -> OpResult:
        raise NotImplementedError

    def check(self, res: OpResult) -> list[list[str]]:
        raise NotImplementedError

    @contextmanager
    def probes(self, tracer: Tracer):
        """Extra spans inside program calls, installed for traced ops only."""
        yield

    def layer_metrics(self, spans: dict[str, list[Span]], tasks: list, run: dict) -> dict:
        """This workload's per-layer metrics from its spans (by name) and
        the event log's task records."""
        return {}


# -- qf_batch -------------------------------------------------------------------


class QfBatch(Workload):
    name = "qf_batch"
    # on 4 cores ops 1-4 take about 17, 6, 5.5 and 5.1 s, then 4.7-5.6 s
    warmups = 2
    min_ops = 2

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        want = self.inputs.expected("qf")
        self.want = want.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        self.out = self.work / "qf_out"
        self._persisted: list = []

    def prepare(self) -> None:
        super().prepare()
        self.transcripts = self.spark.read.parquet(self.inputs.transcripts)

    def op(self, tracer: Tracer) -> OpResult:
        from feast_spark.pipeline.quality import QualityConfig, run_quality_pipeline

        t0 = time.perf_counter()
        with tracer.span("qf.job") as root:
            with tracer.span("quality.run_quality_pipeline"):
                res = run_quality_pipeline(
                    self.spark, self.transcripts, QualityConfig(),
                    run_id="perfbench", decision_ts=DECISION_TS,
                )
            with tracer.span("quality.conv_features"):
                res.conv_features.write.mode("overwrite").parquet(str(self.out / "conv_features"))
            with tracer.span("quality.labels"):
                res.labels.write.mode("overwrite").parquet(str(self.out / "labels"))
            with tracer.span("quality.lineage"):
                res.lineage.write.mode("overwrite").parquet(str(self.out / "lineage"))
        wall = time.perf_counter() - t0
        res.scored.unpersist()
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()
        return OpResult(wall, self.meta["raw_turns"], root)

    @contextmanager
    def probes(self, tracer: Tracer):
        """Time dedup and scoring apart: wrap the two stage functions
        ``run_quality_pipeline`` calls so that each one's output is
        persisted and counted inside its own span."""
        from feast_spark.pipeline import quality

        dedup0, score0 = quality.dedup_latest_turns, quality.score_transcripts

        def dedup(transcripts):
            with tracer.span("latest.dedup") as s:
                out = dedup0(transcripts).persist()
                s.attrs["rows"] = out.count()
            self._persisted.append(out)
            return out

        def score(deduped, cfg=quality.QualityConfig()):
            with tracer.span("quality.score") as s:
                out = score0(deduped, cfg).persist()
                s.attrs["rows"] = out.count()
            return out

        quality.dedup_latest_turns, quality.score_transcripts = dedup, score
        try:
            yield
        finally:
            quality.dedup_latest_turns, quality.score_transcripts = dedup0, score0

    def layer_metrics(self, spans, tasks, run) -> dict:
        scored = [s.attrs["rows"] for s in spans["quality.score"]]
        score_s = _med_duration(spans["quality.score"])
        return {
            "latest.dedup_s": _med_duration(spans["latest.dedup"]),
            "latest.rows_dropped": self.meta["raw_turns"]
            - median([s.attrs["rows"] for s in spans["latest.dedup"]]),
            "quality.score_s": score_s,
            "quality.arrow_bytes_per_turn": counters(tasks, _ids(spans["quality.score"])).python_bytes_sent
            / sum(scored),
            "quality.score_parallel_eff": median(scored) / run["kernel"] / (run["cores"] * score_s),
            "quality.conv_features_s": _med_duration(spans["quality.conv_features"]),
            "quality.labels_s": _med_duration(spans["quality.labels"]),
            "quality.lineage_s": _med_duration(spans["quality.lineage"]),
        }

    def check(self, res: OpResult) -> list[list[str]]:
        """Read the written outputs back with pyarrow, outside Spark."""
        from feast_spark.pipeline.oracle import f1_score

        p: list[str] = []
        labels = pd.read_parquet(self.out / "labels")
        n_rows = len(labels)
        n_keys = len(labels[["conv_id", "turn_idx"]].drop_duplicates())
        if n_rows != self.meta["deduped_turns"]:
            p.append(f"{n_rows} label rows for {self.meta['deduped_turns']} deduped turns")
        if n_keys != n_rows:
            p.append(f"{n_rows - n_keys} duplicate (conv_id, turn_idx) labels")
        lineage_rows = int(pd.read_parquet(self.out / "lineage", columns=["row_count"])["row_count"].sum())
        if lineage_rows != n_rows:
            p.append(f"lineage row_count sums to {lineage_rows}, labels have {n_rows}")

        got = (
            labels[labels["conv_id"].isin(self.meta["sample_convs"])]
            .sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True)
        )
        keys = ["conv_id", "turn_idx"]
        if not got[keys].astype(object).equals(self.want[keys].astype(object)):
            p.append("sample (conv_id, turn_idx) keys differ from the oracle")
        else:
            f1 = f1_score(self.want["keep"].to_numpy(bool), got["keep"].to_numpy(bool))
            if f1 < F1_MIN:
                p.append(f"keep/drop F1 {f1:.4f} < {F1_MIN}")
            p += frame_problems(got, self.want, ["scrubbed_text"], "sample labels")
        return [p]


# -- pit_history ----------------------------------------------------------------


def _feature_store(spark: SparkSession, inputs: Inputs, repo: Path):
    from feast_spark.core.model import Entity, FeatureView, ParquetSource
    from feast_spark.core.store import FeatureStore

    shutil.rmtree(repo, ignore_errors=True)
    repo.mkdir(parents=True)
    store = FeatureStore(spark, str(repo))
    conv = Entity("conversation", "conv_id")
    fv = FeatureView(
        name=VIEW,
        entities=[conv],
        source=ParquetSource(
            path=inputs.versions, timestamp_field="ts", created_timestamp_column="created_ts"
        ),
    )
    store.apply([conv, fv])
    return store


class PitHistory(Workload):
    name = "pit_history"
    # on 4 cores ops 1-3 take about 7, 1.7 and 1.4 s, then 1.0-1.5 s
    warmups = 2
    min_ops = 3
    REFS = [f"{VIEW}:{f}" for f in FEATURES]

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        want = self.inputs.expected("pit")
        want["ts"] = _naive_utc(want["ts"])
        self.want = want.sort_values(["conv_id", "ts", "n_turns"]).reset_index(drop=True)

    def prepare(self) -> None:
        super().prepare()
        self.store = _feature_store(self.spark, self.inputs, self.work / f"pit_repo_{self.rounds}")
        self.entities = self.spark.read.parquet(self.inputs.transcripts).select("conv_id", "ts")

    def op(self, tracer: Tracer) -> OpResult:
        t0 = time.perf_counter()
        with tracer.span("pit.retrieval") as root:
            with tracer.span("store.get_historical_features"):
                hist = self.store.get_historical_features(self.entities, self.REFS, entity_ts_col="ts")
            with tracer.span("pit_join.join"):
                hist.write.format("noop").mode("overwrite").save()
        return OpResult(time.perf_counter() - t0, self.meta["raw_turns"], root, payload={"hist": hist})

    def layer_metrics(self, spans, tasks, run) -> dict:
        joins = spans["pit_join.join"]
        return {
            "pit_join.join_s": _med_duration(joins),
            "pit_join.shuffle_records_per_entity": counters(tasks, _ids(joins)).shuffle_read_records
            / (self.meta["raw_turns"] * len(joins)),
        }

    def check(self, res: OpResult) -> list[list[str]]:
        """Collect the timed retrieval's plan again and compare every row
        with the pandas ``merge_asof`` of all turns."""
        got = res.payload["hist"].toPandas()
        got["ts"] = _naive_utc(got["ts"])
        got = got.sort_values(["conv_id", "ts", "n_turns"]).reset_index(drop=True)
        return [frame_problems(got, self.want, ["conv_id", "ts", *FEATURES], "as-of retrieval")]


# -- serve_mixed ----------------------------------------------------------------


class ServeMixed(Workload):
    name = "serve_mixed"
    # on 4 cores ticks 1-2 take about 5.3 and 3.4 s, then 2.8-3.5 s
    warmups = 1
    # 4 ticks of 10 reads leave MIN_BEYOND reads above the p75
    min_ops = 4
    READS_PER_TICK = 10
    READ_BATCH = 100
    MISS_SHARE = 0.1
    INITIAL_SHARE = 0.5  # share of the time range the set-up materializes
    TICKS = 400  # intervals the rest of the range is cut into

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        v = pd.read_parquet(self.inputs.versions)
        v["ts"] = _naive_utc(v["ts"])
        v["created_ts"] = _naive_utc(v["created_ts"])
        self.versions = v.sort_values(["ts", "created_ts"], kind="mergesort").reset_index(drop=True)
        self.bytes_per_source_row = (
            sum(f.stat().st_size for f in Path(self.inputs.versions).glob("*.parquet")) / len(v)
        )
        lo, hi = v["ts"].min(), v["ts"].max()
        self.start = lo - pd.Timedelta(seconds=1)
        first = lo + (hi - lo) * self.INITIAL_SHARE
        self.bounds = list(pd.date_range(first, hi + pd.Timedelta(seconds=1), periods=self.TICKS + 1))
        self.all_keys = np.array(sorted(v["conv_id"].unique()), dtype=object)

    def _expected(self, end) -> pd.DataFrame:
        v = self.versions[self.versions["ts"] <= end]
        return v.groupby("conv_id", sort=False).tail(1).set_index("conv_id")

    def _snapshot_bytes(self) -> tuple[int, int]:
        snap = Path(self.store._latest_snapshot(VIEW))
        files = list(snap.glob("*.parquet"))
        return sum(f.stat().st_size for f in files), len(files)

    def prepare(self) -> None:
        super().prepare()
        self.store = _feature_store(self.spark, self.inputs, self.work / f"serve_repo_{self.rounds}")
        self.tick = 0
        self.rng = np.random.default_rng([self.seed, self.rounds])
        self.store.materialize(VIEW, _utc_dt(self.start), _utc_dt(self.bounds[0]))
        self.table = self._expected(self.bounds[0])

    def exhausted(self) -> bool:
        return self.tick >= self.TICKS

    def _read_keys(self) -> list[str]:
        present = self.table.index.to_numpy()
        n_miss = int(round(self.READ_BATCH * self.MISS_SHARE))
        future = np.setdiff1d(self.all_keys, present)
        half = min(n_miss // 2, len(future))
        keys = [
            *self.rng.choice(present, self.READ_BATCH - n_miss, replace=False),
            *self.rng.choice(future, half, replace=False),
            *(f"x{int(k):09d}" for k in self.rng.integers(0, 10**9, n_miss - half)),
        ]
        return [str(k) for k in keys]

    def op(self, tracer: Tracer) -> OpResult:
        start, end = self.bounds[self.tick], self.bounds[self.tick + 1]
        self.tick += 1
        self.table = self._expected(end)
        fresh = int(((self.versions["ts"] >= start) & (self.versions["ts"] <= end)).sum())
        res = OpResult(0.0, 0)
        with tracer.span("serve.tick") as root:
            t = time.perf_counter()
            with tracer.span("store.materialize") as s:
                self.store.materialize(VIEW, _utc_dt(start), _utc_dt(end))
            res.writes_s.append(time.perf_counter() - t)
            snap_bytes, snap_files = self._snapshot_bytes()
            if s is not None:
                s.attrs.update(
                    write_amp=snap_bytes / max(1.0, fresh * self.bytes_per_source_row),
                    snapshot_files=snap_files,
                    serving_bytes_per_row=snap_bytes / max(1, len(self.table)),
                )
            reads = []
            for _ in range(self.READS_PER_TICK):
                keys = self._read_keys()
                t = time.perf_counter()
                with tracer.span("store.get_latest_features") as s:
                    kdf = self.spark.createDataFrame(pd.DataFrame({"conv_id": keys}))
                    got = self.store.get_latest_features(VIEW, kdf).toPandas()
                    if s is not None:
                        s.attrs["hits"] = len(got)
                res.reads_s.append(time.perf_counter() - t)
                reads.append((keys, got))
        res.root = root
        res.wall_s = sum(res.writes_s) + sum(res.reads_s)
        res.rows = self.READS_PER_TICK * self.READ_BATCH
        res.payload = {"reads": reads, "table": self.table}
        return res

    def check(self, res: OpResult) -> list[list[str]]:
        table = res.payload["table"]
        n_snap = self.store.read_snapshot(VIEW).count()
        out = [[] if n_snap == len(table) else [f"snapshot has {n_snap} rows, expected {len(table)}"]]
        cols = ["conv_id", "ts", *FEATURES]
        for keys, got in res.payload["reads"]:
            want = table.loc[[k for k in keys if k in table.index]].reset_index()
            got = got.copy()
            got["ts"] = _naive_utc(got["ts"])
            got = got.sort_values("conv_id").reset_index(drop=True)
            want = want.sort_values("conv_id").reset_index(drop=True)
            out.append(frame_problems(got, want, cols, "read"))
        return out

    def layer_metrics(self, spans, tasks, run) -> dict:
        mats, reads = spans["store.materialize"], spans["store.get_latest_features"]
        # latencies of every tick, traced or not: a traced read adds only its span
        ticks = run["untraced"] + run["traced"]
        lat = [x for r in ticks for x in r.reads_s]
        return {
            "store.materialize_s": _med_duration(mats),
            "store.write_amp": median([s.attrs["write_amp"] for s in mats]),
            "store.snapshot_files": mats[-1].attrs["snapshot_files"],
            "store.serving_bytes_per_row": mats[-1].attrs["serving_bytes_per_row"],
            "store.rows_scanned_per_hit": counters(tasks, _ids(reads)).input_records
            / max(1, sum(s.attrs["hits"] for s in reads)),
            "serve.read_samples": len(lat),
            "serve.read_p50_ms": percentile(lat, 50) * 1e3,
            f"serve.read_p{READ_TAIL_Q}_ms": percentile(lat, READ_TAIL_Q) * 1e3,
            "serve.write_p50_ms": median([x for r in ticks for x in r.writes_s]) * 1e3,
        }

    def miss_share(self, res: OpResult) -> float:
        table = res.payload["table"]
        keys = [k for keys, _ in res.payload["reads"] for k in keys]
        return sum(k not in table.index for k in keys) / len(keys)


WORKLOADS = {w.name: w for w in (QfBatch, PitHistory, ServeMixed)}
