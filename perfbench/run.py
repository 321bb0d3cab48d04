"""Benchmark of ``feast_spark``: one workload per run, measured from a seed.

    python3 perfbench/run.py --workload qf_batch --seed 1 --seconds 6 --trace 0

Run from the root of a checkout of the repository. The run

1. generates its inputs from ``--seed`` (cached under ``.perfbench_cache/``
   per size and seed; generation time is excluded from ``setup_s``);
2. starts a ``local[nproc]`` SparkSession, sets the workload up
   ``SETUP_ROUNDS`` times from the cached inputs and runs the workload's
   fixed number of untimed warm-up operations; ``setup_s`` is the time from process start
   to a ready session, plus the median set-up, plus the warm-ups;
3. runs the workload as a closed loop for ``--seconds`` and at least its
   ``min_ops`` operations, checking every operation against the
   repository's pandas oracles;
4. prints a ``perfbench`` info line (environment, input properties,
   summary) and, last, one JSON result line.

With ``--trace 0`` the result holds the end-to-end metrics; with
``--trace 1`` the loop alternates untraced and traced operations, Spark's
event log is on, and the result holds the per-layer metrics. Spans and
per-span counters are written to ``.perfbench_work/traces/``. Metric
definitions are in ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from dataclasses import asdict  # noqa: E402
from pathlib import Path  # noqa: E402
from statistics import median  # noqa: E402

from spans import JOB_GROUP, NULL_TRACER, Tracer, counters, descendants, parse_event_log, self_times  # noqa: E402
from stats import Outcomes, PeakMemory, become_subreaper, reap_children, tail_percentile  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent

SETUP_ROUNDS = 3
DRIVER_MEM = "1g"
REAP_TIMEOUT_S = 30  # wait for child processes to exit before killing them
KERNEL_TURNS = 20_000


def metric_units() -> tuple[dict, dict]:
    """End-to-end and per-layer metric names and units, from BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["qf_batch", "pit_history", "serve_mixed"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def pin_environment(work: Path) -> dict:
    """Pin what the run depends on and return it for the record."""
    cores = len(os.sched_getaffinity(0))
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every JVM spark-submit starts (its launcher too) keeps its temp files
    # in the checkout and writes no perf-data file to the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    # Python workers import feast_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": cores,
        "mem_total_gb": round(mem_kb / 2**20, 2),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "driver_mem": DRIVER_MEM,
        "master": f"local[{cores}]",
    }


def start_session(work: Path, cores: int, event_log: Path | None):
    from feast_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }
    if event_log is not None:
        event_log.mkdir(parents=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t = time.perf_counter()
    spark = get_spark("perfbench", cpus=cores, extra_conf=conf)
    return spark, time.perf_counter() - t


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)  # on a timeout, reap_children kills it


def kernel_turns_per_s(inputs) -> float:
    """Single-threaded ``rules.score_turns`` on a fixed turn sample."""
    import pandas as pd

    from feast_spark import rules

    texts = pd.read_parquet(inputs.transcripts, columns=["text"])["text"].iloc[:KERNEL_TURNS]
    t = time.perf_counter()
    rules.score_turns(texts.reset_index(drop=True))
    return len(texts) / (time.perf_counter() - t)


def measure(args, inputs, work: Path, env: dict, gen_s: float):
    from workloads import WORKLOADS

    trace = bool(args.trace)
    spark, session_s = start_session(work, env["nproc"], work / "eventlog" if trace else None)
    sc = spark.sparkContext
    boot_s = time.perf_counter() - T0 - gen_s  # process start to session ready
    tracer = Tracer(
        run_id=f"{args.workload}-{args.seed}-{os.getpid()}",
        set_group=lambda gid: sc.setLocalProperty(JOB_GROUP, gid),
    )
    outcomes = Outcomes()
    try:
        wl = WORKLOADS[args.workload](spark, inputs, work, args.seed)
        prepares = []
        for _ in range(SETUP_ROUNDS):
            t = time.perf_counter()
            wl.prepare()
            prepares.append(time.perf_counter() - t)
        warmups = []
        for _ in range(wl.warmups):
            t = time.perf_counter()
            res = outcomes.run(wl.name, lambda: wl.op(NULL_TRACER), wl.check)
            # a warm-up counts its timed work, not its checks
            warmups.append(res.wall_s if res else time.perf_counter() - t)
        untraced, traced = [], []
        end = time.perf_counter() + args.seconds
        with PeakMemory() as mem:
            i = 0
            while (time.perf_counter() < end or i < wl.min_ops) and not wl.exhausted():
                on = trace and i % 2 == 1
                with wl.probes(tracer) if on else nullcontext():
                    res = outcomes.run(wl.name, lambda: wl.op(tracer if on else NULL_TRACER), wl.check)
                if res is not None:
                    (traced if on else untraced).append(res)
                i += 1
        kernel = kernel_turns_per_s(inputs) if trace else None
    finally:
        stop_session(spark)
    run = {
        "wl": wl,
        "untraced": untraced,
        "traced": traced,
        "prepares": prepares,
        "warmups": warmups,
        "boot_s": boot_s,
        "session_s": session_s,
        "peak_mem_mb": mem.peak_bytes / 2**20,
        "kernel": kernel,
        "cores": env["nproc"],
    }
    return run, tracer, outcomes


def end_to_end(run: dict) -> tuple[dict, dict]:
    """End-to-end metrics from the untraced operations, plus extras for
    the summary line."""
    ops = run["untraced"]
    metrics = {
        "setup_s": run["boot_s"] + median(run["prepares"]) + sum(run["warmups"]),
        "peak_rss_mb": run["peak_mem_mb"],
        "rows_per_s": median([r.rows / r.wall_s for r in ops]) if ops else 0.0,
    }
    extra = {
        "ops": len(ops),
        "op_s": [r.wall_s for r in ops],
        "boot_s": run["boot_s"],
        "prepare_s": run["prepares"],
        "warmup_s": run["warmups"],
    }
    reads = [x for r in ops for x in r.reads_s]
    writes = [x for r in ops for x in r.writes_s]
    if reads:
        extra["read_samples"] = len(reads)
        extra["read_p50_ms"] = median(reads) * 1e3
        tail = tail_percentile(reads)
        if tail:
            extra[f"read_p{tail[0]:g}_ms"] = tail[1] * 1e3
        extra["write_p50_ms"] = median(writes) * 1e3
        extra["write_samples"] = len(writes)
    return metrics, extra


def per_layer(run: dict, tracer, tasks, names) -> dict:
    """Per-layer metrics from the traced operations and the event log. A
    layer (``names``) the workload does not reach reports 0."""
    wl, traced, untraced = run["wl"], run["traced"], run["untraced"]
    m = {name: 0.0 for name in names}
    m["session.start_s"] = run["session_s"]
    m["rules.kernel_turns_per_s"] = run["kernel"]
    spans = tracer.spans
    if not traced:
        return m
    selfs = self_times(spans)
    by_name = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)
    op_groups = [{s.span_id for s in descendants(spans, r.root.span_id)} for r in traced]
    c = counters(tasks, set().union(*op_groups))
    n = len(traced)
    m.update(
        {
            "spark.shuffle_write_mb": c.shuffle_write_bytes / 1e6 / n,
            "spark.shuffle_read_mb": c.shuffle_read_bytes / 1e6 / n,
            "spark.spill_mb": c.spill_bytes / 1e6 / n,
            "spark.tasks": c.tasks / n,
            "spark.tasks_failed": c.tasks_failed,
            "spark.task_skew": median([counters(tasks, g).task_skew for g in op_groups]),
            "spark.gc_s": c.gc_s / n,
            "spark.cpu_busy_share": c.cpu_s / (sum(r.wall_s for r in traced) * run["cores"]),
            "trace.traced_op_s": median([r.wall_s for r in traced]),
            "trace.root_self_s": median([selfs[r.root.span_id] for r in traced]),
            "trace.layer_self_s": median(
                [
                    sum(selfs[s.span_id] for s in descendants(spans, r.root.span_id) if s is not r.root)
                    for r in traced
                ]
            ),
        }
    )
    if untraced:
        m["trace.untraced_op_s"] = median([r.wall_s for r in untraced])
        m["trace.overhead_s"] = m["trace.traced_op_s"] - m["trace.untraced_op_s"]

    m.update(wl.layer_metrics(by_name, tasks, run))
    return m


def span_records(tracer, tasks) -> list[dict]:
    """Every span with its self time and the task counters of its jobs."""
    selfs = self_times(tracer.spans)
    return [
        {**asdict(s), "self_s": selfs[s.span_id], "counters": asdict(counters(tasks, {s.span_id}))}
        for s in tracer.spans
    ]


def span_report(tracer, tasks) -> dict:
    """Per span name: count, median duration and median self time."""
    selfs = self_times(tracer.spans)
    by_name = defaultdict(list)
    for s in tracer.spans:
        by_name[s.name].append(s)
    report = {}
    for name, ss in by_name.items():
        c = counters(tasks, {s.span_id for s in ss})
        report[name] = {
            "n": len(ss),
            "median_s": median([s.duration for s in ss]),
            "median_self_s": median([selfs[s.span_id] for s in ss]),
            "tasks": c.tasks,
            "cpu_s": c.cpu_s,
            "shuffle_read_records": c.shuffle_read_records,
        }
    return report


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    end_to_end_units, per_layer_units = metric_units()
    sys.path.insert(0, str(ROOT))
    import feast_spark  # noqa: F401 - fails fast outside a checkout of the repository

    from inputs import ensure_inputs

    work = ROOT / ".perfbench_work" / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    env = pin_environment(work)
    become_subreaper()
    try:
        inputs, gen_s = ensure_inputs(ROOT / ".perfbench_cache", args.seed, env["nproc"])
        run, tracer, outcomes = measure(args, inputs, work, env, gen_s)
        tasks = []
        if args.trace:
            for log in sorted(p for p in (work / "eventlog").rglob("*") if p.is_file()):
                with open(log) as f:
                    tasks += parse_event_log(f)
    finally:
        # every process the run started (input generators, the JVM, its
        # Python workers) has ended before the run returns
        reap_children(REAP_TIMEOUT_S)
        shutil.rmtree(work, ignore_errors=True)

    wl = run["wl"]
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "env": env,
        "inputs": {k: v for k, v in inputs.meta.items() if k != "sample_convs"},
        "input_generation_s": gen_s,
        "ops_failed_frac": outcomes.failed_frac,
        "problems": outcomes.problems[:20],
    }
    if wl.name == "serve_mixed" and run["untraced"]:
        info["inputs"]["read_miss_share"] = wl.miss_share(run["untraced"][-1])
    if args.trace:
        units = per_layer_units
        metrics = per_layer(run, tracer, tasks, units)
        info["spans"] = span_report(tracer, tasks)
        traces = ROOT / ".perfbench_work" / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        (traces / f"{tracer.run_id}.json").write_text(json.dumps(span_records(tracer, tasks)))
    else:
        metrics, extra = end_to_end(run)
        units = end_to_end_units
        info["summary"] = extra
    print("perfbench " + json.dumps(info, default=str))
    print(
        json.dumps(
            {
                "correct": outcomes.failed == 0,
                "attempted": outcomes.attempted,
                "failed": outcomes.failed,
                "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
