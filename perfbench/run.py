"""Benchmark entry point.

    python3 perfbench/run.py --workload {mr-text,curation,ingest} --seed N \\
        --seconds S --trace {0,1}

Builds the workload's inputs from the seed, sets up the engine, runs one
untimed warm-up pass (every op once: each op's first run in a process pays
code generation and JIT), then runs complete passes over the inputs for
about S seconds, checking every op's output. Prints one line per metric
(value, unit, sample count) and, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

--trace 0 reports the end-to-end metrics. --trace 1 reports the per-layer
metrics instead: after the warm-up, half the window runs untraced, then
the session is rebuilt (same JVM) with the Spark event log on and the
other half runs traced; ``tracing_overhead`` is the ratio of the two
halves' median pass times.
The spans and the event-log counters are written to
perfbench/_work/traces/.

Everything the run writes stays under perfbench/_work/ (per-run scratch is
removed at exit). The run pins the environment through variables the
program already reads: SPARK_GRAFT_CPUS, SPARK_GRAFT_DRIVER_MEM,
SPARK_LOCAL_DIRS, PYTHONHASHSEED, plus TMPDIR and the JVM temp dir.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, "_work")
DRIVER_MEM = "2g"


def pin_environment(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "PYTHONHASHSEED": "0",
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(pinned)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return pinned


# --- session ---------------------------------------------------------------


def setup_session(work: str, event_log: str | None = None):
    """get_spark + ensure_shipped + one warm-up job: the set-up a process
    pays once. Returns (spark, {phase: seconds})."""
    from mapreduce_paper_implementation_spark import apps
    from mapreduce_paper_implementation_spark.session import get_spark
    from mapreduce_paper_implementation_spark.shipping import ensure_shipped

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    ensure_shipped(spark)
    t2 = time.perf_counter()
    sc = spark.sparkContext
    n = sc.parallelize(["a b c"] * 64, sc.defaultParallelism).flatMap(
        lambda s: apps.wc_map("warmup", s)
    ).count()
    t3 = time.perf_counter()
    if n != 192:
        raise RuntimeError(f"warm-up job counted {n} words, expected 192")
    return spark, {
        "session.build_s": t1 - t0,
        "shipping.ship_s": t2 - t1,
        "session.warmup_s": t3 - t2,
        "setup_s": t3 - t0,
    }


def _descendants() -> list[int]:
    from rss import children

    kids, out, todo = children(), [], [os.getpid()]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def stop_engine(spark) -> None:
    """Stop the session, then the JVM, and wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while _descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in _descendants():
        os.kill(pid, signal.SIGKILL)
    while _descendants() and time.time() < deadline + 10:
        time.sleep(0.1)


# --- measuring -------------------------------------------------------------


def run_window(workload, tracer, seconds: float):
    """Complete passes until the next one would end past the window."""
    passes, durations = [], []
    t0 = time.perf_counter()
    while True:
        with tracer.span("pass", "bench") as s:
            res = workload.run_pass()
        res.span = s
        passes.append(res)
        durations.append(s.seconds)
        if time.perf_counter() - t0 + statistics.median(durations) > seconds:
            return passes


def quantile(xs: list[float], q: float) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def percentile_note(n: int, q: float) -> str:
    beyond = int(n * (1 - q))
    return f"n={n}, {beyond} beyond p{round(q * 100)}"


def per_pass_quantile(passes, q: float) -> float:
    """The q-quantile of op latency within each pass, median over passes.

    A pass has only a few ops, each a different job or query, so a quantile
    pooled over a short window is an extreme order statistic of a handful
    of samples; its per-pass value is steady from pass to pass."""
    per_pass = [[o.seconds for o in p.ops if o.ok] for p in passes]
    return statistics.median(quantile(xs, q) for xs in per_pass if xs) if any(per_pass) else 0.0


def end_to_end(workload, passes, setup_s: float, rss_samples: list[int]):
    pass_s = [p.span.seconds for p in passes]
    n_ops = sum(o.ok for p in passes for o in p.ops)
    serve_s = [x for p in passes for x in p.serve_s]
    med_pass = statistics.median(pass_s)
    per_pass = f"n={n_ops} in {len(passes)} passes, per-pass value, median"
    rows = [
        ("setup_s", setup_s, "s", "n=1, once per process"),
        ("pass_s", med_pass, "s", f"n={len(pass_s)}, median"),
        ("op_p50_s", per_pass_quantile(passes, 0.5), "s", per_pass),
        ("op_p90_s", per_pass_quantile(passes, 0.9), "s", per_pass),
        ("input_mb_per_s", workload.input_bytes / 1e6 / med_pass, "MB/s",
         f"{workload.input_bytes / 1e6:.3f} MB per pass"),
        ("peak_rss_mb", max(rss_samples) / 1e6, "MB",
         f"n={len(rss_samples)} samples; median {statistics.median(rss_samples) / 1e6:.0f}, "
         f"p90 {quantile(rss_samples, 0.9) / 1e6:.0f}, min {min(rss_samples) / 1e6:.0f}"),
    ]
    extra = []
    if serve_s:
        extra += [
            ("serve_p50_s", quantile(serve_s, 0.5), "s", percentile_note(len(serve_s), 0.5)),
            ("serve_p90_s", quantile(serve_s, 0.9), "s", percentile_note(len(serve_s), 0.9)),
        ]
    return rows, extra


def per_layer(workload, tracer, passes, setup_times, untraced_pass_s, by_group, cores):
    from inputs import CURATION_QUERIES
    from tracing import counts_under
    from workloads import Ingest, MrText

    n = len(passes)
    roots = [p.span for p in passes]
    spans = [s for r in roots for s in tracer.descendants(r)]

    def med(prefix: str) -> float:
        xs = [s.seconds for s in spans if s.name.startswith(prefix)]
        return statistics.median(xs) if xs else 0.0

    allc = counts_under(tracer, roots, by_group)
    mrc = counts_under(tracer, [s for s in spans if s.layer == "mr"], by_group)
    wall = sum(r.seconds for r in roots)
    m = {
        "session.build_s": setup_times["session.build_s"],
        "shipping.ship_s": setup_times["shipping.ship_s"],
        "session.warmup_s": setup_times["session.warmup_s"],
        "mr.job_s": med("mr."),
        "mr.shuffle_write_mb": mrc.shuffle_write_bytes / 1e6 / n,
        "mr.shuffle_records": mrc.shuffle_records / n,
        "mr.stages": mrc.stages / n,
        "mr.tasks": mrc.tasks / n,
        "spark.core_busy_share": allc.run_ms / 1000 / (wall * cores),
        "spark.tasks": allc.tasks / n,
        "spark.stages": allc.stages / n,
        "spark.jobs": allc.jobs / n,
        "spark.shuffle_write_mb": allc.shuffle_write_bytes / 1e6 / n,
        "spark.spill_mb": allc.spill_bytes / 1e6 / n,
        "spark.gc_share": allc.gc_ms / max(1, allc.run_ms),
        "spark.task_failures": allc.task_failures / n,
        "sources.input_mb": allc.input_bytes / 1e6 / n,
        "streaming.compact_s": sum(
            s.seconds for s in spans if s.name.startswith("streaming.compact.")
        ) / n,
        "tracing_overhead": statistics.median(r.seconds for r in roots) / untraced_pass_s,
    }
    for q in CURATION_QUERIES:
        m[f"plans.{q}_s"] = med(f"plans.{q}")
    for name in Ingest.MAINTAINERS:
        m[f"streaming.update_s.{name}"] = med(f"streaming.update.{name}")
    serve = [s.seconds for s in spans if s.name == "streaming.serve"]
    m["streaming.serve_p50_s"] = quantile(serve, 0.5) if serve else 0.0
    m["streaming.serve_p90_s"] = quantile(serve, 0.9) if serve else 0.0
    acc = workload.accumulators() if hasattr(workload, "accumulators") else {}
    for k in MrText.ACC:
        m[f"apps.{k}"] = acc.get(f"apps.{k}", 0.0) / n
    for key in LAYER_FROM_PASSES:
        xs = [p.layer[key] for p in passes if key in p.layer]
        m[key] = statistics.median(xs) if xs else 0.0
    return m


LAYER_FROM_PASSES = (
    "sources.output_mb",
    "streaming.state_mb",
    "streaming.write_amp",
    "streaming.compactions",
    "streaming.dups_flagged",
    "operators.dedup_recall",
    "operators.dedup_precision",
)


def main() -> int:
    sys.path.insert(0, REPO_ROOT)
    import workloads
    from rss import TreeMemory
    from tracing import Tracer, read_event_log, write_trace

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    phases: dict[str, float] = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    spark = None
    try:
        pinned = pin_environment(work)
        workload = workloads.WORKLOADS[args.workload](work, args.seed)
        cores = int(pinned["SPARK_GRAFT_CPUS"])
        phase("inputs")
        untraced = Tracer(enabled=False)
        spark, setup_times = setup_session(work)
        untraced.sc = spark.sparkContext
        phase("setup")
        workload.start(spark, untraced)
        ops = [o for _ in range(workload.WARMUP_PASSES) for o in workload.run_pass().ops]
        phase("warmup")
        window = args.seconds / 2 if args.trace else args.seconds
        with TreeMemory() as memory:
            passes = run_window(workload, untraced, window)
        ops += [o for p in passes for o in p.ops]
        phase("window")

        if args.trace:
            untraced_pass_s = statistics.median(p.span.seconds for p in passes)
            # Same JVM, so the traced half starts as warm as the untraced
            # one. The old context stays referenced: ensure_shipped keys
            # contexts by id(), which must not be reused by the new one.
            old_sc = spark.sparkContext
            spark.stop()
            event_log = os.path.join(work, "eventlog")
            tracer = Tracer(enabled=True)
            spark, _ = setup_session(work, event_log)
            tracer.sc = spark.sparkContext
            workload.start(spark, tracer)
            traced = run_window(workload, tracer, args.seconds - window)
            ops += [o for p in traced for o in p.ops]
            phase("traced_window")
            del old_sc
        stop_engine(spark)
        spark = None
        phase("stop")

        if args.trace:
            by_group = read_event_log(event_log)
            layer = per_layer(workload, tracer, traced, setup_times, untraced_pass_s, by_group, cores)
            write_trace(
                os.path.join(WORK_ROOT, "traces", f"{args.workload}-seed{args.seed}.json"),
                tracer, by_group,
                {"workload": args.workload, "seed": args.seed, "env": pinned, "layer": layer},
            )
            units = {m["name"]: m["unit"] for m in bench_spec()["per_layer"]}
            if set(units) != set(layer):
                raise RuntimeError(f"per-layer metrics differ from BENCHMARK.json: {set(units) ^ set(layer)}")
            report = [(k, layer[k], units[k], f"{len(traced)} traced passes") for k in units]
        else:
            report, extra = end_to_end(workload, passes, setup_times["setup_s"], memory.samples)
    finally:
        if spark is not None:  # an error left the engine running
            stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(not o.ok for o in ops)
    for o in ops:
        if not o.ok:
            print(f"[{args.workload}] FAILED {o.name}: {o.detail}")
    env = " ".join(f"{k}={v}" for k, v in pinned.items() if k.startswith(("SPARK_GRAFT", "PYTHON")))
    print(f"[{args.workload}] seed={args.seed} trace={args.trace} {env}")
    print(f"[{args.workload}] phases: " + " ".join(f"{k}={v:.1f}s" for k, v in phases.items()))
    for i, p in enumerate(passes + (traced if args.trace else [])):
        times = " ".join(f"{o.name}={o.seconds:.3f}" for o in p.ops)
        print(f"[{args.workload}] pass {i} {p.span.seconds:.3f} s: {times}")
    rows = report + ([] if args.trace else extra)
    rows.append(("failed_frac", failed / len(ops), "ratio", f"{failed} of {len(ops)} ops"))
    for name, value, unit, note in rows:
        print(f"[{args.workload}] {name:<32} {value:>14.6f} {unit:<6} ({note})")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(ops),
                "failed": failed,
                "metrics": {name: {"value": v, "unit": u} for name, v, u, _ in report},
            }
        )
    )
    return 0


def bench_spec() -> dict:
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


if __name__ == "__main__":
    sys.exit(main())
