"""Benchmark entry point for polyfuzz_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One process drives the library on
``local[nproc]`` (driver heap 4g, shuffle and temp files on disk under
``.perfbench_work/``), closed loop with a single client:

1. start the session (its time counts towards ``setup_s``);
2. generate the workload's inputs from ``--seed`` and write them to parquet,
   ``SETUP_REPEATS`` times; ``setup_s`` adds the median to the session time;
3. run one untimed warm-up operation: the first operation in a JVM pays
   JIT compilation and Python-worker start-up, a cost that swings widely
   from run to run;
4. run operations until ``--seconds`` have passed (at least one), checking
   every output; ``pass_ms`` is their median wall time.

With ``--trace 0`` the last stdout line carries the end-to-end metrics,
with ``--trace 1`` the per-layer ones: after the warm-up, traced and
untraced operations alternate, then the workload's traced-only work runs
once (``Workload.traced_only``), spans go to
``.perfbench_out/<workload>-seed<N>.spans.jsonl`` and the Spark event log
is read for per-layer task statistics. Every line before the last is a
human-readable report. The exit code is 0 only when every output check
passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

SETUP_REPEATS = 3
MIN_FREE_BYTES = 2 << 30  # free space spark.local.dir must keep
DRIVER_MEMORY = "4g"

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "pass_ms": "ms",
    "quality": "ratio",
}

# span name -> per-layer busy-time metric (span self time, per operation)
BUSY = {
    "mapside.bands": "mapside.bands.busy_s",
    "mapside.candidates": "mapside.candidates.busy_s",
    "mapside.fit_idf": "mapside.fit_idf.busy_s",
    "mapside.vectorize": "mapside.vectorize.busy_s",
    "cosine_join.packed": "cosine_join.packed.busy_s",
    "cosine_join.sparse": "cosine_join.sparse.busy_s",
    "topk": "topk.busy_s",
    "dedup": "dedup.busy_s",
    "linkage": "linkage.busy_s",
    "api.match": "api.match.busy_s",
    "api.group": "api.group.busy_s",
    "scorers.wratio": "scorers.wratio.busy_s",
    "incremental.admit": "incremental.batch_busy_s",
}
SPARK_LAYERS = ("pipeline", *BUSY)
SPARK_STATS = ("tasks", "shuffle_write_bytes", "spill_bytes", "scheduler_delay_s")


def per_layer_names() -> list[str]:
    names = [
        f"pipeline.{st}.{m}"
        for st in ("ingest", "candidates", "scores", "matches", "clusters",
                   "survivors")
        for m in ("wall_s", "pre_wall_s", "rows", "bytes")
    ]
    names += list(BUSY.values())
    names += [
        "mapside.bands.rows", "mapside.candidates.pairs", "mapside.vocab_dim",
        "blocking.reduction_ratio", "blocking.pairs_completeness",
        "blocking.pairs_quality",
        "cosine_join.packed.pairs_scored", "cosine_join.packed.pairs_per_s",
        "cosine_join.packed.useful_frac", "cosine_join.sparse.pairs",
        "topk.rows", "dedup.rows_dropped",
        "linkage.edges", "linkage.iterations", "linkage.components",
        "scorers.pairs_scored", "scorers.pairs_per_s",
        "incremental.build_index_s", "incremental.index_bytes",
        "incremental.vectorized_frac",
        "trace.overhead_s",
    ]
    names += [f"spark.{layer}.{s}" for layer in SPARK_LAYERS for s in SPARK_STATS]
    names.append("spark.task_failures")
    return names


def per_layer_unit(name: str) -> str:
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith(("_frac", "ratio", "completeness", "quality")):
        return "ratio"
    return "count"


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: tiny inputs for the benchmark's own tests")
    ap.add_argument("--out", default=str(ROOT / ".perfbench_out"),
                    help="where traced runs write their span file")
    return ap.parse_args(argv)


def configure(work: Path, trace: bool) -> dict:
    """Size the runtime to this machine from the benchmark's side: every
    core, a heap that fits in RAM, shuffle and temp files on disk inside
    the checkout. Returns the session's extra Spark conf."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("spark-local", "tmp", "warehouse", "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_WAREHOUSE": str(work / "warehouse"),
        "TMPDIR": str(work / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
    })
    tempfile.tempdir = None  # re-read TMPDIR
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            "-Djava.net.preferIPv4Stack=true -XX:-UsePerfData "
            f"-Djava.io.tmpdir={work / 'tmp'}"
        ),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def process_tree() -> list[int]:
    """This process and all its descendants: driver, JVM, Python workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def tree_peak_rss_mb() -> float:
    """Sum of peak resident set (VmHWM) over the process tree."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    owns) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def record_layers(wl, tracer, first_span: int) -> None:
    """One sample of each layer's busy time (span self time) and of each
    count, from the spans and counts recorded since ``first_span``."""
    from perfbench.trace import self_times

    spans = tracer.spans[first_span:]
    own = self_times(spans)
    busy: dict[str, float] = {}
    for s in spans:
        if s["name"] in BUSY:
            busy[BUSY[s["name"]]] = busy.get(BUSY[s["name"]], 0.0) + own[s["span_id"]]
    for k, v in (*busy.items(), *tracer.counts.items()):
        wl.layer(k, v)
    tracer.counts.clear()


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def run(args: argparse.Namespace) -> int:
    if not (ROOT / "polyfuzz_spark" / "__init__.py").is_file():
        print("polyfuzz_spark package not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        return measure(args, work, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args: argparse.Namespace, work: Path, workload) -> int:
    from perfbench.trace import NullTracer, Tracer, spark_layer_stats
    from polyfuzz_spark.session import get_spark

    conf = configure(work, bool(args.trace))
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=int(os.environ["SPARK_GRAFT_CPUS"]),
                      extra_conf=conf)
    session_s = time.perf_counter() - t0
    wl = workload(spark, work, args.seed, args.size)
    failed = 0
    try:
        if shutil.disk_usage(work).free < MIN_FREE_BYTES:
            wl.fail("free disk below the guard before the run")
            failed += 1
        setups = []
        # set-up time is an end-to-end metric: traced runs set up once
        for _ in range(1 if args.trace else SETUP_REPEATS):
            t = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t)

        off = NullTracer()
        tracer = Tracer(spark, f"{args.workload}-seed{args.seed}")
        # one untimed operation pays JVM JIT and Python-worker start-up,
        # whose cost swings from run to run; timed operations are warm
        t = time.perf_counter()
        wl.op(-1, off)
        warmup_s = time.perf_counter() - t

        walls = {False: [], True: []}
        i = 0
        deadline = time.perf_counter() + args.seconds
        while True:
            traced = bool(args.trace) and i % 2 == 1
            n_fail = len(wl.failures)
            first_span = len(tracer.spans)
            try:
                if traced:
                    with wl.instrument(tracer), tracer.span("op"):
                        t = time.perf_counter()
                        wl.op(i, tracer)
                        dt = time.perf_counter() - t
                else:
                    t = time.perf_counter()
                    wl.op(i, off)
                    dt = time.perf_counter() - t
            except Exception as exc:  # noqa: BLE001 - a failed op is counted
                wl.fail(f"op {i}: {type(exc).__name__}: {exc}")
                dt = None
            if dt is not None:
                walls[traced].append(dt)
            if len(wl.failures) > n_fail:
                failed += 1
            if traced:
                record_layers(wl, tracer, first_span)
            i += 1
            enough = walls[False] and (not args.trace or walls[True])
            if time.perf_counter() >= deadline and (enough or failed):
                break
        attempted = i
        if args.trace:
            first_span = len(tracer.spans)
            with wl.instrument(tracer), tracer.span("op"):
                wl.traced_only(tracer)
            record_layers(wl, tracer, first_span)
        t = time.perf_counter()
        quality = wl.finish()
        finish_s = time.perf_counter() - t
        if shutil.disk_usage(work).free < MIN_FREE_BYTES:
            wl.fail("free disk below the guard after the run")
            failed += 1
        peak_rss = tree_peak_rss_mb()
        local_bytes = sum(
            p.stat().st_size for p in (work / "spark-local").rglob("*") if p.is_file()
        )
    finally:
        stop_spark(spark)

    untraced = walls[False]
    p50 = median(untraced)
    setup_s = session_s + median(setups)
    report = {
        "workload": (wl.name, ""),
        "size": (args.size, ""),
        "cpus": (os.environ["SPARK_GRAFT_CPUS"], ""),
        "driver_memory": (DRIVER_MEMORY, ""),
        "session_s": (session_s, "s"),
        "warmup_s": (warmup_s, "s"),
        "finish_s": (finish_s, "s"),
        "input_bytes": (wl.input_bytes(), "bytes"),
        "ops_timed": (len(untraced), "count"),
        "pass_ms_each": ([round(w * 1000, 1) for w in untraced], "ms"),
        "spark_local_bytes_at_end": (local_bytes, "bytes"),
        "error_rate": (failed / max(attempted, 1), "ratio"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_rss, "MB"),
    }
    report.update({k: (v, "") for k, v in wl.report.items()})
    for k, (v, unit) in wl.headline(untraced).items():
        report[k] = (v, unit)

    if args.trace:
        layers = {k: median(v) for k, v in wl.layers.items()}
        layers["trace.overhead_s"] = median(walls[True]) - p50
        packed = layers.get("cosine_join.packed.busy_s", 0.0)
        if packed:
            layers["cosine_join.packed.pairs_per_s"] = (
                layers["cosine_join.packed.pairs_scored"] / packed
            )
        if layers.get("cosine_join.packed.pairs_scored"):
            layers["cosine_join.packed.useful_frac"] = (
                layers["cosine_join.packed.useful"]
                / layers["cosine_join.packed.pairs_scored"]
            )
        if layers.get("scorers.wratio.busy_s"):
            layers["scorers.pairs_per_s"] = (
                layers["scorers.pairs_scored"] / layers["scorers.wratio.busy_s"]
            )
        n_traced = max(len(walls[True]), 1)
        stats = spark_layer_stats(work / "eventlog")
        layers["spark.task_failures"] = sum(
            s.get("task_failures", 0) for s in stats.values()
        )
        for name, s in stats.items():
            layer = "pipeline" if name.startswith("pipeline.") else name
            if layer in SPARK_LAYERS:
                for k in SPARK_STATS:
                    key = f"spark.{layer}.{k}"
                    layers[key] = layers.get(key, 0.0) + s.get(k, 0) / n_traced
        tracer.write(Path(args.out) / f"{wl.name}-seed{args.seed}.spans.jsonl")
        metrics = {
            k: {"value": layers.get(k, 0.0), "unit": per_layer_unit(k)}
            for k in per_layer_names()
        }
    else:
        values = {
            "setup_s": setup_s,
            "pass_ms": p50 * 1000,
            "quality": quality,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    for k, (v, unit) in report.items():
        print(f"# {k} = {v} {unit}".rstrip())
    for msg in wl.failures:
        print(f"# FAILED: {msg}")
    correct = not wl.failures
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


def main() -> int:
    return run(parse_args(sys.argv[1:]))


if __name__ == "__main__":
    sys.exit(main())
