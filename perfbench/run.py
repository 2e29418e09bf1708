"""Benchmark entry point for pyconnect_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the inputs from ``--seed`` with the
generator process (``gen.py``), starts Spark as ``local[<cores>]``, warms
up, measures for ``--seconds``, checks every output, and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` measures a
traced window (spans, Spark job groups, the Spark event log) and reports
the per-layer metrics and the tracing overhead. The overhead is measured
against untraced runs of the same code, workload and seconds: those
recorded earlier in this checkout, or else a child process it runs first.
Details of every run, and the spans of a traced one, are written to
``.perfbench_out/``. See perfbench/README.md for workloads and metrics.
"""

from __future__ import annotations

import argparse
import ctypes
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "items/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "delivered_frac": "ratio",
    "recall": "ratio",
}
PER_LAYER = {
    **{
        f"streaming.{role}.{name}": unit
        for role in ("produce", "consume")
        for name, unit in (
            ("batches", "count"),
            ("rows_per_batch", "count"),
            ("trigger_ms_p50", "ms"),
            ("latest_offset_ms_p50", "ms"),
            ("planning_ms_p50", "ms"),
            ("add_batch_ms_p50", "ms"),
            ("wal_commit_ms_p50", "ms"),
            ("commit_offsets_ms_p50", "ms"),
        )
    },
    "streaming.backlog_records_max": "count",
    "streaming.sink.flush_s": "s",
    "streaming.sink.flushes": "count",
    "avro_codec.encode_s": "s",
    "avro_codec.decode_s": "s",
    "avro_codec.encode_records_per_s": "1/s",
    "sources.scan_s": "s",
    "dedup.minhash_s": "s",
    "dedup.candidates_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verify_s": "s",
    "dedup.verified_edges": "count",
    "dedup.verify_yield": "ratio",
    "dedup.components_s": "s",
    "similarity.ivf_build_s": "s",
    "similarity.pq_train_s": "s",
    "similarity.pq_encode_s": "s",
    "similarity.search_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.task_busy_frac": "ratio",
    "generator.late_max_s": "s",
    "memory.peak_pss_mb": "MB",
    "trace.overhead_frac": "ratio",
    "trace.accounted_frac": "ratio",
}
# composite span -> (its metric, the probe metrics that replay parts of it);
# the metric is the span's self time minus those probes (see workloads.py)
COMPOSITES = {
    "dedup.verify": ("dedup.verify_s", ("dedup.minhash_s", "dedup.candidates_s")),
    "similarity.search": (
        "similarity.search_s",
        ("similarity.ivf_build_s", "similarity.pq_train_s", "similarity.pq_encode_s"),
    ),
}
N_SETUPS = 3
DRIVER_MEMORY = "2g"  # far below RAM; the inputs are a few MB


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Generator:
    """Runs gen.py as its own process; the program sees only its files."""

    def __init__(self, seed: int):
        self.seed = seed

    def __call__(self, kind: str, out: str, *args, background: bool = False):
        cmd = [
            sys.executable, os.path.join(HERE, "gen.py"), kind,
            "--seed", str(self.seed), "--out", out, *map(str, args),
        ]
        if background:
            return subprocess.Popen(cmd, stdout=subprocess.DEVNULL)
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
        return None


def start_session(work: str, cores: int, event_log: str | None):
    from pyconnect_spark.session import get_spark
    from spans import event_log_conf

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        # the console progress bar's carriage returns swallow printed lines
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={work}/derby -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        # keep every micro-batch of a window, not only the last 100
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    if event_log:
        conf.update(event_log_conf(event_log))
    spark = get_spark("perfbench", cores=cores, driver_memory=DRIVER_MEMORY, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


PR_SET_CHILD_SUBREAPER = 36
CHILD_GRACE_S = 30.0


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a process
    whose parent exits is re-parented here, not to init, so ``end_children``
    can wait for it. The JVM leaves a zombie child of its launch script
    behind when it exits, and its Python worker daemon outlives it briefly."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def end_children() -> None:
    """Wait until no process under this one is left, reaping each; what is
    still running after ``CHILD_GRACE_S`` is killed."""
    from spans import process_tree

    deadline = time.monotonic() + CHILD_GRACE_S
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            for pid in process_tree(os.getpid())[1:]:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


def stop_jvm() -> None:
    """End the JVM pyspark launched for this process and wait until it,
    and every process under it, has gone. ``spark.stop()`` leaves the JVM
    running; on its own it exits only after this process has, some seconds
    later."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.proc.stdin.close()  # the JVM's gateway server exits when its stdin closes
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    end_children()


def percentile(xs: list, q: float) -> float:
    import numpy as np

    return float(np.percentile(xs, q))


def end_to_end(w, setups: list) -> dict:
    return {
        "setup_s": statistics.median(setups),
        "items_per_s": w.items_per_s,
        "latency_p50_s": percentile(w.latencies, 50),
        "latency_p90_s": percentile(w.latencies, 90),
        "delivered_frac": w.delivered_once / w.offered,
        "recall": w.recall_num / w.recall_den,
    }


def per_layer(traced, base: dict, tracer, probes: dict, counters: dict, cores: int) -> tuple[dict, dict]:
    """Per-layer metrics of the traced window. Times are per timed
    operation (a pass, a live window)."""
    from spans import SparkCounters, covered_seconds, self_seconds

    out = {k: 0.0 for k in PER_LAYER}
    out.update(traced.layer)
    out.update(probes)
    path = [s for s in tracer.spans if s.kind == "path"]
    selfs = self_seconds(path)
    iters = [s for s in path if s.name == "iteration"]
    n_ops = max(len(iters), 1)
    by_name: dict[str, float] = {}
    for s in path:
        if s.name != "iteration":
            by_name[s.name] = by_name.get(s.name, 0.0) + selfs[s.id]
    per_op = {k: v / n_ops for k, v in by_name.items()}
    if "dedup.components" in per_op:
        out["dedup.components_s"] = per_op["dedup.components"]
    for composite, (metric, parts) in COMPOSITES.items():
        if composite in per_op:
            out[metric] = max(per_op[composite] - sum(probes[p] for p in parts), 0.0)
    for k in ("streaming.sink.flush_s", "streaming.sink.flushes"):
        out[k] = traced.layer.get(k, 0.0) / n_ops
    if out["dedup.candidate_pairs"]:
        out["dedup.verify_yield"] = out["dedup.verified_edges"] / out["dedup.candidate_pairs"]

    groups = {s.id for s in path} | {s.attrs["query_run_id"] for s in path if "query_run_id" in s.attrs}
    total = SparkCounters()
    for g in groups & counters.keys():
        total.add(counters[g])
    iter_wall = sum(s.seconds for s in iters)
    out["spark.jobs"] = total.jobs / n_ops
    out["spark.tasks"] = total.tasks / n_ops
    out["spark.shuffle_write_mb"] = total.shuffle_write_mb / n_ops
    out["spark.spill_mb"] = total.spill_mb / n_ops
    out["spark.gc_s"] = total.gc_s / n_ops
    out["spark.task_busy_frac"] = total.task_run_s / (cores * iter_wall) if iter_wall else 0.0
    out["trace.overhead_frac"] = traced.overhead_base / base["value"] - 1.0
    # share of the timed path's wall time inside some layer span (a union:
    # the two live queries run side by side)
    covered = sum(covered_seconds(i, [s for s in path if s.parent == i.id]) for i in iters)
    out["trace.accounted_frac"] = covered / iter_wall if iter_wall else 0.0

    detail = {
        "spans": [
            {
                "id": s.id, "name": s.name, "kind": s.kind, "parent": s.parent, "run_id": s.run_id,
                "start_s": s.start_ns / 1e9, "end_s": s.end_ns / 1e9,
                "self_s": selfs.get(s.id), "attrs": s.attrs,
                "spark": vars(counters[s.id]) if s.id in counters else None,
            }
            for s in sorted(tracer.spans, key=lambda s: s.start_ns)
        ],
        "query_spark": {g: vars(c) for g, c in counters.items() if g in groups and ":" not in g},
    }
    return out, detail


def code_version() -> str:
    """Hash of every file of the program and the benchmark, so a record
    is only compared with runs of the same code."""
    h = hashlib.sha256()
    for top in ("pyconnect_spark", "perfbench"):
        for path in sorted(glob.glob(os.path.join(ROOT, top, "**", "*"), recursive=True)):
            if os.path.isfile(path) and "__pycache__" not in path:
                h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def untraced_base(args: argparse.Namespace, out_dir: str, code: str) -> dict:
    """What tracing overhead is measured against: the median operation
    time (live: latency p50) of the untraced runs recorded in this
    checkout with the same code, workload and seconds. Any seed counts: a
    seed changes the inputs' content, not their sizes, and a traced run
    that had to wait for an untraced one of its own seed would cost two
    runs. If there are none, one is made first, as a child process with
    this seed. A fresh process either way, so both sides are measured at
    the same stage of JIT warm-up."""

    def recorded() -> list[float]:
        vals = []
        for path in glob.glob(os.path.join(out_dir, f"{args.workload}-t0-*.json")):
            with open(path) as f:
                rec = json.load(f)
            if rec.get("code") == code and rec["seconds"] == args.seconds:
                vals.append(rec["overhead_base"])
        return vals

    vals = recorded()
    if not vals:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
        vals = recorded()
    return {"value": statistics.median(vals), "runs": len(vals)}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pyconnect_spark", "__init__.py")):
        print(f"perfbench: no pyconnect_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    adopt_orphans()
    # a run stopped from outside still ends the JVM and waits for it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, ROOT)
    # Python workers import pyconnect_spark too, whatever their cwd
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import workloads
    from spans import PeakMemory, Tracer, read_event_log

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-t{args.trace}-s{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    gen = Generator(args.seed)
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    code = code_version()
    base = untraced_base(args, out_dir, code) if args.trace else None
    spark = None
    try:
        setups = []
        for _ in range(1 if args.trace else N_SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(work, cores, log_dir)
            inputs = os.path.join(work, "inputs")
            shutil.rmtree(inputs, ignore_errors=True)
            wl = workloads.WORKLOADS[args.workload](inputs)
            wl.generate(gen)
            wl.stage(spark)
            setups.append(time.perf_counter() - t0)
        tracer = Tracer(run_id, enabled=False)
        ctx = workloads.Context(spark, tracer, work, cores)
        wl.warm_up(ctx)
        if args.trace:
            tracer.spark, tracer.enabled = spark, True
        with PeakMemory() as mem:
            window = wl.measure(ctx, args.seconds)
        if args.trace:
            probes = wl.probes(ctx, window)
            spark.stop()  # completes the event log
            spark = None
            layer, detail = per_layer(window, base, tracer, probes, read_event_log(log_dir), cores)
            layer["memory.peak_pss_mb"] = mem.peak_bytes / 2**20
        failed = [name for name, ok in window.checks if not ok]
        if args.trace:
            metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in PER_LAYER.items()}
        else:
            e2e = end_to_end(window, setups)
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
        result = {
            "correct": not failed, "attempted": len(window.checks), "failed": len(failed), "metrics": metrics,
        }
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace, "code": code,
            "cores": cores, "setups_s": setups, "walls_s": window.walls,
            "overhead_base": window.overhead_base, "peak_pss_mb": mem.peak_bytes / 2**20,
            "layer": window.layer, "failed_checks": failed,
            "failed_frac": len(failed) / len(window.checks), **result,
        }
        if args.trace:
            record.update(detail, untraced_base=base)
        with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
            json.dump(record, f, indent=1)
    finally:
        try:
            if spark is not None:
                spark.stop()
        finally:
            stop_jvm()
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
