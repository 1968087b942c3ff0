"""Finance-pipeline benchmark.

    python3 perfbench/run.py --workload backfill_dense --seed 1 --seconds 25 --trace 0

Run from the repository root. It generates the workload's inputs from
the seed under ``.perfbench_work/``, starts one Spark session with
``session.get_spark`` at ``local[<nproc>]``, drives the engine's
public API in a closed loop (one client) for ``--seconds`` and checks
every operation's output. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``,
the end-to-end metrics with ``--trace 0`` and the per-layer metrics
with ``--trace 1`` (see BENCHMARK.json). A JSON artifact with the
host and provenance block, every operation and the spans is written
to ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_finance_pipeline_spark"


def tail(values: list[float]) -> tuple[float | None, float | None, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count); no value below 11 samples."""
    xs = sorted(values)
    if len(xs) < 11:
        return None, None, len(xs)
    i = len(xs) - 11
    return xs[i], 100.0 * (i + 1) / len(xs), len(xs)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def host_block(spark, args, nproc: int, steal_share: float) -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        sha = None
    return {
        "nproc": nproc,
        "mem_total_mb": mem_kb // 1024,
        "spark": spark.version,
        "python": platform.python_version(),
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "git_sha": sha,
        "master": spark.sparkContext.master,
        "seed": args.seed,
        "workload": args.workload,
        "seconds": args.seconds,
        # share of CPU time the hypervisor gave to other guests during
        # the workload; runs on a busy host slow down together
        "cpu_steal_share": steal_share,
    }


class Session:
    """The run's Spark session; owns the JVM and stops it at close."""

    def __init__(self, work: str, nproc: int):
        self.nproc = nproc
        self.conf = {
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
        }
        self.spark = None
        self.get_spark_s = 0.0

    def start(self) -> float:
        """JVM and session start plus the first action, in seconds."""
        from etl_finance_pipeline_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_conf=self.conf,
        )
        self.get_spark_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(self.nproc).count()
        return time.perf_counter() - t

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                # the JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def end_to_end(outcome, setup_s: float) -> tuple[dict, dict]:
    from workloads import MIN_PASSES, READ_WARMUP

    passes = [o for o in outcome.ops if o.kind == "pass"]
    end = outcome.ops.index(passes[MIN_PASSES]) if len(passes) > MIN_PASSES else None
    measured = outcome.ops[:end]
    warm = passes[1:MIN_PASSES]
    # the median takes the reads after the last measured pass, less the
    # first READ_WARMUP of them
    last = passes[MIN_PASSES - 1] if len(passes) >= MIN_PASSES else None
    window = measured[measured.index(last) + 1:] if last is not None else []
    reads = [o.s for o in window if o.kind == "read"][READ_WARMUP:]
    attempted = len(measured)
    failed = sum(not o.ok for o in measured)
    # the tail takes every measured read, warm-up ones too, for samples
    read_tail, pct, n_reads = tail([o.s for o in measured if o.kind == "read"])
    metrics = {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (passes[0].s, "s"),
        "pipeline_s": (_median([o.s for o in warm]), "s"),
        "rows_per_s": (_median([o.rows / o.s for o in warm]), "rows/s"),
        "read_p50_s": (_median(reads), "s"),
        "out_bytes_per_in_byte": (_median(outcome.out_per_in[:MIN_PASSES]), "ratio"),
        "peak_rss_mb": (outcome.peak_rss_mb, "MB"),
        "ok_op_ratio": ((attempted - failed) / attempted, "ratio"),
    }
    notes = {
        "warm_passes": len(warm),
        "pipeline_samples": [o.s for o in warm],
        "read_samples_p50": len(reads),
        "read_tail_s": read_tail,
        "read_tail_percentile": pct,
        "read_samples": n_reads,
        "ok_op_ratio_base": {"attempted": attempted, "failed": failed},
        "passes_in_window": len(passes),
    }
    return metrics, notes


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# Per-layer metrics printed with --trace 1 (BENCHMARK.json lists the
# same names). Stage times of a layer that has no Spark jobs of its own
# on some workload (table_format on backfill_dense, the pipeline's self
# span, GC of small layers) would read 0 on every run, so they are kept
# in the artifact only.
COMPUTE_LAYERS = ("readers", "normalize", "report", "gaps", "resample", "exporter")
COMPUTE_FIELDS = ("s", "calls", "jobs", "stages", "tasks", "executor_run_s",
                  "executor_cpu_s", "shuffle_write_bytes", "max_task_s")
PER_LAYER = (
    ["session.s", "session.calls"]
    + [f"{lay}.{f}" for lay in COMPUTE_LAYERS for f in COMPUTE_FIELDS]
    + [f"table_format.{f}" for f in ("calls", "jobs", "stages", "tasks", "shuffle_write_bytes")]
    + ["pipeline.s", "pipeline.calls"]
    + ["readers.files", "readers.quarantined", "normalize.dedupe_ratio",
       "normalize.ts_null_ratio", "gaps.grid_rows", "gaps.inserted_ratio",
       "resample.rows_out", "exporter.bytes_written", "exporter.files_written",
       "table_format.files_live", "table_format.files_read_ratio", "table_format.log_files"]
    + ["pass.traced_s", "pass.untraced_s", "pass.traced_over_untraced",
       "pass.jobs", "pass.stages", "pass.tasks"]
)
SHORT = {
    "sources.readers": "readers", "operators.normalize": "normalize",
    "operators.report": "report", "operators.gaps": "gaps",
    "operators.resample": "resample", "sources.exporter": "exporter",
    "sources.table_format": "table_format", "plans.pipeline": "pipeline",
}
UNITS = {"s": "s", "calls": "count", "jobs": "count", "stages": "count",
         "tasks": "count", "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
         "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "max_task_s": "s"}


def per_layer(outcome, session: Session) -> dict:
    """Every per-layer number: medians over the traced passes of each
    layer's totals, plus the untraced passes' exact job counts."""
    from spans import STAGE_FIELDS
    from workloads import MIN_PASSES

    traced = [t for t in outcome.traced if t["pass"] < MIN_PASSES]
    out: dict[str, tuple] = {
        "session.s": (session.get_spark_s, "s"),
        "session.calls": (1, "count"),
    }
    for layer, name in SHORT.items():
        for f in ("s", "calls", *STAGE_FIELDS):
            vals = [t["layers"].get(layer, {}).get(f, 0) for t in traced]
            out[f"{name}.{f}"] = (_median(vals), UNITS[f])

    def counter(layer, key, reduce=sum):
        vals = [
            reduce(t["layers"].get(layer, {}).get("counters", {}).get(key, [0])) for t in traced
        ]
        return _median(vals)

    def ratio(layer, num, den):
        vals = []
        for t in traced:
            c = t["layers"].get(layer, {}).get("counters", {})
            d = sum(c.get(den, []))
            vals.append(sum(c.get(num, [])) / d if d else 0.0)
        return _median(vals)

    out.update({
        "readers.files": (counter("sources.readers", "files"), "count"),
        "readers.quarantined": (counter("sources.readers", "quarantined"), "count"),
        "normalize.dedupe_ratio": (counter("operators.normalize", "dedupe_ratio"), "ratio"),
        "normalize.ts_null_ratio": (counter("operators.normalize", "ts_null_ratio"), "ratio"),
        "gaps.grid_rows": (counter("operators.gaps", "grid_rows"), "count"),
        "gaps.inserted_ratio": (ratio("operators.gaps", "inserted", "grid_rows"), "ratio"),
        "resample.rows_out": (counter("operators.resample", "rows"), "count"),
        "exporter.bytes_written": (counter("sources.exporter", "bytes_written"), "bytes"),
        "exporter.files_written": (counter("sources.exporter", "files_written"), "count"),
        "table_format.snapshot_s": (counter("sources.table_format", "snapshot_s", _median), "s"),
        "table_format.files_live": (counter("sources.table_format", "files_live"), "count"),
        "table_format.files_read_ratio": (
            ratio("sources.table_format", "files_read", "files_snapshot"), "ratio"),
        "table_format.log_files": (counter("sources.table_format", "log_files"), "count"),
    })
    untraced = [c for c in outcome.pass_counters if 1 <= c["pass"] < MIN_PASSES]
    traced_s = _median([t["traced_s"] for t in traced])
    untraced_s = _median([c["s"] for c in untraced])
    out.update({
        "pass.traced_s": (traced_s, "s"),
        "pass.untraced_s": (untraced_s, "s"),
        "pass.traced_over_untraced": (traced_s / untraced_s if untraced_s else 0.0, "ratio"),
        "pass.jobs": (_median([c["jobs"] for c in untraced]), "count"),
        "pass.stages": (_median([c["stages"] for c in untraced]), "count"),
        "pass.tasks": (_median([c["tasks"] for c in untraced]), "count"),
    })
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gen
    import workloads

    if args.workload not in workloads.SPECS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    bench_dir = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(bench_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(bench_dir, "results")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(results, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # get_spark's own heap knob, at 1g: with its 8g default the JVM's
    # resident set grows lazily to 2.5-3.3 GB from run to run on a 4-core,
    # 15 GB host, and passes ran 10-25% slower
    os.environ["SPARK_DRIVER_MEM"] = "1g"

    session = Session(work, nproc)
    try:
        inputs = gen.generate(args.workload, os.path.join(work, "in"), args.seed,
                              workloads.SPECS[args.workload].size)
        setup_s = session.start()
        wl = workloads.Workload(args.workload, session.spark, inputs, os.path.join(work, "run"),
                                args.seed, args.seconds, bool(args.trace))
        steal0, total0 = cpu_ticks()
        outcome = wl.run()
        steal1, total1 = cpu_ticks()
        steal = (steal1 - steal0) / max(1, total1 - total0)
        host = host_block(session.spark, args, nproc, steal)
        e2e, notes = end_to_end(outcome, setup_s)
        layers = per_layer(outcome, session) if args.trace else {}
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)

    ops = outcome.ops
    correct = bool(ops) and all(o.ok or o.known_defect for o in ops)
    failed = sum(not o.ok for o in ops)
    metrics = {k: layers[k] for k in PER_LAYER} if args.trace else e2e
    artifact = {
        "host": host,
        "correct": correct,
        "attempted": len(ops),
        "failed": failed,
        "failures": [o.__dict__ for o in ops if not o.ok],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "notes": notes,
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
        "ops": [{"kind": o.kind, "s": o.s, "ok": o.ok} for o in ops],
        "untraced_passes": outcome.pass_counters,
        "traced_passes": outcome.traced,
        "spans": outcome.spans,
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    for o in ops:
        if not o.ok:
            tag = "known defect" if o.known_defect else "FAILED"
            print(f"# {tag}: {o.kind} op: {o.detail}")
    for k, (v, u) in metrics.items():
        print(f"# {k} = {v:.6g} {u}")
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
