"""The benchmark's workloads: one closed-loop client driving the
engine's public API over generated inputs, checking every operation.

An operation is one ``run_pipeline`` call (a pass, or one day's
append) or one read of its output. The next operation starts only
when the previous one has returned. A failed check marks that
operation failed and the run keeps going.

With tracing on, a pass is composed by the benchmark itself from the
layer calls, in ``run_pipeline``'s order, with a span around each
layer and the layer's output materialized at each boundary.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

import gen
from spans import StatusStore, Tracer

from etl_finance_pipeline_spark.config import EngineConfig
from etl_finance_pipeline_spark.operators.gaps import repair_gaps
from etl_finance_pipeline_spark.operators.normalize import normalize_df
from etl_finance_pipeline_spark.operators.report import data_quality_report
from etl_finance_pipeline_spark.operators.resample import resample_ohlc
from etl_finance_pipeline_spark.plans.pipeline import infer_symbol, run_pipeline, tf_label
from etl_finance_pipeline_spark.sources.exporter import (
    append_export_log,
    derive_partition_columns,
    validate_for_export,
    write_parquet_with_metadata,
)
from etl_finance_pipeline_spark.sources.readers import load_directory, read_parquet
from etl_finance_pipeline_spark.sources.table_format import read_table, snapshot, write_table


@dataclass(frozen=True)
class Spec:
    size: dict
    timeframes: tuple[str, ...]
    # a transactional workload appends one input unit (a day) per pass
    # to one growing table; the others rerun the whole input unit into
    # a fresh output directory each pass
    transactional: bool
    read_tf: str  # table the reads query
    read_hours: int  # reads cover the last this-many hours


SPECS = {
    "backfill_dense": Spec(
        size={"symbols": 12, "days": 1},
        timeframes=("1T", "1H"),
        transactional=False,
        read_tf="1T",
        read_hours=6,
    ),
    "daily_append": Spec(
        size={"symbols": 8, "days": 12},
        timeframes=("5T", "1H"),
        transactional=True,
        read_tf="5T",
        read_hours=48,
    ),
}

# Every run makes at least this many passes: the cold one and two warm.
# The end-to-end metrics come from these passes and the operations
# between them, so every run measures the same point of the JVM's
# warm-up; passes that also fit in the window are checked and recorded.
MIN_PASSES = 3
# Reads after each pass; after the last measured pass, FINAL_READS.
# Reads still get faster from one pass to the next, and again after
# each pass: read_p50_s skips the first READ_WARMUP of the final reads.
READS_PER_PASS = 1
FINAL_READS = 24
READ_WARMUP = 6
TOL = 1e-9


@dataclass
class Op:
    kind: str  # "pass" | "read" | "vendor"
    s: float
    ok: bool
    rows: int = 0  # input rows a pass ingested
    # a failure the benchmark expects on this engine version: still
    # counted in `failed`, but it does not make the run incorrect
    known_defect: bool = False
    detail: str = ""


@dataclass
class Outcome:
    ops: list[Op] = field(default_factory=list)
    # per pass: bytes the pass added on disk (tables, sidecars, logs,
    # manifests, reports) over the bytes of its input files
    out_per_in: list[float] = field(default_factory=list)
    pass_counters: list[dict] = field(default_factory=list)  # untraced passes
    traced: list[dict] = field(default_factory=list)  # per traced pass: layer totals
    spans: list[dict] = field(default_factory=list)
    peak_rss_mb: float = 0.0  # at the end of the measured passes


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _config(spec: Spec, raw: str, out: str) -> EngineConfig:
    return EngineConfig.model_validate({
        "paths": {
            "raw_path": raw,
            "processed_path": os.path.join(out, "processed"),
            "reports_path": os.path.join(out, "reports"),
            "logs_path": os.path.join(out, "logs"),
            "quarantine_path": os.path.join(out, "quarantine"),
        },
        "resample": {"timeframes": list(spec.timeframes)},
        "parquet": {"transactional": spec.transactional},
    })


def _utc_naive(values) -> pd.DatetimeIndex:
    idx = pd.DatetimeIndex(values)
    return idx.tz_convert("UTC").tz_localize(None) if idx.tz is not None else idx


def _agg(frame: pd.DataFrame) -> tuple:
    return (len(frame), frame["VOLUME"].sum(), frame["HIGH"].max(), frame["LOW"].min())


def _same_agg(got: tuple, want: tuple) -> bool:
    return got[0] == want[0] and all(
        math.isclose(g, w, rel_tol=TOL, abs_tol=TOL) for g, w in zip(got[1:], want[1:])
    )


def _same_candles(got: pd.DataFrame, want: pd.DataFrame) -> str:
    """'' when *got* matches the pandas candles within TOL, else why not."""
    got = got.sort_index()
    if not np.array_equal(got.index.as_unit("ns").asi8, want.index.as_unit("ns").asi8):
        return f"stamps differ: {len(got)} vs {len(want)} candles"
    for c in ("OPEN", "HIGH", "LOW", "CLOSE", "VOLUME"):
        diff = np.abs(got[c].to_numpy(float) - want[c].to_numpy(float))
        if not np.all(diff <= TOL * np.maximum(1.0, np.abs(want[c].to_numpy(float)))):
            return f"{c} differs by up to {diff.max():.3g}"
    return ""


def _read_candles(files: list[str]) -> pd.DataFrame:
    """Candle files read with pyarrow, independently of the engine."""
    cols = ["TIMESTAMP", "OPEN", "HIGH", "LOW", "CLOSE", "VOLUME"]
    frame = pd.concat([pq.read_table(f, columns=cols).to_pandas() for f in files])
    frame.index = _utc_naive(frame.pop("TIMESTAMP"))
    frame.index.name = "TIMESTAMP"
    return frame


class Workload:
    """Runs one workload in a closed loop for *seconds*."""

    def __init__(self, name, spark, inputs, work, seed, seconds, traced):
        self.spec = SPECS[name]
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.rng = np.random.default_rng([seed, 99])
        self.seconds = seconds
        self.traced = traced
        self.status = StatusStore(spark)
        self.tracer = Tracer(spark)
        self.out = Outcome()
        self.trace_reads = False
        self.out_total = 0  # bytes under the output directory so far

    # -- loop --------------------------------------------------------

    def run(self) -> Outcome:
        t0 = time.perf_counter()
        last = 0.0
        k = 0
        while True:
            if self.spec.transactional and k >= len(self.inputs.units):
                break
            # closed loop inside the window: start a pass only if it is
            # expected to end inside the window
            if k >= MIN_PASSES and time.perf_counter() - t0 + last > self.seconds:
                break
            # traced runs alternate after the cold pass: untraced passes
            # for the overhead comparison and exact job counts, traced
            # ones for the layers
            last = self.one_pass(k, self.traced and k >= 1 and k % 2 == 0)
            if k == 0 and self.inputs.vendor is not None:
                self.vendor_op()
            if k == MIN_PASSES - 1:
                # high-water marks of the Python driver and its JVM
                jvm = self.spark._jvm.java.lang.ProcessHandle.current().pid()
                self.out.peak_rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(jvm)) / 1024
            k += 1
        self.out.spans = self.tracer.records()
        return self.out

    def one_pass(self, k: int, trace_this: bool) -> float:
        spec = self.spec
        if spec.transactional:
            unit = self.inputs.units[k]
            out = os.path.join(self.work, "out")
        else:
            unit = self.inputs.units[0]
            out = os.path.join(self.work, f"out{k}")
        cfg = _config(spec, unit.raw_dir, out)
        before = self.status.last_job_id() if self.traced else None
        ok, detail = True, ""
        self.tracer.pass_id = k
        t = time.perf_counter()
        try:
            if trace_this:
                self.traced_pass(cfg, unit)
            else:
                run_pipeline(self.spark, cfg, dry_run=False)
            s = time.perf_counter() - t
        except Exception as exc:  # a failed pass is counted, the run goes on
            s = time.perf_counter() - t
            ok, detail = False, f"{type(exc).__name__}: {str(exc)[:200]}"
        if self.traced and not trace_this:
            counters = self.status.stage_totals(self.status.jobs_after(before), max_task=False)
            self.out.pass_counters.append({"pass": k, "s": s, **counters})
        if ok:
            detail = self.check_pass(k, unit, cfg)
            ok = not detail
        self.out.ops.append(Op("pass", s, ok, rows=unit.rows, detail=detail))
        self.trace_reads = trace_this
        if ok:
            self.reads(k, cfg)
        if trace_this:
            self.out.traced.append(self.layer_totals(k, s))
        before_bytes = self.out_total
        self.out_total = _dir_bytes(out)
        self.out.out_per_in.append((self.out_total - before_bytes) / unit.bytes)
        if not spec.transactional:
            self.out_total = 0  # every pass writes a fresh output directory
            shutil.rmtree(os.path.join(self.work, f"out{k - 1}"), ignore_errors=True)
        return s

    def vendor_op(self) -> None:
        """Ingest the vendor's pandas-default Parquet file on its own.
        The engine reads its nanosecond stamps as integers and nulls
        them, so its candles are missing: a known defect, reported.
        (Placed in the main directory, the file fails the whole pass.)"""
        unit = self.inputs.vendor
        cfg = _config(self.spec, unit.raw_dir, os.path.join(self.work, "vendor_out"))
        cfg.resample.timeframes = ["1H"]
        t = time.perf_counter()
        try:
            run_pipeline(self.spark, cfg, dry_run=False)
            detail = self.check_counts(unit.clean, cfg, ["1H"])
        except Exception as exc:
            detail = f"{type(exc).__name__}: {str(exc)[:200]}"
        self.out.ops.append(
            Op("vendor", time.perf_counter() - t, not detail, known_defect=True, detail=detail)
        )

    # -- checks ------------------------------------------------------

    def table_files(self, cfg: EngineConfig, tf: str, symbol: str | None = None) -> list[str]:
        path = os.path.join(cfg.paths.processed_path, f"candles_{tf_label(tf)}")
        if self.spec.transactional:
            files = [os.path.join(path, f["path"]) for f in snapshot(path).files]
        else:
            files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if symbol is not None:
            files = [f for f in files if f"{os.sep}SYMBOL={symbol}{os.sep}" in f]
        return files

    def check_counts(self, clean: dict, cfg: EngineConfig, tfs, base: dict | None = None) -> str:
        for tf in tfs:
            want = gen.expected_rows(clean, tf)
            for sym, n in want.items():
                n += (base or {}).get((tf, sym), 0)
                files = self.table_files(cfg, tf, sym)
                got = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
                if got != n:
                    return f"candles_{tf_label(tf)} {sym}: {got} rows, expected {n}"
        return ""

    def check_pass(self, k: int, unit: gen.Unit, cfg: EngineConfig) -> str:
        spec = self.spec
        base = None
        if spec.transactional:
            base = {}
            for prior in self.inputs.units[:k]:
                for tf in spec.timeframes:
                    for sym, n in gen.expected_rows(prior.clean, tf).items():
                        base[(tf, sym)] = base.get((tf, sym), 0) + n
        bad = self.check_counts(unit.clean, cfg, spec.timeframes, base)
        if bad:
            return bad
        with open(os.path.join(cfg.paths.logs_path, "export_log.ndjson")) as fh:
            entries = [json.loads(line) for line in fh][-len(spec.timeframes):]
        for e in entries:
            flags = ("low_above_min", "high_below_max", "negative_OPEN", "negative_HIGH",
                     "negative_LOW", "negative_CLOSE")
            if any(e.get(f) for f in flags):
                return f"validation flags OHLC violations in {e['output']}"
        # one sampled symbol's 1H candles against pandas
        sym = str(self.rng.choice(sorted(unit.clean)))
        got = _read_candles(self.table_files(cfg, "1H", sym))
        want = gen.reference_candles(unit.clean[sym], "1H")
        got = got[(got.index >= want.index[0]) & (got.index <= want.index[-1])]
        bad = _same_candles(got, want)
        return f"{sym} 1H candles: {bad}" if bad else ""

    # -- reads -------------------------------------------------------

    def reads(self, k: int, cfg: EngineConfig) -> None:
        spec = self.spec
        path = os.path.join(cfg.paths.processed_path, f"candles_{tf_label(spec.read_tf)}")
        units = self.inputs.units[: k + 1] if spec.transactional else self.inputs.units
        syms = sorted(units[-1].clean)
        for _ in range(FINAL_READS if k == MIN_PASSES - 1 else READS_PER_PASS):
            sym = str(self.rng.choice(syms))
            last = max(int(u.clean[sym].ts[-1]) for u in units if sym in u.clean)
            cutoff_s = last - spec.read_hours * 3600
            cutoff = datetime.fromtimestamp(cutoff_s, timezone.utc)
            want_df = pd.concat([
                gen.reference_candles(u.clean[sym], spec.read_tf)
                for u in units
                if sym in u.clean and u.clean[sym].ts[-1] >= cutoff_s
            ])
            want = _agg(want_df[want_df.index >= cutoff.replace(tzinfo=None)])
            t = time.perf_counter()
            try:
                got = self.read_once(path, sym, cutoff)
                s = time.perf_counter() - t
                ok = _same_agg(got, want)
                detail = "" if ok else f"{sym} read: got {got}, expected {want}"
            except Exception as exc:
                s = time.perf_counter() - t
                ok, detail = False, f"{type(exc).__name__}: {str(exc)[:200]}"
            self.out.ops.append(Op("read", s, ok, detail=detail))

    def read_once(self, path: str, sym: str, cutoff: datetime) -> tuple:
        traced = self.trace_reads
        if self.spec.transactional:
            layer = "sources.table_format"
            with self.tracer.span(layer) if traced else nullcontext() as sp:
                if sp is not None:
                    t = time.perf_counter()
                    snap = snapshot(path)
                    sp.counters["snapshot_s"] = time.perf_counter() - t
                    sp.counters["files_snapshot"] = len(snap.files)
                df = read_table(
                    self.spark, path, partition_filter={"SYMBOL": sym},
                    stats_filter=[("TIMESTAMP", ">=", cutoff.strftime("%Y-%m-%d %H:%M:%S"))],
                )
                if sp is not None:
                    sp.counters["files_read"] = len(df.inputFiles())
                row = self._query(df, cutoff)
        else:
            with self.tracer.span("sources.readers") if traced else nullcontext():
                df = read_parquet(self.spark, os.path.join(path, f"SYMBOL={sym}"))
                row = self._query(df, cutoff)
        return row

    @staticmethod
    def _query(df, cutoff: datetime) -> tuple:
        row = (
            df.filter(F.col("TIMESTAMP") >= F.lit(cutoff))
            .agg(F.count("*"), F.sum("VOLUME"), F.max("HIGH"), F.min("LOW"))
            .collect()[0]
        )
        return tuple(row)

    # -- traced pass -------------------------------------------------

    def traced_pass(self, cfg: EngineConfig, unit: gen.Unit) -> None:
        """``run_pipeline`` composed from its layer calls, in its order,
        one span per layer; each layer's output is persisted and counted
        at the boundary, so a span holds its own layer's work.

        The copy mirrors ``run_pipeline`` under the default performance
        settings (no symbol fusion, normalized frame cached) and fails
        the pass under any other. It runs the timeframes one after
        another, where ``run_pipeline`` overlaps them
        (``overlap_timeframes``), so the traced-over-untraced ratio
        holds that lost overlap as well as the tracing's own cost."""
        spark, tr, spec = self.spark, self.tracer, self.spec
        perf = cfg.performance
        if perf.fuse_symbol_partitioning or not perf.cache_normalized:
            raise RuntimeError(
                "traced pass mirrors fuse_symbol_partitioning=False, cache_normalized=True;"
                f" config has {perf.fuse_symbol_partitioning}, {perf.cache_normalized}"
            )
        on_grid = {tf: sum(gen.on_grid_rows(unit.clean, tf).values()) for tf in spec.timeframes}
        held = []

        def materialize(df, span):
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            held.append(df)
            span.counters["rows"] = df.count()
            return df

        try:
            with tr.span("plans.pipeline"):
                with tr.span("sources.readers") as sp:
                    loaded = load_directory(spark, cfg.paths.raw_path)
                    frames = [infer_symbol(df) for df in loaded.frames.values()]
                    df = frames[0]
                    for extra in frames[1:]:
                        df = df.unionByName(extra, allowMissingColumns=True)
                    sp.counters["files"] = sum(m["files"] for m in loaded.metadata)
                    sp.counters["quarantined"] = len(loaded.quarantined_files)
                    df = materialize(df, sp)
                with tr.span("operators.normalize") as sp:
                    norm = normalize_df(
                        df,
                        columns_map=cfg.schema_.columns_map,
                        required_columns=cfg.schema_.required_columns,
                        source_tz=cfg.timezone.source_default,
                        target_tz=cfg.timezone.target,
                    )
                    norm_df = materialize(norm.df, sp)
                    before = norm.report["rows_before_dedupe"]
                    sp.counters["dedupe_ratio"] = 1 - sp.counters["rows"] / before
                    sp.counters["ts_null_ratio"] = norm.report["ts_coerced_to_null"] / before
                with tr.span("operators.report"):
                    dq = [r.asDict() for r in data_quality_report(norm_df, ["SYMBOL"]).collect()]
                    os.makedirs(cfg.paths.reports_path, exist_ok=True)
                    with open(os.path.join(cfg.paths.reports_path, "dq_report.json"), "w") as fh:
                        json.dump(dq, fh, indent=2, default=str)
                for tf in spec.timeframes:
                    with tr.span("operators.gaps") as sp:
                        rep = materialize(repair_gaps(
                            norm_df, tf, ["SYMBOL"],
                            use_ffill_for=cfg.gaps.use_ffill_for,
                            interpolate_prices=cfg.gaps.interpolate_prices,
                            short_gap_minutes=cfg.gaps.short_gap_minutes,
                        ).df, sp)
                        sp.counters["grid_rows"] = sp.counters["rows"]
                        sp.counters["inserted"] = sp.counters["rows"] - on_grid[tf]
                    with tr.span("operators.resample") as sp:
                        res = materialize(resample_ohlc(
                            rep, tf, ["SYMBOL"],
                            drop_incomplete=cfg.resample.drop_incomplete,
                            extra_numeric_policy=cfg.resample.extra_numeric_policy,
                        ), sp)
                    out_path = os.path.join(cfg.paths.processed_path, f"candles_{tf_label(tf)}")
                    with tr.span("sources.exporter") as sp:
                        if spec.transactional:
                            validation = validate_for_export(res)
                            out_frame, resolved = derive_partition_columns(
                                res, cfg.parquet.partition_cols
                            )
                            with tr.span("sources.table_format") as tsp:
                                snap = write_table(
                                    out_frame, out_path, mode="append", partition_by=resolved
                                )
                                tsp.counters["files_live"] = len(snap.files)
                                tsp.counters["log_files"] = len(
                                    os.listdir(os.path.join(out_path, "_log"))
                                )
                            entry = {
                                "output": out_path, "table_version": snap.version, **validation
                            }
                        else:
                            report = write_parquet_with_metadata(
                                res, out_path,
                                compression=cfg.parquet.compression,
                                partition_cols=cfg.parquet.partition_cols,
                                metadata={"timeframe": tf_label(tf)},
                            )
                            entry = {"output": out_path, **report["validation"]}
                        sp.counters["bytes_written"] = _dir_bytes(out_path)
                        sp.counters["files_written"] = len(
                            glob.glob(os.path.join(out_path, "**", "*.parquet"), recursive=True)
                        )
                        append_export_log(cfg.paths.logs_path, entry)
        finally:
            for df in held:
                df.unpersist()

    def layer_totals(self, k: int, pass_s: float) -> dict:
        """Per-layer totals over pass *k*'s spans: self time, calls,
        stage metrics of the jobs in each span's own job group, and the
        layer's counters."""
        spans = [s for s in self.tracer.records() if s["pass_id"] == k]
        jobs = self.status.jobs()
        layers: dict[str, dict] = {}
        for s in spans:
            own = [j for j in jobs if j["group"] == s["group"]]
            tot = self.status.stage_totals(own)
            lay = layers.setdefault(s["name"], {"s": 0.0, "calls": 0})
            lay["s"] += s["self_s"]
            lay["calls"] += 1
            for key, v in tot.items():
                lay[key] = max(lay.get(key, 0), v) if key == "max_task_s" else lay.get(key, 0) + v
            for key, v in s["counters"].items():
                lay.setdefault("counters", {}).setdefault(key, []).append(v)
        root = next(s for s in spans if s["name"] == "plans.pipeline")
        # the pass's own spans; the reads after it are root spans of their own
        pipe = [s for s in spans if s is not root and s["end"] <= root["end"]]
        return {
            "pass": k,
            "pass_s": pass_s,
            "traced_s": root["end"] - root["start"],
            "self_sum_s": root["self_s"] + sum(s["self_s"] for s in pipe),
            "layers": layers,
        }
