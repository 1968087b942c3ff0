"""Self-tests for the benchmark's own code.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
from spans import Span, StatusStore, self_times  # noqa: E402

SMALL = {
    "backfill_dense": {"symbols": 4, "days": 1},
    "daily_append": {"symbols": 3, "days": 2},
}


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    gen.generate(workload, str(tmp_path / "a"), 5, SMALL[workload])
    gen.generate(workload, str(tmp_path / "b"), 5, SMALL[workload])
    gen.generate(workload, str(tmp_path / "c"), 6, SMALL[workload])
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


def _read_raw(path: str) -> pd.DataFrame:
    if path.endswith(".csv"):
        df = pd.read_csv(path)
        df["time"] = pd.to_datetime(df["time"])
    else:
        df = pd.read_parquet(path)
        df["time"] = df["time"].dt.tz_convert("UTC").dt.tz_localize(None)
    if "symbol" not in df.columns:
        df["symbol"] = os.path.basename(path).split("_")[0]
    return df


def _units(inputs):
    return inputs.units + ([inputs.vendor] if inputs.vendor else [])


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_expected_counts_match_generated_files(tmp_path, workload):
    """Expected candle counts follow from the files alone: dedupe, then
    one candle per grid stamp from each symbol's first to last bar."""
    inputs = gen.generate(workload, str(tmp_path), 3, SMALL[workload])
    for unit in _units(inputs):
        names = sorted(os.listdir(unit.raw_dir))
        frames = [_read_raw(os.path.join(unit.raw_dir, f)) for f in names]
        raw = pd.concat(frames, ignore_index=True)
        assert len(raw) == unit.rows
        assert raw.duplicated().any()
        bars = raw.drop_duplicates(["symbol", "time"])
        for rule, step in (("1T", 60), ("5T", 300), ("1H", 3600)):
            want = {}
            for sym, g in bars.groupby("symbol"):
                span = (g["time"].max() - g["time"].min()).total_seconds()
                want[sym] = int(span // step) + 1
            assert gen.expected_rows(unit.clean, rule) == want


def test_vendor_file_has_nanosecond_stamps(tmp_path):
    import pyarrow.parquet as pq

    inputs = gen.generate("backfill_dense", str(tmp_path), 3, SMALL["backfill_dense"])
    (name,) = os.listdir(inputs.vendor.raw_dir)
    schema = pq.read_schema(os.path.join(inputs.vendor.raw_dir, name))
    assert str(schema.field("time").type) == "timestamp[ns, tz=UTC]"
    for f in os.listdir(inputs.units[0].raw_dir):
        if f.endswith(".parquet"):
            schema = pq.read_schema(os.path.join(inputs.units[0].raw_dir, f))
            assert str(schema.field("time").type) == "timestamp[us, tz=UTC]"


def test_reference_candles_reindex_ffill_interpolate():
    ts = np.array([0, 60, 240], dtype=np.int64)  # 00:02 and 00:03 missing
    cols = {
        "open": np.array([1.0, 2.0, 5.0]), "high": np.array([1.5, 2.5, 5.5]),
        "low": np.array([0.5, 1.5, 4.5]), "close": np.array([1.0, 2.0, 5.0]),
        "volume": np.array([10.0, 20.0, 40.0]),
    }
    one = gen.reference_candles(gen.Clean(ts, cols), "1T")
    assert list(one["OPEN"]) == [1.0, 2.0, 3.0, 4.0, 5.0]
    assert list(one["VOLUME"]) == [10.0, 20.0, 20.0, 20.0, 40.0]
    five = gen.reference_candles(gen.Clean(ts, cols), "5T")
    # the 5T grid holds only 00:00 (exact-stamp join), one candle
    assert len(five) == 1 and five["CLOSE"].iloc[0] == 1.0
    assert gen.on_grid_rows({"X": gen.Clean(ts, cols)}, "1T") == {"X": 3}


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 6.0, parent=0),  # overlaps a: 1..6 covered
        Span("c", 8.0, 9.0, parent=0),
        Span("a.child", 2.0, 3.0, parent=1),
        Span("outside", 12.0, 13.0),
    ]
    assert self_times(spans) == pytest.approx([4.0, 2.0, 3.0, 1.0, 1.0, 1.0])


def test_tail_needs_ten_samples_beyond():
    assert run.tail([1.0] * 10) == (None, None, 10)
    value, pct, n = run.tail([float(i) for i in range(1, 21)])
    assert (value, n) == (10.0, 20)
    assert pct == 50.0
    assert sum(x > value for x in range(1, 21)) == 10


def test_read_median_takes_the_final_reads_less_the_warmup():
    from workloads import READ_WARMUP, Op, Outcome

    def ops(*spec):
        return [Op(kind, s, True, rows=100) for kind, s in spec]

    warmup = [("read", 7.0)] * READ_WARMUP
    outcome = Outcome(
        ops=ops(("pass", 20.0), ("read", 9.0), ("read", 9.0), ("vendor", 5.0),
                ("pass", 10.0), ("read", 7.0), ("read", 1.0), ("read", 2.0),
                ("pass", 8.0), *warmup, ("read", 3.0), ("read", 4.0), ("read", 2.0),
                ("pass", 6.0), ("read", 7.0), ("read", 9.0)),
        out_per_in=[0.5, 0.5, 0.5, 0.5],
        peak_rss_mb=1000.0,
    )
    e2e, notes = run.end_to_end(outcome, 12.0)
    assert e2e["setup_s"] == (12.0, "s")
    assert e2e["cold_pass_s"] == (20.0, "s")
    assert e2e["pipeline_s"] == (9.0, "s")
    assert e2e["read_p50_s"] == (3.0, "s")  # of 3, 4 and 2
    assert notes["read_samples_p50"] == 3
    assert notes["read_samples"] == 8 + READ_WARMUP  # the tail's: every measured read
    # the fourth pass and its reads are outside the measured operations
    assert notes["ok_op_ratio_base"] == {"attempted": 12 + READ_WARMUP, "failed": 0}


def test_benchmark_manifest_lists_what_the_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["per_layer"]] == list(run.PER_LAYER)
    assert {w["name"] for w in bench["workloads"]} == set(SMALL)
    e2e = [m["name"] for m in bench["end_to_end"]]
    assert "setup_s" in e2e
    assert max(m["bound"] for m in bench["end_to_end"]) == next(
        m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s"
    )


def test_status_store_reads_jobs_with_ui_disabled(tmp_path):
    from etl_finance_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench-test", master="local[2]", shuffle_partitions=2,
        extra_conf={"spark.sql.warehouse.dir": str(tmp_path / "wh")},
    )
    try:
        assert spark.conf.get("spark.ui.enabled") == "false"
        store = StatusStore(spark)
        before = store.last_job_id()
        spark.sparkContext.setJobGroup("perfbench-test", "test")
        spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        jobs = [j for j in store.jobs() if j["group"] == "perfbench-test"]
        assert jobs and {j["id"] for j in jobs} == {j["id"] for j in store.jobs_after(before)}
        tot = store.stage_totals(jobs)
        assert tot["jobs"] == len(jobs)
        assert tot["stages"] >= 1 and tot["tasks"] >= tot["stages"]
        assert tot["executor_run_s"] > 0 and tot["max_task_s"] > 0
        assert tot["shuffle_write_bytes"] > 0
    finally:
        spark.stop()
