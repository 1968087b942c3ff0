"""Source-layer tests: format detection, CSV permissive read +
row-level quarantine, directory scan with whole-file dead-letter
(reference: extractor.py S1-S6).
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from etl_finance_pipeline_spark.sources.readers import (
    detect_file_type,
    load_directory,
    read_csv,
    read_parquet,
    split_quarantine,
)


def test_detect_file_type():
    assert detect_file_type("a/b/x.csv") == "csv"
    assert detect_file_type("x.PARQUET") == "parquet"
    assert detect_file_type("x.pq") == "parquet"
    with pytest.raises(ValueError, match="unsupported"):
        detect_file_type("x.xlsx")


def test_read_csv_corrupt_rows_quarantined(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("ts,open\n2024-01-01,1.5\nbad_row_only_one_field\n2024-01-02,2.5\n")
    schema = T.StructType(
        [
            T.StructField("ts", T.StringType()),
            T.StructField("open", T.DoubleType()),
        ]
    )
    df = read_csv(spark, str(p), schema=schema)
    good, bad = split_quarantine(df)
    # bare .count() on either split prunes the scan down to only the
    # corrupt-record column, which Spark disallows
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN); real pipelines consume data
    # columns (allowed) — collect() projects all columns.
    assert len(good.collect()) == 2
    # bare bad.count() is disallowed by Spark over a raw CSV scan
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — drive the real dead-letter
    # path instead: write to the quarantine sink, then count.
    q = str(tmp_path / "quarantine")
    bad.write.mode("overwrite").json(q)
    assert spark.read.json(q).count() == 1
    assert "_corrupt_record" not in good.columns
    assert "_source_file" in good.columns


def test_read_csv_schema_first_from_sample(spark, tmp_path):
    """No explicit schema: types come from a bounded file sample and
    apply schema-first to the whole read — rows a later file adds that
    fit the sampled schema parse normally; rows that don't are
    quarantined rather than silently re-typing the column."""
    from etl_finance_pipeline_spark.sources.readers import sample_csv_schema

    f1 = tmp_path / "a.csv"
    f1.write_text("ts,open\n2024-01-01,1.5\n")
    f2 = tmp_path / "b.csv"
    f2.write_text("ts,open\n2024-01-02,2.5\n2024-01-03,not_a_number\n")

    schema = sample_csv_schema(spark, [str(f1), str(f2)], sample_files=1)
    assert dict(zip(schema.fieldNames(), [f.dataType for f in schema.fields]))[
        "open"
    ] == T.DoubleType()

    df = read_csv(spark, [str(f1), str(f2)], infer_sample_files=1)
    good, bad = split_quarantine(df)
    rows = {(str(r["ts"]), r["open"]) for r in good.collect()}
    assert rows == {("2024-01-01", 1.5), ("2024-01-02", 2.5)}
    q = str(tmp_path / "quarantine")
    bad.write.mode("overwrite").json(q)
    assert spark.read.json(q).count() == 1


def test_load_directory_mixed(spark, tmp_path):
    (tmp_path / "ok.csv").write_text("ts,open\n2024-01-01,1.0\n")
    (tmp_path / "skip.xlsx").write_text("not supported")
    spark.createDataFrame([("2024-01-01", 2.0)], ["ts", "open"]).write.parquet(
        str(tmp_path / "part.parquet")
    )
    res = load_directory(spark, str(tmp_path))
    assert "csv" in res.frames and res.frames["csv"].count() == 1
    assert [q["file"] for q in res.quarantined_files] == [str(tmp_path / "skip.xlsx")]
    statuses = {m["format"]: m["status"] for m in res.metadata}
    assert statuses.get("csv") == "ok"


def test_read_parquet_pandas_nanosecond_stamps(spark, tmp_path):
    """A ``pandas.to_parquet`` file stores nanosecond stamps; the reader
    returns them as TimestampType with the same instants, not as the
    epoch-nanosecond integers Spark surfaces under nanosAsLong."""
    import pandas as pd

    stamps = pd.date_range("2024-01-02 09:00", periods=3, freq="min", tz="UTC")
    pdf = pd.DataFrame({"time": stamps, "close": [1.0, 1.1, 1.2]})
    path = str(tmp_path / "EURUSD_1m.parquet")
    pdf.to_parquet(path)

    df = read_parquet(spark, path)
    assert dict(df.dtypes)["time"] == "timestamp"
    got = sorted(r["time"] for r in df.collect())
    assert [pd.Timestamp(t, tz="UTC") for t in got] == list(stamps)
    # the directory scan goes through the same reader
    res = load_directory(spark, str(tmp_path))
    assert dict(res.frames["parquet"].dtypes)["time"] == "timestamp"


def test_load_directory_nanosecond_file_before_microsecond_file(spark, tmp_path):
    """A nanosecond file sorted before a microsecond one: the group read
    refuses to rescale the microsecond stamps, and the per-file fallback
    keeps both files with the right instants."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    stamps = pd.date_range("2024-01-02 09:00", periods=2, freq="min", tz="UTC")
    pdf = pd.DataFrame({"time": stamps, "close": [1.0, 1.1]})
    pdf.to_parquet(str(tmp_path / "A_1m.parquet"))
    pq.write_table(
        pa.Table.from_pandas(pdf), str(tmp_path / "B_1m.parquet"), coerce_timestamps="us"
    )
    with pytest.raises(ValueError, match="nanoseconds"):
        read_parquet(spark, [str(tmp_path / "A_1m.parquet"), str(tmp_path / "B_1m.parquet")])

    res = load_directory(spark, str(tmp_path))
    assert res.quarantined_files == []
    got = [pd.Timestamp(r["time"], tz="UTC") for r in res.frames["parquet"].collect()]
    assert sorted(got) == sorted(list(stamps) * 2)


def test_read_json_with_corrupt_rows(spark, tmp_path):
    from etl_finance_pipeline_spark.sources.readers import read_json

    p = tmp_path / "events.ndjson"
    p.write_text(
        '{"ts": "2024-01-01", "open": 1.5}\n'
        "this is not json\n"
        '{"ts": "2024-01-02", "open": 2.5}\n'
    )
    schema = T.StructType(
        [
            T.StructField("ts", T.StringType()),
            T.StructField("open", T.DoubleType()),
        ]
    )
    df = read_json(spark, str(p), schema=schema)
    good, bad = split_quarantine(df)
    rows = good.collect()
    assert len(rows) == 2
    assert {r["open"] for r in rows} == {1.5, 2.5}
    assert len(bad.collect()) == 1


def test_load_directory_includes_json(spark, tmp_path):
    (tmp_path / "a.jsonl").write_text('{"x": 1}\n{"x": 2}\n')
    res = load_directory(spark, str(tmp_path))
    assert "json" in res.frames
    assert len(res.frames["json"].collect()) == 2


def test_read_orc_and_directory_scan(spark, tmp_path):
    from etl_finance_pipeline_spark.sources.readers import read_orc

    df = spark.createDataFrame([("2024-01-01", 2.5)], ["ts", "open"])
    df.coalesce(1).write.orc(str(tmp_path / "part.orc"))
    back = read_orc(spark, str(tmp_path / "part.orc"))
    assert back.count() == 1 and "_source_file" in back.columns

    res = load_directory(spark, str(tmp_path))
    assert "orc" in res.frames and res.frames["orc"].count() == 1


def test_sample_csv_schema_bounds_directory_inference(spark, tmp_path):
    """A directory (or glob) argument is ONE list entry but many files —
    the sample bound must apply to the EXPANDED file listing, or a
    directory input silently triggers full-dataset inference. Files
    past the sample window must not influence the inferred schema."""
    from etl_finance_pipeline_spark.sources.readers import sample_csv_schema

    d = tmp_path / "csvs"
    d.mkdir()
    # files 00..07: integer column; file 08: floats. Sorted expansion
    # with sample_files=8 must never read file 08.
    for i in range(8):
        (d / f"part-{i:02d}.csv").write_text("a,b\n1,x\n2,y\n")
    (d / "part-08.csv").write_text("a,b\n1.5,z\n")

    sch = {f.name: f.dataType.simpleString() for f in
           sample_csv_schema(spark, str(d), sample_files=8).fields}
    assert sch["a"] == "int"

    # same bound through a glob string
    sch_g = {f.name: f.dataType.simpleString() for f in
             sample_csv_schema(spark, str(d / "part-*.csv"), sample_files=8).fields}
    assert sch_g["a"] == "int"

    # widening the window picks up the float file
    sch_all = {f.name: f.dataType.simpleString() for f in
               sample_csv_schema(spark, str(d), sample_files=9).fields}
    assert sch_all["a"] == "double"
