"""Structured Streaming: incremental CSV ingest through the mapping core,
exactly-once file sink, and windowed aggregation with watermark."""

from __future__ import annotations

from nebula_importer_spark.fixtures import (
    KNOWS_CSV_LINES,
    PERSON_CSV_LINES,
    knows_rank_spec,
    person_spec,
)
from nebula_importer_spark.streaming.ingest import (
    start_parquet_sink,
    stream_records_csv,
    stream_triples,
    windowed_counts,
)


def test_stream_csv_to_triples_parquet(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "batch1.csv").write_text("\n".join(PERSON_CSV_LINES[:5]) + "\n")
    (src / "batch2.csv").write_text("\n".join(PERSON_CSV_LINES[5:]) + "\n")

    records = stream_records_csv(spark, str(src), n_columns=8, delimiter="|")
    assert records.isStreaming
    triples = stream_triples(records, person_spec())

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = start_parquet_sink(triples, out, ckpt, available_now=True)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    assert got.count() == len(PERSON_CSV_LINES) * 8  # tag + 7 props per row
    subs = {r.subj for r in got.select("subj").dropDuplicates().collect()}
    assert '"933"' in subs

    # restart with the same checkpoint and no new files → no duplicates
    q2 = start_parquet_sink(
        stream_triples(stream_records_csv(spark, str(src), 8, delimiter="|"), person_spec()),
        out, ckpt, available_now=True,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == len(PERSON_CSV_LINES) * 8

    # a newly-landed file is picked up incrementally, exactly once
    (src / "batch3.csv").write_text(PERSON_CSV_LINES[0].replace("933", "999") + "\n")
    q3 = start_parquet_sink(
        stream_triples(stream_records_csv(spark, str(src), 8, delimiter="|"), person_spec()),
        out, ckpt, available_now=True,
    )
    q3.awaitTermination(120)
    assert spark.read.parquet(out).count() == (len(PERSON_CSV_LINES) + 1) * 8


def test_stream_edge_triples_match_batch(spark, tmp_path):
    """An edge spec streams through the same mapping as a batch read: the
    ranked KNOWS triples of the streamed files equal the batch ones."""
    from nebula_importer_spark.operators.mapping import edge_values
    from nebula_importer_spark.operators.triples import edge_triples
    from nebula_importer_spark.sources.csv import read_records_csv

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.csv").write_text("\n".join(KNOWS_CSV_LINES[:4]) + "\n")
    (src / "b.csv").write_text("\n".join(KNOWS_CSV_LINES[4:]) + "\n")

    records = stream_records_csv(spark, str(src), n_columns=3)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = start_parquet_sink(stream_triples(records, knows_rank_spec()), out, ckpt)
    q.awaitTermination(120)

    spec = knows_rank_spec()
    batch = edge_triples(edge_values(read_records_csv(spark, str(src))[0], spec), spec)
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert len(got) == len(KNOWS_CSV_LINES) * 2
    assert ('"person_933_id"', "KNOWS@933", '"person_2199023256684_id"') in got
    assert got == sorted(tuple(r) for r in batch.collect())


def test_stream_and_batch_parse_a_file_alike(spark, tmp_path):
    """The stream and the batch reader share one option block: a backslash
    before a closing quote, padded fields and doubled quotes parse the same
    way in both."""
    from nebula_importer_spark.sources.csv import read_records_csv

    src = tmp_path / "in"
    src.mkdir()
    (src / "p.csv").write_text('1,"No11\\",x\n2, padded ,y\n3,"a""b",z\n')
    expected = [["1", "No11\\", "x"], ["2", " padded ", "y"], ["3", 'a"b', "z"]]

    batch = read_records_csv(spark, str(src / "p.csv"))[0]
    assert sorted(r.record for r in batch.collect()) == expected

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = start_parquet_sink(stream_records_csv(spark, str(src), n_columns=3), out, ckpt)
    q.awaitTermination(120)
    got = [r.record for r in spark.read.parquet(out).select("record").collect()]
    assert sorted(got) == expected

def test_windowed_counts_with_watermark(spark, tmp_path):
    src = tmp_path / "ev"
    src.mkdir()
    (src / "e.csv").write_text(
        "2024-01-01 00:00:10,click\n"
        "2024-01-01 00:00:50,click\n"
        "2024-01-01 00:01:10,view\n"
        "2024-01-01 00:05:00,click\n"
    )
    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("etype", T.StringType())]
    )
    stream = spark.readStream.schema(schema).csv(str(src))
    agg = windowed_counts(stream, "ts", "etype", window="1 minute", watermark="2 minutes")

    out, ckpt = str(tmp_path / "aggout"), str(tmp_path / "aggck")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (str(r.window_start), r.etype): r.n for r in spark.read.parquet(out).collect()
    }
    # the first window (00:00) closed once the watermark passed: 2 clicks
    assert rows.get(("2024-01-01 00:00:00", "click")) == 2


def test_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: sessions close after the gap."""
    from nebula_importer_spark.streaming.stateful import sessionize
    from pyspark.sql import types as T

    src = tmp_path / "sess"
    src.mkdir()
    (src / "a.csv").write_text(
        "u1,2024-01-01 00:00:00\n"
        "u1,2024-01-01 00:01:00\n"
        "u2,2024-01-01 00:00:30\n"
        # a much later event advances the watermark so u1/u2 sessions time out
        "u3,2024-01-01 02:00:00\n"
    )
    schema = T.StructType(
        [T.StructField("key", T.StringType()), T.StructField("ts", T.TimestampType())]
    )
    stream = spark.readStream.schema(schema).csv(str(src)).withWatermark("ts", "1 second")
    sessions = sessionize(stream, gap_seconds=300)

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        sessions.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r.key: r for r in spark.read.parquet(out).collect()}
    assert rows["u1"].n_events == 2
    assert str(rows["u1"].session_start).startswith("2024-01-01 00:00:00")
    assert str(rows["u1"].session_end).startswith("2024-01-01 00:01:00")
    assert rows["u2"].n_events == 1


def test_sessionize_splits_in_batch_gaps(spark, tmp_path):
    """A single batch with a > gap hole per key yields separate sessions:
    the earlier one closes by in-batch evidence, the later one by timeout."""
    from nebula_importer_spark.streaming.stateful import sessionize
    from pyspark.sql import types as T

    src = tmp_path / "sess2"
    src.mkdir()
    (src / "a.csv").write_text(
        "u1,2024-01-01 00:00:00\n"
        "u1,2024-01-01 00:01:00\n"
        "u1,2024-01-01 01:00:00\n"   # > 300s after the burst: new session
        "u9,2024-01-01 09:00:00\n"   # advances the watermark past u1's timeout
    )
    schema = T.StructType(
        [T.StructField("key", T.StringType()), T.StructField("ts", T.TimestampType())]
    )
    stream = spark.readStream.schema(schema).csv(str(src)).withWatermark("ts", "1 second")
    sessions = sessionize(stream, gap_seconds=300)
    out, ckpt = str(tmp_path / "out2"), str(tmp_path / "ck2")
    q = (
        sessions.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    u1 = sorted(
        (str(r.session_start), str(r.session_end), r.n_events)
        for r in spark.read.parquet(out).collect()
        if r.key == "u1"
    )
    assert u1 == [
        ("2024-01-01 00:00:00", "2024-01-01 00:01:00", 2),
        ("2024-01-01 01:00:00", "2024-01-01 01:00:00", 1),
    ]
