"""Sources, sinks, partitioners, and streaming ingest."""

import json
import os

import pytest
from pyspark.sql import functions as F

from sycamore_spark.operators.partition import (
    ArynPartitioner, HtmlPartitioner, TextPartitioner, partition,
)
from sycamore_spark.sources.files import binary_scan, json_document_scan, json_scan, text_scan
from sycamore_spark import writer as W


HTML = """<html><head><title>Doc Title</title></head><body>
<h2>Section</h2><p>First para.</p><ul><li>item a</li><li>item b</li></ul>
</body></html>"""


@pytest.fixture()
def html_dir(tmp_path):
    d = tmp_path / "html"
    d.mkdir()
    (d / "a.html").write_text(HTML)
    (d / "b.html").write_text("<p>only one</p>")
    (d / "ignore.txt").write_text("not html")
    return str(d)


def test_binary_scan_with_extension_filter(spark, html_dir):
    df = binary_scan(spark, html_dir, binary_format="html")
    rows = df.collect()
    assert len(rows) == 2
    assert all(r.binary_representation is not None for r in rows)
    assert all(json.loads(r.properties)["filetype"] == "html" for r in rows)


def test_binary_scan_manifest_join(spark, html_dir, tmp_path):
    a_path = f"file:{html_dir}/a.html"
    manifest = tmp_path / "manifest.json"
    manifest.write_text(json.dumps({a_path: {"owner": "alice"}}))
    df = binary_scan(spark, html_dir, binary_format="html", manifest_path=str(manifest))
    props = {json.loads(r.properties).get("path"): json.loads(r.properties) for r in df.collect()}
    assert props[a_path]["owner"] == "alice"


def test_html_partition(spark, html_dir):
    df = partition(binary_scan(spark, html_dir, binary_format="html"), HtmlPartitioner())
    by_id = {json.loads(r.properties)["path"].split("/")[-1]: r for r in df.collect()}
    els = by_id["a.html"].elements
    kinds = [(e.type, e.text_representation) for e in els]
    assert ("title", "Doc Title") in kinds
    assert ("list-item", "item a") in kinds
    assert any("First para." in t for _, t in kinds)
    assert json.loads(by_id["a.html"].properties)["_partitioned"] == "true"


def test_text_partition_paragraphs(spark, tmp_path):
    d = tmp_path / "txt"
    d.mkdir()
    (d / "x.txt").write_text("para one line\n\npara two line\n\n\npara three")
    df = partition(text_scan(spark, str(d), glob="*.txt"), TextPartitioner())
    els = df.collect()[0].elements
    assert [e.text_representation for e in els] == ["para one line", "para two line", "para three"]


def test_aryn_partitioner_is_stubbed(spark, tmp_path):
    d = tmp_path / "pdf"
    d.mkdir()
    (d / "f.pdf").write_bytes(b"%PDF-fake")
    df = partition(binary_scan(spark, str(d), binary_format="pdf"), ArynPartitioner())
    with pytest.raises(Exception, match="DETR|NotImplemented"):
        df.collect()


def test_json_scan(spark, tmp_path):
    p = tmp_path / "recs.jsonl"
    p.write_text('{"id": 1, "body": "hello"}\n{"id": 2, "body": "world"}\n')
    df = json_scan(spark, str(p))
    rows = df.collect()
    assert len(rows) == 2
    assert {json.loads(r.properties)["body"] for r in rows} == {"hello", "world"}


def test_json_document_roundtrip(spark, tmp_path):
    from sycamore_spark.data.schema import docs_from_rows

    docs = docs_from_rows(spark, [dict(doc_id="d1", text_representation="hi",
                                       elements=[dict(type="text", text_representation="e")])])
    out = str(tmp_path / "docs_json")
    W.write_json(docs, out)
    back = json_document_scan(spark, out)
    row = back.collect()[0]
    assert row.doc_id == "d1" and row.elements[0].text_representation == "e"


def test_write_files(spark, tmp_path):
    df = spark.createDataFrame([("a", "content-a"), ("b", "content-b")],
                               "doc_id string, text_representation string")
    out = str(tmp_path / "files")
    W.write_files(df, out)
    assert sorted(os.listdir(out)) == ["a.txt", "b.txt"]
    assert (tmp_path / "files" / "a.txt").read_text() == "content-a"


def test_write_duckdb(spark, tmp_path):
    import duckdb

    df = spark.createDataFrame([(1, "x"), (2, "y")], "id int, v string")
    db = str(tmp_path / "t.duckdb")
    W.write_duckdb(df, db, "t", str(tmp_path / "stage"))
    con = duckdb.connect(db)
    assert con.sql("select count(*) from t").fetchone()[0] == 2


def test_search_sink_stub():
    sink = W.SearchSinkStub("opensearch", index="docs")
    with pytest.raises(NotImplementedError):
        sink.write(None)


def test_streaming_windowed_counts(spark, tmp_path):
    from sycamore_spark.sources.tables import load_table
    from sycamore_spark.streaming import ingest as S

    # stage a small events slice as the source directory
    src = str(tmp_path / "src")
    events = load_table(spark, "/root/testdata/sf0.001", "events").limit(500)
    events.write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = S.stream_from_directory(spark, src, schema)
    agg = S.windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = S.write_stream_parquet(agg, out, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    batch = (
        events.groupBy(F.date_trunc("HOUR", "ts").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got_counts = {(r.window_start, r.event_type): r.n for r in got.collect()}
    # streaming watermark append-mode may hold back the final (open) window
    for k, v in got_counts.items():
        assert batch.filter((F.col("window_start") == k[0]) & (F.col("event_type") == k[1])
                            ).collect()[0].n == v
    assert len(got_counts) > 0


def test_streaming_composes_with_engine_transforms(spark, tmp_path):
    """Engine operators (pure Column exprs) compose with readStream
    unchanged: stream the documents table through text quality scoring into
    a memory sink."""
    from sycamore_spark.operators import textstats
    from sycamore_spark.sources import load_table

    src = str(tmp_path / "docs_stream")
    batch = load_table(spark, "/root/testdata/sf0.001", "documents")
    batch.limit(50).coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    scored = textstats.quality(stream)
    q = (
        scored.writeStream.format("memory")
        .queryName("stream_quality")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from stream_quality")
    assert got.count() == 50
    assert "quality_score" in got.columns


def test_dedup_stream_exact(spark, tmp_path):
    """Streaming twin of exact_dedup: duplicate text rows collapse to the
    first arrival within the stream."""
    import datetime as dt

    from sycamore_spark.streaming.dedup import dedup_stream

    rows = [
        (1, dt.datetime(2026, 1, 1, 10, 0), "alpha text"),
        (2, dt.datetime(2026, 1, 1, 10, 1), "alpha  TEXT"),  # same fingerprint
        (3, dt.datetime(2026, 1, 1, 10, 2), "beta text"),
        (4, dt.datetime(2026, 1, 1, 10, 3), "beta text"),
        (5, dt.datetime(2026, 1, 1, 10, 4), "gamma text"),
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp, text string")
    src = str(tmp_path / "src")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = dedup_stream(stream, text_col="text", ts_col="ts", watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["text"] for r in spark.sql("select * from dedup_out").collect()}
    assert len(got) == 3  # one survivor per fingerprint group


def test_dedup_stream_unbounded_mode(spark, tmp_path):
    from sycamore_spark.streaming.dedup import dedup_stream

    df = spark.createDataFrame([(1, "x y z"), (2, "x  y Z"), (3, "q")], "id long, text string")
    src = str(tmp_path / "src2")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = dedup_stream(stream, text_col="text")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out2")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.sql("select count(*) c from dedup_out2").collect()[0]["c"] == 2


def test_windowed_agg_stream_equals_batch(spark, tmp_path):
    """Batch/stream consistency for the windowed aggregation: the same
    frame through readStream + windowed_agg (complete mode, availableNow)
    equals the batch windowed_agg output."""
    import datetime

    from pyspark.sql import functions as F

    from sycamore_spark.streaming.windows import windowed_agg

    base = datetime.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        (i, base + datetime.timedelta(minutes=7 * i), "a" if i % 2 == 0 else "b", float(i))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, k string, v double")
    src = str(tmp_path / "events")
    df.write.mode("overwrite").parquet(src)

    def run(frame):
        return windowed_agg(
            frame, ts_col="ts", window_duration="30 minutes", watermark="1 hour",
            keys=("k",), aggs=[F.count(F.lit(1)).cast("bigint").alias("n")],
        )

    batch = run(spark.read.parquet(src)).select(
        F.unix_timestamp("win.start").alias("b"), "k", "n"
    )
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        run(stream).writeStream.format("memory").queryName("winagg_test")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    streamed = spark.table("winagg_test").select(
        F.unix_timestamp("win.start").alias("b"), "k", "n"
    )
    assert sorted(map(tuple, batch.collect())) == sorted(map(tuple, streamed.collect()))


def test_windowed_agg_sliding_windows(spark):
    """A sliding window assigns each row to window_duration/slide windows."""
    import datetime

    from pyspark.sql import functions as F

    from sycamore_spark.streaming.windows import windowed_agg

    base = datetime.datetime(2026, 1, 1, 0, 0, 0)
    df = spark.createDataFrame(
        [(1, base + datetime.timedelta(minutes=5))], "event_id long, ts timestamp"
    )
    out = windowed_agg(df, ts_col="ts", window_duration="10 minutes", slide="5 minutes")
    wins = sorted(r.b for r in out.select(F.unix_timestamp("win.start").alias("b"), "n").collect())
    # minute 5 falls in the [0,10) and [5,15) windows
    assert len(wins) == 2 and wins[1] - wins[0] == 300


def test_interval_join_streams_batch_semantics(spark):
    import datetime as dt

    from sycamore_spark.streaming.joins import interval_join_streams

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    clicks = spark.createDataFrame(
        [(1, t0, "u1"), (2, t0 + dt.timedelta(hours=3), "u1"), (3, t0, "u2")],
        "click_id int, click_ts timestamp, user_id string",
    )
    buys = spark.createDataFrame(
        [(10, t0 + dt.timedelta(minutes=30), "u1"),   # within 1h of click 1
         (11, t0 + dt.timedelta(hours=2), "u1"),      # matches neither (too late for 1, early for 2)
         (12, t0 + dt.timedelta(hours=1), "u2")],     # boundary: exactly +1h of click 3 -> included
        "buy_id int, buy_ts timestamp, user_id string",
    )
    out = interval_join_streams(
        clicks, buys, key="user_id", left_ts="click_ts", right_ts="buy_ts",
        max_delay="1 hour",
    )
    pairs = {(r.click_id, r.buy_id) for r in out.collect()}
    assert pairs == {(1, 10), (3, 12)}


def test_dedup_append_sink_builds_unique_corpus(spark, tmp_path):
    from sycamore_spark.streaming.ingest import dedup_append_sink

    src = str(tmp_path / "src")
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    # batch 1: keys 0..9 (5 dup'd in-batch); batch 2 (new file): 5..14
    spark.createDataFrame(
        [(i % 10, f"payload-{i % 10}") for i in range(15)], "k int, v string"
    ).write.parquet(src)
    stream = spark.readStream.schema("k int, v string").option(
        "maxFilesPerTrigger", 1).parquet(src)
    dedup_append_sink(stream, out, ckpt, key_col="k", await_seconds=120)
    spark.createDataFrame(
        [(i, f"payload-{i}") for i in range(5, 15)], "k int, v string"
    ).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema("k int, v string").parquet(src)
    dedup_append_sink(stream2, out, str(tmp_path / "ckpt"), key_col="k", await_seconds=120)

    got = spark.read.parquet(out)
    assert got.count() == 15  # 0..14, each exactly once
    assert got.select("k").distinct().count() == 15


def test_dedup_append_sink_fails_on_unreadable_corpus(spark, tmp_path):
    """A corpus dir that holds data Spark cannot read is not an empty
    corpus: the stream fails instead of appending the batch undeduped."""
    from pyspark.errors import StreamingQueryException

    from sycamore_spark.streaming.ingest import dedup_append_sink

    src, out = str(tmp_path / "src"), tmp_path / "corpus"
    spark.createDataFrame([(1, "a")], "k int, v string").write.parquet(src)
    out.mkdir()
    (out / "part-00000.parquet").write_bytes(b"not a parquet file")
    stream = spark.readStream.schema("k int, v string").parquet(src)
    with pytest.raises(StreamingQueryException):
        dedup_append_sink(stream, str(out), str(tmp_path / "ckpt"), key_col="k", await_seconds=120)
    assert os.listdir(out) == ["part-00000.parquet"]  # nothing appended


def test_streaming_cdc_snapshot_boundary_independent(spark, tmp_path):
    from sycamore_spark.streaming.cdc import maintain_snapshot_stream, read_snapshot

    rows = [
        (1, "a1", 1, "U"), (2, "b1", 2, "U"), (1, "a2", 3, "U"),
        (2, None, 4, "D"),                       # delete key 2
        (3, "c1", 5, "U"), (2, "b2", 6, "U"),    # reinsert key 2
        (3, None, 7, "D"),
    ]
    df = spark.createDataFrame(rows, "k long, v string, seq long, op string")
    states = []
    for i, nfiles in enumerate((1, 4)):
        src = str(tmp_path / f"src{i}")
        df.repartition(nfiles).write.parquet(src)
        stream = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src)
        q = maintain_snapshot_stream(
            stream, ["k"], "seq", str(tmp_path / f"state{i}"), str(tmp_path / f"ckpt{i}")
        )
        q.awaitTermination(120)
        snap = read_snapshot(spark, str(tmp_path / f"state{i}"))
        states.append(sorted((r.k, r.v) for r in snap.collect()))
    # 1 batch vs 4: identical snapshot; key 2 reinserted after delete,
    # key 3 deleted, key 1 latest value
    assert states[0] == states[1] == [(1, "a2"), (2, "b2")]


def test_streaming_cdc_tombstone_blocks_resurrection(spark, tmp_path):
    from sycamore_spark.streaming.cdc import maintain_snapshot_stream, read_snapshot

    # batch 1: insert + delete; batch 2 (later files): a LOWER-seq update
    # arriving late must NOT resurrect the deleted key
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "x", 10, "U"), (1, None, 20, "D")], "k long, v string, seq long, op string"
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        [(1, "late", 15, "U")], "k long, v string, seq long, op string"
    ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("k long, v string, seq long, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = maintain_snapshot_stream(stream, ["k"], "seq", str(tmp_path / "st"), str(tmp_path / "ck"))
    q.awaitTermination(120)
    assert read_snapshot(spark, str(tmp_path / "st")).count() == 0


def test_streaming_cdc_bucketed_state_layout(spark, tmp_path):
    """n_buckets>1 produces a key-hash-partitioned state dir (one
    _bucket=N subdir per touched bucket, >1 part file overall) and the
    snapshot still matches the single-bucket fold."""
    from sycamore_spark.streaming.cdc import maintain_snapshot_stream, read_snapshot

    rows = [(k, f"v{k}-{s}", s, "U") for k in range(40) for s in (k, k + 100)]
    df = spark.createDataFrame(rows, "k long, v string, seq long, op string")
    snaps = []
    for i, nb in enumerate((1, 8)):
        src = str(tmp_path / f"src{i}")
        df.repartition(3).write.parquet(src)
        stream = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src)
        st = str(tmp_path / f"state{i}")
        q = maintain_snapshot_stream(
            stream, ["k"], "seq", st, str(tmp_path / f"ckpt{i}"), n_buckets=nb
        )
        q.awaitTermination(120)
        bucket_dirs = [d for d in os.listdir(st) if d.startswith("_bucket=")]
        assert len(bucket_dirs) == (1 if nb == 1 else nb)  # 40 keys cover all 8
        snaps.append(sorted((r.k, r.v) for r in read_snapshot(spark, st).collect()))
    assert snaps[0] == snaps[1] == [(k, f"v{k}-{k + 100}") for k in range(40)]


def test_streaming_cdc_uri_state_dir(spark, tmp_path):
    """file:// URI state/checkpoint dirs must fold across batches — a
    driver-local os.path probe would silently drop prior state (ADVICE
    r5): with two single-row batches, key 1's batch-1 value must survive
    batch 2's unrelated key."""
    from sycamore_spark.streaming.cdc import maintain_snapshot_stream, read_snapshot

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "keep", 1, "U")], "k long, v string, seq long, op string"
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        [(2, "other", 2, "U")], "k long, v string, seq long, op string"
    ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("k long, v string, seq long, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = f"file://{tmp_path}/state-uri"
    q = maintain_snapshot_stream(
        stream, ["k"], "seq", state, f"file://{tmp_path}/ckpt-uri", n_buckets=4
    )
    q.awaitTermination(120)
    got = sorted((r.k, r.v) for r in read_snapshot(spark, state).collect())
    assert got == [(1, "keep"), (2, "other")]


def test_streaming_stats_state_partitions(spark, tmp_path):
    """n_state_partitions>1 spreads the stats state over multiple part
    files while the folded result is unchanged."""
    from sycamore_spark.operators.incremental import finalize_stats
    from sycamore_spark.streaming.stats import maintain_stats_stream

    df = spark.createDataFrame(
        [(i % 5, float(i)) for i in range(50)], "g int, v double"
    )
    src = str(tmp_path / "ssrc")
    df.repartition(2).write.parquet(src)
    stream = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src)
    st = str(tmp_path / "sstate")
    q = maintain_stats_stream(
        stream, ["g"], "v", st, str(tmp_path / "sckpt"), n_state_partitions=3
    )
    q.awaitTermination(120)
    from sycamore_spark.streaming.stats import current_state_dir, read_state

    cur = current_state_dir(spark, st)
    parts = [f for f in os.listdir(cur) if f.endswith(".parquet")]
    assert len(parts) == 3
    # older versions vacuumed: the previous and the live version remain
    n = int(cur.rsplit("=", 1)[1])
    assert sorted(d for d in os.listdir(st) if d.startswith("v=")) == [f"v={n - 1}", f"v={n}"]
    out = finalize_stats(read_state(spark, st))
    got = {r.g: (r.n, r.mean) for r in out.collect()}
    assert got[0] == (10, 22.5)  # values 0,5,...,45


def test_stream_quality_fold_batch_independent(spark, tmp_path):
    """The per-group quality counters are additive: 1-file and 4-file
    micro-batching yield identical final state, and a replayed batch id
    folds as a no-op (streaming/quality.py)."""
    from pyspark.sql import functions as F

    from sycamore_spark.operators.textstats import gopher_filter
    from sycamore_spark.streaming.quality import maintain_quality_stream

    prose = "the be to of and that have with " + " ".join(
        f"tok{i} unit{i} item{i}" for i in range(12)
    )
    rows = [(i, "s" + str(i % 3), prose if i % 2 == 0 else "tiny text") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    src = str(tmp_path / "src")
    df.repartition(8).write.parquet(src)

    def flags(batch):
        return gopher_filter(batch.select("doc_id", "text"), min_words=20).join(
            batch.select("doc_id", "source"), "doc_id"
        )

    def run(maxfiles, tag):
        state = str(tmp_path / f"state{tag}")
        q = maintain_quality_stream(
            spark.readStream.schema(df.schema).option("maxFilesPerTrigger", maxfiles).parquet(src),
            ["source"], flags, state, str(tmp_path / f"ckpt{tag}"),
        )
        q.awaitTermination(120)
        from sycamore_spark.streaming.quality import read_state

        return {
            r.source: (r.n_docs, r.n_gopher_keep, r.n_ok_word_count)
            for r in read_state(spark, state).collect()
        }

    fine = run(1, "a")
    coarse = run(8, "b")
    assert fine == coarse
    assert sum(v[0] for v in fine.values()) == 40
    # even docs pass word count; odd don't
    assert sum(v[2] for v in fine.values()) == 20


def test_instruction_pool_stream_sequential_and_replay(spark, tmp_path):
    """Pool growth is sequential (later near-dups of pooled instructions
    are rejected; the first arrival wins) and the hwm provenance makes a
    checkpoint-lost replay a no-op."""
    from sycamore_spark.streaming.pool import maintain_instruction_pool_stream

    root = str(tmp_path)
    b0 = spark.createDataFrame(
        [(1, "write a poem about the sea in four short lines"),
         (2, "explain binary search to a ten year old child")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(3, "write a poem about the sea in four short verses"),  # near-dup of 1
         (4, "list three ways to improve sleep quality at night")],
        "doc_id long, text string",
    )
    b0.write.parquet(f"{root}/src0")
    b1.write.parquet(f"{root}/src1")
    for k in range(2):
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            f"{root}/src{k}"
        )
        maintain_instruction_pool_stream(
            stream, f"{root}/pool", f"{root}/ckpt{k}"
        ).awaitTermination(120)
    ids = {r.doc_id for r in spark.read.parquet(f"{root}/pool").collect()}
    assert ids == {1, 2, 4}  # 3 rejected: first arrival (1) won

    # replay: checkpoint lost, same batch re-delivered under the same
    # checkpoint path -> provenance row exists -> fold is a no-op
    import shutil

    shutil.rmtree(f"{root}/ckpt1")
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        f"{root}/src1"
    )
    maintain_instruction_pool_stream(
        stream, f"{root}/pool", f"{root}/ckpt1"
    ).awaitTermination(120)
    after = spark.read.parquet(f"{root}/pool")
    assert after.count() == 3 and {r.doc_id for r in after.collect()} == {1, 2, 4}
