"""Structured Streaming plugin tests (bounded via available_now trigger)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from cryoflow_spark.core.pipeline import run_dry_run_pipeline, run_pipeline
from cryoflow_spark.core.result import is_successful
from cryoflow_spark.plugins.transform.filter import FilterPlugin
from cryoflow_spark.plugins.transform.group_agg import GroupAggPlugin
from cryoflow_spark.streaming.file_stream import FileStreamPlugin
from cryoflow_spark.streaming.stream_writer import StreamWriterPlugin
from cryoflow_spark.streaming.watermark import WatermarkPlugin


@pytest.fixture()
def stream_src(spark, tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    spark.createDataFrame(
        [(i, f"u{i % 3}", float(i)) for i in range(100)],
        "event_id long, user string, value double",
    ).coalesce(1).write.mode("overwrite").parquet(str(src))
    return src


def test_file_stream_filter_to_parquet(spark, tmp_path, stream_src):
    out = tmp_path / "out"
    result = run_pipeline(
        [FileStreamPlugin({"input_path": str(stream_src)})],
        [FilterPlugin({"predicate": "value >= 50"})],
        [StreamWriterPlugin({"output_path": str(out), "trigger": "available_now"})],
        spark=spark,
    )
    assert is_successful(result), result
    n = duckdb.sql(f"SELECT count(*) FROM '{out}/*.parquet'").fetchone()[0]
    assert n == 50
    assert (out / "_checkpoint").exists()


def test_streaming_agg_with_memory_sink(spark, stream_src):
    result = run_pipeline(
        [FileStreamPlugin({"input_path": str(stream_src)})],
        [
            GroupAggPlugin(
                {"group_by": ["user"], "aggs": {"total": "sum(value)"}}
            )
        ],
        [
            StreamWriterPlugin(
                {
                    "format": "memory",
                    "output_mode": "complete",
                    "query_name": "agg_result",
                    "trigger": "available_now",
                }
            )
        ],
        spark=spark,
    )
    assert is_successful(result), result
    rows = {r["user"]: r["total"] for r in spark.table("agg_result").collect()}
    assert rows["u0"] == sum(float(i) for i in range(100) if i % 3 == 0)


def test_stream_writer_rejects_batch_frame(spark, tiny_df, tmp_path):
    writer = StreamWriterPlugin({"output_path": str(tmp_path / "x")})
    result = writer.execute(tiny_df)
    assert not is_successful(result)
    assert "streaming" in str(result.failure())


def test_watermark_plugin(spark, tmp_path, stream_src):
    """Watermark + windowed agg over a timestamped stream."""
    src = tmp_path / "ts_incoming"
    src.mkdir()
    spark.sql(
        "SELECT timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*30) AS ts, "
        "id AS v FROM range(20)"
    ).coalesce(1).write.mode("overwrite").parquet(str(src))

    result = run_pipeline(
        [FileStreamPlugin({"input_path": str(src)})],
        [
            WatermarkPlugin({"column": "ts", "delay": "1 minute"}),
            GroupAggPlugin(
                {
                    "group_by": ["window(ts, '5 minutes')"],
                    "aggs": {"n": "count(*)", "sum_v": "sum(v)"},
                }
            ),
        ],
        [
            StreamWriterPlugin(
                {
                    "format": "memory",
                    "output_mode": "complete",
                    "query_name": "windowed",
                    "trigger": "available_now",
                }
            )
        ],
        spark=spark,
    )
    assert is_successful(result), result
    rows = spark.table("windowed").collect()
    assert sum(r["n"] for r in rows) == 20
    assert len(rows) == 2  # 20 rows * 30s = 10 min → two 5-min windows


def test_file_stream_dry_run(spark, stream_src):
    plugin = FileStreamPlugin({"input_path": str(stream_src)})
    plugin.attach_session(spark)
    schema = plugin.dry_run().unwrap()
    assert [f.name for f in schema.fields] == ["event_id", "user", "value"]

    csv_no_schema = FileStreamPlugin({"input_path": str(stream_src), "format": "csv"})
    csv_no_schema.attach_session(spark)
    assert not is_successful(csv_no_schema.execute())


def test_dry_run_pipeline_with_stream(spark, stream_src, tmp_path):
    result = run_dry_run_pipeline(
        [FileStreamPlugin({"input_path": str(stream_src)})],
        [FilterPlugin({"predicate": "value > 1"})],
        [StreamWriterPlugin({"output_path": str(tmp_path / "o")})],
        spark=spark,
    )
    assert is_successful(result), result


def test_sliding_window_stream(spark, tmp_path):
    """Hopping windows on a stream: each event lands in window_len/slide
    overlapping windows."""
    src = tmp_path / "slide_incoming"
    src.mkdir()
    spark.sql(
        "SELECT timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*60) AS ts, "
        "id AS v FROM range(10)"
    ).coalesce(1).write.mode("overwrite").parquet(str(src))

    result = run_pipeline(
        [FileStreamPlugin({"input_path": str(src)})],
        [
            WatermarkPlugin({"column": "ts", "delay": "1 minute"}),
            GroupAggPlugin(
                {
                    "group_by": ["window(ts, '4 minutes', '2 minutes')"],
                    "aggs": {"n": "count(*)"},
                }
            ),
        ],
        [
            StreamWriterPlugin(
                {
                    "format": "memory",
                    "output_mode": "complete",
                    "query_name": "sliding",
                    "trigger": "available_now",
                }
            )
        ],
        spark=spark,
    )
    assert is_successful(result), result
    rows = spark.table("sliding").collect()
    # 10 events x 2 windows each (4min window / 2min slide) = 20 assignments.
    assert sum(r["n"] for r in rows) == 20


@pytest.mark.parametrize(
    "ddl",
    [
        "ts timestamp, v long",
        "ts struct<start: timestamp, end: timestamp>, v long",
    ],
)
def test_watermark_dry_run_accepts_event_time(spark, ddl):
    schema = spark.createDataFrame([], ddl).schema
    plugin = WatermarkPlugin({"column": "ts", "delay": "1 minute"})
    assert is_successful(plugin.dry_run(schema))


def test_watermark_dry_run_rejects_timestamp_ntz(spark):
    """`check` must fail where `run` fails: Spark refuses a TIMESTAMP_NTZ
    event time only when the streaming query starts."""
    schema = spark.createDataFrame([], "ts timestamp_ntz, v long").schema
    plugin = WatermarkPlugin({"column": "ts", "delay": "1 minute"})
    result = plugin.dry_run(schema)
    assert not is_successful(result)
    exc = result.failure()
    assert isinstance(exc, TypeError)
    assert "'ts'" in str(exc) and "timestamp_ntz" in str(exc)
    assert "cast" in str(exc)


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates collapse, state bounded."""
    from cryoflow_spark.streaming.dedup_stream import StreamDedupPlugin

    src = tmp_path / "dup_incoming"
    src.mkdir()
    # each event id appears twice, 10s apart (within the watermark delay)
    spark.sql(
        "SELECT CAST(id / 2 AS LONG) AS event_id, "
        "timestamp'2024-01-01 00:00:00' "
        "  + make_interval(0,0,0,0,0,0, CAST(id/2 AS INT)*30 + (id%2)*10) AS ts "
        "FROM range(40)"
    ).coalesce(1).write.mode("overwrite").parquet(str(src))

    out = tmp_path / "deduped"
    result = run_pipeline(
        [FileStreamPlugin({"input_path": str(src)})],
        [
            WatermarkPlugin({"column": "ts", "delay": "2 minutes"}),
            StreamDedupPlugin({"keys": ["event_id"]}),
        ],
        [
            StreamWriterPlugin(
                {"output_path": str(out), "trigger": "available_now"}
            )
        ],
        spark=spark,
    )
    assert is_successful(result), result
    n = duckdb.sql(
        f"SELECT count(DISTINCT event_id), count(*) FROM '{out}/*.parquet'"
    ).fetchone()
    assert n == (20, 20)


def test_stream_dedup_batch_degrades(spark):
    from cryoflow_spark.streaming.dedup_stream import StreamDedupPlugin

    df = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "k long, v string")
    plugin = StreamDedupPlugin({"keys": ["k"]})
    out = plugin.execute(df).unwrap()
    assert out.count() == 2


def test_stream_static_broadcast_join(spark, tmp_path, stream_src):
    """Streaming fact joined to a static broadcast dimension — the standard
    enrichment topology; only the stream side holds no join state."""
    from cryoflow_spark.plugins.transform.join import JoinPlugin
    from tests.conftest import DummyInputPlugin

    dims = DummyInputPlugin(label="dims")  # a: 1,2,3; b: x,y,z
    result = run_pipeline(
        [
            FileStreamPlugin({"input_path": str(stream_src)}),
            dims,
        ],
        [
            FilterPlugin({"predicate": "event_id < 6"}),
            JoinPlugin(
                {
                    "right_label": "dims",
                    "condition": "left.event_id = right.a",
                    "how": "inner",
                    "broadcast": True,
                }
            ),
        ],
        [
            StreamWriterPlugin(
                {
                    "format": "memory",
                    "query_name": "enriched",
                    "trigger": "available_now",
                }
            )
        ],
        spark=spark,
    )
    assert is_successful(result), result
    rows = sorted((r["event_id"], r["b"]) for r in spark.table("enriched").collect())
    assert rows == [(1, "x"), (2, "y"), (3, "z")]


def test_streaming_pii_scrub_pipeline(spark, tmp_path):
    """Curation ops are narrow maps, so they compose with Structured
    Streaming unchanged: stream text files through the curate plugin."""
    from cryoflow_spark.plugins.transform.curate import CuratePlugin

    src = tmp_path / "docs_in"
    src.mkdir()
    spark.createDataFrame(
        [(1, "reach me at someone@example.com"), (2, "clean text only")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(str(src))
    out = tmp_path / "docs_out"
    result = run_pipeline(
        [FileStreamPlugin({"input_path": str(src), "format": "parquet"})],
        [CuratePlugin({"method": "pii_scrub"})],
        [StreamWriterPlugin({"output_path": str(out), "trigger": "available_now"})],
        spark=spark,
    )
    assert is_successful(result), result
    rows = dict(
        duckdb.sql(f"SELECT doc_id, text FROM '{out}/*.parquet'").fetchall()
    )
    assert rows[1] == "reach me at <EMAIL>"
    assert rows[2] == "clean text only"


def test_neardup_filter_stream_vs_static_corpus(spark, tmp_path):
    """foreachBatch near-dup filter: stream docs that duplicate the static
    corpus are dropped; novel docs land in the sink exactly once."""
    import duckdb as _duck

    from cryoflow_spark.streaming.neardup_stream import neardup_filter_stream

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely different content about spark engines")],
        "doc_id long, text string",
    )
    src = tmp_path / "incoming"
    src.mkdir()
    spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),   # corpus dup
         (11, "the quick brown fox jumps over the lazy cat"),   # near-dup
         (12, "genuinely novel material about stream filtering"),
         (13, "another unseen document body entirely")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(str(src))
    )
    out = tmp_path / "fresh"
    q = neardup_filter_stream(
        stream, corpus, str(out),
        num_hashes=64, bands=32, shingle_size=3, threshold=0.5,
    )
    q.awaitTermination(120)
    ids = sorted(
        r[0]
        for r in _duck.sql(
            f"SELECT doc_id FROM '{out}/batch_id=*/*.parquet'"
        ).fetchall()
    )
    assert ids == [12, 13]


def test_neardup_filter_stream_rejects_batch_frame(spark):
    from cryoflow_spark.streaming.neardup_stream import neardup_filter_stream

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="must be a streaming"):
        neardup_filter_stream(df, df, "/tmp/nowhere")


def test_streaming_rule_gates_are_stream_safe(spark, tmp_path):
    """The r5 curation maps (Gopher rules, C4 clean, script profile,
    HTML extraction) are stateless narrow maps, so the same plugins run
    unchanged on a streaming frame."""
    from cryoflow_spark.plugins.transform.curate import CuratePlugin

    src = tmp_path / "docs_src"
    src.mkdir()
    good = ("the quick brown fox jumps over that lazy dog and all " * 5) + "end."
    spark.createDataFrame(
        [(1, f"<p>{good}</p>"), (2, "<p>#### #### ####</p>")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(str(src))

    out = tmp_path / "docs_out"
    result = run_pipeline(
        [FileStreamPlugin({"input_path": str(src)})],
        [
            CuratePlugin({"method": "html_to_text"}),
            CuratePlugin({"method": "script_profile"}),
            CuratePlugin({"method": "gopher_rules", "min_words": 20,
                          "min_stopword_hits": 1}),
        ],
        [StreamWriterPlugin({"output_path": str(out), "trigger": "available_now"})],
        spark=spark,
    )
    assert is_successful(result), result
    rows = duckdb.sql(
        f"SELECT doc_id, dominant_script FROM '{out}/*.parquet'"
    ).fetchall()
    assert rows == [(1, "latin")]


def test_refresh_filter_stream_emits_only_new_or_changed(spark, tmp_path):
    """foreachBatch crawl refresh: unchanged refetches die in the stream;
    new pages and changed content land with the right is_new flag."""
    import duckdb as _duck

    from cryoflow_spark.streaming.refresh_stream import refresh_filter_stream

    latest = spark.createDataFrame(
        [("https://e.com/a", "alpha content"),
         ("https://e.com/b", "beta content")],
        "url string, text string",
    )
    src = tmp_path / "fetches"
    src.mkdir()
    spark.createDataFrame(
        [
            # unchanged refetch (cosmetic URL variant) -> dropped
            (1, "https://E.com:443/a?utm_source=x", "alpha content"),
            # changed content -> kept, is_new = false
            (2, "https://e.com/b", "beta content v2"),
            # brand-new page -> kept, is_new = true
            (3, "https://e.com/c", "gamma content"),
        ],
        "fetch_id long, url string, text string",
    ).coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = (
        spark.readStream.schema("fetch_id long, url string, text string")
        .parquet(str(src))
    )
    out = tmp_path / "landed"
    q = refresh_filter_stream(
        stream, latest, str(out), content_cols=["text"]
    )
    q.awaitTermination(120)
    rows = _duck.sql(
        f"SELECT fetch_id, is_new FROM '{out}/batch_id=*/*.parquet'"
        " ORDER BY fetch_id"
    ).fetchall()
    assert rows == [(2, False), (3, True)]


def test_refresh_filter_stream_collapses_duplicate_index(spark, tmp_path):
    """A snapshot index built from raw dumps (several rows per page)
    must not fan out the per-batch join — each kept fetch lands ONCE."""
    import duckdb as _duck

    from cryoflow_spark.streaming.refresh_stream import refresh_filter_stream

    latest = spark.createDataFrame(
        # same canonical URL three times, two distinct content hashes
        [("https://e.com/a", "old v1"),
         ("https://e.com/a?utm_source=x", "old v1"),
         ("https://e.com/a", "old v2")],
        "url string, text string",
    )
    src = tmp_path / "fetches"
    src.mkdir()
    spark.createDataFrame(
        [(1, "https://e.com/a", "fresh content"),
         (2, "https://e.com/new", "brand new")],
        "fetch_id long, url string, text string",
    ).coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = (
        spark.readStream.schema("fetch_id long, url string, text string")
        .parquet(str(src))
    )
    out = tmp_path / "landed"
    q = refresh_filter_stream(stream, latest, str(out), content_cols=["text"])
    q.awaitTermination(120)
    rows = _duck.sql(
        f"SELECT fetch_id, count(*) FROM '{out}/batch_id=*/*.parquet'"
        " GROUP BY fetch_id ORDER BY fetch_id"
    ).fetchall()
    assert rows == [(1, 1), (2, 1)]


def test_refresh_filter_stream_rejects_batch_frame(spark):
    from cryoflow_spark.streaming.refresh_stream import refresh_filter_stream

    df = spark.createDataFrame([(1, "u", "t")],
                               "fetch_id long, url string, text string")
    with pytest.raises(ValueError, match="must be a streaming"):
        refresh_filter_stream(df, df, "/tmp/nowhere", content_cols=["text"])


def test_corpus_report_stream_matches_batch_twin(spark, tmp_path):
    """x52 streaming twin: the finalized report over all micro-batches
    is bit-identical to the batch corpus_report on the full corpus, and
    a REPLAYED batch (same batch_id) does not double-count."""
    from cryoflow_spark.functions.profiling import corpus_report
    from cryoflow_spark.streaming.report_stream import (
        _write_corpus_partials,
        corpus_report_stream,
        finalize_corpus_report,
    )

    full = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = tmp_path / "docs"
    src.mkdir()
    # two source files -> available_now may deliver 1..2 batches
    full.filter("doc_id % 2 = 0").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "a"))
    full.filter("doc_id % 2 = 1").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "b"))
    stream = spark.readStream.schema(full.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    out = tmp_path / "report"
    q = corpus_report_stream(stream, str(out))
    q.awaitTermination(120)

    def canon(df):
        return sorted(
            (r["source"], r["lang"], r["n_docs"], r["total_tokens"],
             r["total_chars"], r["avg_tokens"], r["mean_quality"])
            for r in df.collect()
        )

    got = canon(finalize_corpus_report(spark, str(out)))
    want = canon(corpus_report(full))
    assert got == want
    # replay idempotence, tested directly on the per-batch writer: the
    # same (batch_id, content) delivered twice must not double-count.
    out2 = tmp_path / "report2"
    a = spark.read.parquet(str(src / "a"))
    b = spark.read.parquet(str(src / "b"))
    for batch_id, batch in ((0, a), (1, b), (0, a)):  # 0 replayed
        _write_corpus_partials(
            batch, batch_id, str(out2), "text", ("source", "lang")
        )
    assert canon(finalize_corpus_report(spark, str(out2))) == want


def test_dataset_checksum_stream_matches_batch_twin(spark, tmp_path):
    """x54 streaming twin: the merged fingerprint equals the batch
    checksum of the full corpus; idempotent under batch replay."""
    from cryoflow_spark.functions.diff import dataset_checksum
    from cryoflow_spark.streaming.report_stream import (
        _write_checksum_partials,
        dataset_checksum_stream,
        finalize_dataset_checksum,
    )

    full = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    src = tmp_path / "docs"
    src.mkdir()
    full.filter("doc_id < 100").coalesce(1).write.mode("overwrite").parquet(
        str(src / "a")
    )
    full.filter("doc_id >= 100").coalesce(1).write.mode("overwrite").parquet(
        str(src / "b")
    )
    stream = spark.readStream.schema(full.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    out = tmp_path / "sum"
    q = dataset_checksum_stream(stream, str(out), columns=cols)
    q.awaitTermination(120)

    got = finalize_dataset_checksum(spark, str(out)).collect()[0]
    want = dataset_checksum(full, columns=cols).collect()[0]
    assert got["n_rows"] == want["n_rows"]
    assert got["checksum"] == want["checksum"]
    # replay idempotence on the per-batch writer (same id + content 2x)
    out2 = tmp_path / "sum2"
    a = spark.read.parquet(str(src / "a"))
    b = spark.read.parquet(str(src / "b"))
    for batch_id, batch in ((0, a), (1, b), (0, a)):  # 0 replayed
        _write_checksum_partials(batch, batch_id, str(out2), cols, ())
    again = finalize_dataset_checksum(spark, str(out2)).collect()[0]
    assert (again["n_rows"], again["checksum"]) == (
        want["n_rows"], want["checksum"],
    )


def test_report_streams_reject_batch_frames(spark):
    from cryoflow_spark.streaming.report_stream import (
        corpus_report_stream,
        dataset_checksum_stream,
    )

    df = spark.createDataFrame([(1, "t", "en", "s")],
                               "doc_id long, text string, lang string, source string")
    with pytest.raises(ValueError, match="must be a streaming"):
        corpus_report_stream(df, "/tmp/nowhere")
    with pytest.raises(ValueError, match="must be a streaming"):
        dataset_checksum_stream(df, "/tmp/nowhere")


def test_psi_drift_stream_matches_batch_twin(spark, tmp_path):
    """x88 streaming twin: the finalized PSI over all micro-batches is
    bit-identical to batch distribution_drift on the accumulated
    stream, and batch replay does not double-count."""
    from cryoflow_spark.functions.diff import distribution_drift
    from cryoflow_spark.streaming.report_stream import (
        _write_drift_partials,
        finalize_psi_drift,
        psi_drift_stream,
    )

    full = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    baseline = full.filter("doc_id < 250")
    current = full.filter("doc_id >= 250")
    src = tmp_path / "docs"
    src.mkdir()
    current.coalesce(1).write.mode("overwrite").parquet(str(src / "a"))
    stream = spark.readStream.schema(full.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    out = tmp_path / "drift"
    q = psi_drift_stream(
        stream, baseline, str(out), "n_chars", lo=0.0, hi=2000.0, n_bins=10
    )
    q.awaitTermination(120)
    got = finalize_psi_drift(spark, str(out), n_bins=10).collect()[0]
    want = distribution_drift(
        current, baseline, "n_chars", lo=0.0, hi=2000.0, n_bins=10
    ).collect()[0]
    assert (got["n_current"], got["n_baseline"], got["psi"]) == (
        want["n_current"], want["n_baseline"], want["psi"],
    )
    # replay idempotence on the per-batch writer
    half = current.filter("doc_id < 375")
    out2 = tmp_path / "drift2"
    from cryoflow_spark.functions.diff import histogram_bin_counts
    histogram_bin_counts(baseline, "n_chars", 0.0, 2000.0, 10, "__b") \
        .write.mode("overwrite").parquet(f"{out2}/baseline")
    rest = current.filter("doc_id >= 375")
    for batch_id, batch in ((0, half), (1, rest), (0, half)):  # 0 replayed
        _write_drift_partials(
            batch, batch_id, str(out2), "n_chars", 0.0, 2000.0, 10
        )
    again = finalize_psi_drift(spark, str(out2), n_bins=10).collect()[0]
    assert again["psi"] == want["psi"]


def test_report_streams_reject_invalid_trigger(spark, tmp_path):
    from cryoflow_spark.streaming.report_stream import corpus_report_stream

    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame(
        [(1, "t", "en", "s")],
        "doc_id long, text string, lang string, source string",
    ).coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(
        "doc_id long, text string, lang string, source string"
    ).parquet(str(src))
    with pytest.raises(ValueError, match="invalid trigger"):
        corpus_report_stream(stream, str(tmp_path / "o"), trigger="hourly")


def test_conversion_funnel_stream_matches_batch_twin(spark, tmp_path):
    """x80/x95 streaming twin: the finalized funnel over all
    micro-batches is bit-identical to the batch conversion_funnel on
    the full event log — even though user journeys STRADDLE batches
    (the split below puts early events and late events in different
    files) — and a replayed batch does not double-count."""
    from cryoflow_spark.functions.events import conversion_funnel
    from cryoflow_spark.queries import load_events
    from cryoflow_spark.streaming.funnel_stream import (
        _write_funnel_partials,
        conversion_funnel_stream,
        finalize_conversion_funnel,
    )

    steps = ["view", "click", "purchase"]
    full = load_events(spark, "/root/testdata/sf0.001")
    src = tmp_path / "events"
    src.mkdir()
    # split by TIME, not user: journeys straddle the two batches
    mid = full.select(
        F.percentile(F.unix_micros("ts"), 0.5).alias("m")
    ).collect()[0]["m"]
    full.filter(F.unix_micros("ts") <= mid).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "a"))
    full.filter(F.unix_micros("ts") > mid).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "b"))
    stream = spark.readStream.schema(full.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    out = tmp_path / "funnel"
    q = conversion_funnel_stream(stream, str(out), steps)
    q.awaitTermination(120)

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    got = canon(finalize_conversion_funnel(spark, str(out), steps))
    want = canon(conversion_funnel(full, steps))
    assert got == want
    # the x95 latency columns derive from the same state, no re-ingest
    got_lat = canon(finalize_conversion_funnel(
        spark, str(out), steps, with_latency=True))
    want_lat = canon(conversion_funnel(full, steps, with_latency=True))
    assert got_lat == want_lat
    # replay idempotence on the per-batch writer (same id + content 2x)
    out2 = tmp_path / "funnel2"
    a = spark.read.parquet(str(src / "a"))
    b = spark.read.parquet(str(src / "b"))
    for batch_id, batch in ((0, a), (1, b), (0, a)):  # 0 replayed
        _write_funnel_partials(
            batch, batch_id, str(out2), steps, "user_id", "ts",
            "event_type",
        )
    assert canon(finalize_conversion_funnel(spark, str(out2), steps)) \
        == want


def test_conversion_funnel_stream_validates_inputs(spark):
    from cryoflow_spark.streaming.funnel_stream import (
        conversion_funnel_stream,
    )

    batch = spark.createDataFrame(
        [(1, "view")], "user_id long, event_type string"
    )
    with pytest.raises(ValueError, match="streaming"):
        conversion_funnel_stream(batch, "/tmp/nowhere", ["view", "click"])
    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="steps"):
        conversion_funnel_stream(stream, "/tmp/nowhere", ["view"])


def test_compact_partials_preserves_finalize_results(spark, tmp_path):
    """Compaction folds every batch directory into one; finalize is
    bit-identical before and after, for both the row-rewrite family
    (corpus report) and the merge family (funnel); compaction is
    idempotent and re-compaction safe."""
    from cryoflow_spark.functions.events import conversion_funnel
    from cryoflow_spark.functions.profiling import corpus_report
    from cryoflow_spark.queries import load_events
    from cryoflow_spark.streaming.funnel_stream import (
        _write_funnel_partials,
        compact_funnel_partials,
        finalize_conversion_funnel,
    )
    from cryoflow_spark.streaming.report_stream import (
        _write_corpus_partials,
        compact_partials,
        finalize_corpus_report,
    )

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    # corpus report family (row rewrite)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = tmp_path / "report"
    for i in range(4):
        _write_corpus_partials(
            docs.filter(f"doc_id % 4 = {i}"), i, str(out), "text",
            ("source", "lang"),
        )
    want = canon(corpus_report(docs))
    assert canon(finalize_corpus_report(spark, str(out))) == want
    assert compact_partials(spark, str(out)) == 4
    assert canon(finalize_corpus_report(spark, str(out))) == want
    # re-compaction folds the compact dir itself (1 removed)
    assert compact_partials(spark, str(out)) == 1
    assert canon(finalize_corpus_report(spark, str(out))) == want

    # funnel family (state merge shrinks rows)
    steps = ["view", "click", "purchase"]
    events = load_events(spark, "/root/testdata/sf0.001")
    out2 = tmp_path / "funnel"
    for i in range(3):
        _write_funnel_partials(
            events.filter(f"user_id % 3 = {i}"), i, str(out2), steps,
            "user_id", "ts", "event_type",
        )
    want2 = canon(conversion_funnel(events, steps))
    rows_before = spark.read.parquet(
        str(out2 / "partials" / "batch_id=*")).count()
    assert compact_funnel_partials(spark, str(out2), steps) == 3
    rows_after = spark.read.parquet(
        str(out2 / "partials" / "batch_id=*")).count()
    assert rows_after <= rows_before
    assert canon(finalize_conversion_funnel(spark, str(out2), steps)) \
        == want2


def test_event_transitions_stream_matches_batch_twin(spark, tmp_path):
    """x127 streaming twin: the finalized transition matrix over all
    micro-batches is bit-identical to the batch event_transition_matrix
    on the full log — transitions STRADDLE batches (time split), the
    boundary pairs come from the stitched per-user state — and a
    replayed batch does not double-count."""
    from cryoflow_spark.functions.events import event_transition_matrix
    from cryoflow_spark.queries import load_events
    from cryoflow_spark.streaming.transitions_stream import (
        _write_transition_partials,
        event_transitions_stream,
        finalize_event_transitions,
    )

    full = load_events(spark, "/root/testdata/sf0.001")
    src = tmp_path / "events"
    src.mkdir()
    # split by TIME, not user: per-user segments stay ordered across
    # batches (the documented precondition) while transitions straddle
    mid = full.select(
        F.percentile(F.unix_micros("ts"), 0.5).alias("m")
    ).collect()[0]["m"]
    full.filter(F.unix_micros("ts") <= mid).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "a"))
    full.filter(F.unix_micros("ts") > mid).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "b"))
    stream = spark.readStream.schema(full.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    out = tmp_path / "transitions"
    q = event_transitions_stream(stream, str(out))
    q.awaitTermination(120)

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    want = canon(event_transition_matrix(full))
    assert canon(finalize_event_transitions(spark, str(out))) == want
    # replay idempotence on the per-batch writer (same id + content 2x)
    out2 = tmp_path / "transitions2"
    a = spark.read.parquet(str(src / "a"))
    b = spark.read.parquet(str(src / "b"))
    for batch_id, batch in ((0, a), (1, b), (0, a)):  # 0 replayed
        _write_transition_partials(
            batch, batch_id, str(out2), "user_id", "event_type", "ts",
            "event_id",
        )
    assert canon(finalize_event_transitions(spark, str(out2))) == want


def test_event_transitions_stream_compaction_and_validation(
    spark, tmp_path
):
    """Compaction folds the per-batch partials into one merged partial
    (closed under merge) with the finalize result unchanged; batch
    frames are rejected."""
    import pytest as _pytest

    from cryoflow_spark.functions.events import event_transition_matrix
    from cryoflow_spark.queries import load_events
    from cryoflow_spark.streaming.transitions_stream import (
        _write_transition_partials,
        compact_transition_partials,
        event_transitions_stream,
        finalize_event_transitions,
    )

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    events = load_events(spark, "/root/testdata/sf0.001")
    out = tmp_path / "transitions"
    # time-ordered thirds (per-user segments stay ordered)
    lo = events.select(
        F.percentile(F.unix_micros("ts"), 0.33).alias("m")
    ).collect()[0]["m"]
    hi = events.select(
        F.percentile(F.unix_micros("ts"), 0.66).alias("m")
    ).collect()[0]["m"]
    slices = [
        events.filter(F.unix_micros("ts") <= lo),
        events.filter(
            (F.unix_micros("ts") > lo) & (F.unix_micros("ts") <= hi)
        ),
        events.filter(F.unix_micros("ts") > hi),
    ]
    for i, sl in enumerate(slices):
        _write_transition_partials(
            sl, i, str(out), "user_id", "event_type", "ts", "event_id"
        )
    want = canon(event_transition_matrix(events))
    assert canon(finalize_event_transitions(spark, str(out))) == want
    rows_before = spark.read.parquet(
        str(out / "partials" / "batch_id=*")).count()
    assert compact_transition_partials(spark, str(out)) == 3
    rows_after = spark.read.parquet(
        str(out / "partials" / "batch_id=*")).count()
    assert rows_after <= rows_before
    assert canon(finalize_event_transitions(spark, str(out))) == want
    # re-compaction folds the compact dir itself and stays equal
    assert compact_transition_partials(spark, str(out)) == 1
    assert canon(finalize_event_transitions(spark, str(out))) == want

    batch = spark.createDataFrame(
        [(1, "view")], "user_id long, event_type string"
    )
    with _pytest.raises(ValueError, match="streaming"):
        event_transitions_stream(batch, "/tmp/nowhere")


def test_growth_stream_matches_batch_twin(spark, tmp_path):
    """x171 streaming twin: the finalized growth report over all
    micro-batches is bit-identical to the batch growth_accounting on
    the full log — resurrection/churn classification depends on
    activity in EARLIER batches, resolved by the merged (user, period)
    set — with replay idempotence and union-distinct compaction."""
    from cryoflow_spark.functions.events import growth_accounting
    from cryoflow_spark.queries import load_events
    from cryoflow_spark.streaming.growth_stream import (
        _write_growth_partials,
        compact_growth_partials,
        finalize_growth_accounting,
        growth_stream,
    )

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    full = load_events(spark, "/root/testdata/sf0.001")
    src = tmp_path / "events"
    src.mkdir()
    mid = full.select(
        F.percentile(F.unix_micros("ts"), 0.5).alias("m")
    ).collect()[0]["m"]
    full.filter(F.unix_micros("ts") <= mid).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "a"))
    full.filter(F.unix_micros("ts") > mid).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "b"))
    stream = spark.readStream.schema(full.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    out = tmp_path / "growth"
    q = growth_stream(stream, str(out), period_days=1)
    q.awaitTermination(120)
    want = canon(growth_accounting(full, period_days=1))
    assert canon(finalize_growth_accounting(spark, str(out))) == want
    # replay idempotence + no segment-order requirement: write the
    # batches AGAIN in reverse order under replayed ids
    out2 = tmp_path / "growth2"
    a = spark.read.parquet(str(src / "a"))
    b = spark.read.parquet(str(src / "b"))
    for batch_id, batch in ((0, b), (1, a), (0, b), (1, a)):
        _write_growth_partials(
            batch, batch_id, str(out2), "ts", "user_id", 1
        )
    assert canon(finalize_growth_accounting(spark, str(out2))) == want
    # compaction closure
    assert compact_growth_partials(spark, str(out2)) == 2
    assert canon(finalize_growth_accounting(spark, str(out2))) == want
    assert compact_growth_partials(spark, str(out2)) == 1
    assert canon(finalize_growth_accounting(spark, str(out2))) == want
    import pytest as _pytest

    batch = spark.createDataFrame([(1,)], "user_id long")
    with _pytest.raises(ValueError, match="streaming"):
        growth_stream(batch, "/tmp/nowhere")


def test_attribution_stream_matches_batch_twin(spark, tmp_path):
    """x164 streaming twin: the finalized attribution report over all
    micro-batches equals the batch attribution_report on the full log —
    journeys STRADDLE batches (time split): a journey's touches can
    land in one batch and its closing conversion in the next, resolved
    by the carried per-user run — and a replayed batch does not
    double-count."""
    from cryoflow_spark.functions.events import attribution_report
    from cryoflow_spark.queries import load_events
    from cryoflow_spark.streaming.attribution_stream import (
        _write_attribution_partials,
        attribution_stream,
        finalize_attribution,
    )

    full = load_events(spark, "/root/testdata/sf0.001")
    src = tmp_path / "events"
    src.mkdir()
    mid = full.select(
        F.percentile(F.unix_micros("ts"), 0.5).alias("m")
    ).collect()[0]["m"]
    full.filter(F.unix_micros("ts") <= mid).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "a"))
    full.filter(F.unix_micros("ts") > mid).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "b"))
    stream = spark.readStream.schema(full.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    out = tmp_path / "attribution"
    q = attribution_stream(stream, str(out), ["purchase"])
    q.awaitTermination(120)

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    want = canon(attribution_report(full, ["purchase"]))
    assert canon(finalize_attribution(spark, str(out))) == want
    # replay idempotence on the per-batch writer (same id + content 2x)
    out2 = tmp_path / "attribution2"
    a = spark.read.parquet(str(src / "a"))
    b = spark.read.parquet(str(src / "b"))
    for batch_id, batch in ((0, a), (1, b), (0, a)):  # 0 replayed
        _write_attribution_partials(
            batch, batch_id, str(out2), ["purchase"], None,
            "ts", "user_id", "event_type", "event_id",
        )
    assert canon(finalize_attribution(spark, str(out2))) == want


def test_attribution_stream_multi_segment_and_compaction(spark, tmp_path):
    """The ordered segment fold resolves journeys spanning MANY
    conversion-free segments (touch in slice 1, nothing in slice 2,
    conversion in slice 3); compaction folds partials into one merged
    partial (closed under merge) with the finalize result unchanged;
    batch frames are rejected; whitelisted touch_types pass through."""
    from datetime import datetime

    import pytest as _pytest

    from cryoflow_spark.functions.events import attribution_report
    from cryoflow_spark.queries import load_events
    from cryoflow_spark.streaming.attribution_stream import (
        _write_attribution_partials,
        attribution_stream,
        compact_attribution_partials,
        finalize_attribution,
    )

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    def t(s):
        return datetime.fromisoformat(s)

    # hand-built: u1's first journey spans slices 1-3 (touch "ad" in
    # slice 1, inert "view" in slice 2, conversion in slice 3); u2
    # converts touchless in slice 2 then has an open tail; u3 never
    # converts
    rows = [
        # slice 1
        (1, t("2024-01-01T00:00"), 1, "ad"),
        (2, t("2024-01-01T00:05"), 3, "click"),
        # slice 2
        (3, t("2024-01-02T00:00"), 1, "view"),
        (4, t("2024-01-02T00:05"), 2, "purchase"),
        # slice 3
        (5, t("2024-01-03T00:00"), 1, "purchase"),
        (6, t("2024-01-03T00:05"), 2, "click"),
        (7, t("2024-01-03T00:06"), 1, "click"),
        (8, t("2024-01-03T00:07"), 1, "purchase"),
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    hand = spark.createDataFrame(rows, schema)
    out_h = tmp_path / "hand"
    days = [t("2024-01-01"), t("2024-01-02"), t("2024-01-03")]
    for i, day in enumerate(days):
        sl = hand.filter(
            (F.col("ts") >= F.lit(day))
            & (F.col("ts") < F.lit(day) + F.expr("INTERVAL 1 DAY"))
        )
        _write_attribution_partials(
            sl, i, str(out_h), ["purchase"], ["ad", "click"],
            "ts", "user_id", "event_type", "event_id",
        )
    want_h = canon(
        attribution_report(hand, ["purchase"], touch_types=["ad", "click"])
    )
    got_h = canon(finalize_attribution(spark, str(out_h)))
    assert got_h == want_h
    # the spanning journey really credited "ad" first-touch
    by_type = {r[0]: r for r in got_h}
    assert by_type["ad"][1] == 1
    assert by_type["(direct)"][1] == 1  # u2's touchless journey

    # real-log compaction closure (time-ordered thirds)
    events = load_events(spark, "/root/testdata/sf0.001")
    out = tmp_path / "attribution"
    lo = events.select(
        F.percentile(F.unix_micros("ts"), 0.33).alias("m")
    ).collect()[0]["m"]
    hi = events.select(
        F.percentile(F.unix_micros("ts"), 0.66).alias("m")
    ).collect()[0]["m"]
    slices = [
        events.filter(F.unix_micros("ts") <= lo),
        events.filter(
            (F.unix_micros("ts") > lo) & (F.unix_micros("ts") <= hi)
        ),
        events.filter(F.unix_micros("ts") > hi),
    ]
    for i, sl in enumerate(slices):
        _write_attribution_partials(
            sl, i, str(out), ["purchase"], None,
            "ts", "user_id", "event_type", "event_id",
        )
    want = canon(attribution_report(events, ["purchase"]))
    assert canon(finalize_attribution(spark, str(out))) == want
    rows_before = spark.read.parquet(
        str(out / "partials" / "batch_id=*")).count()
    assert compact_attribution_partials(spark, str(out)) == 3
    rows_after = spark.read.parquet(
        str(out / "partials" / "batch_id=*")).count()
    assert rows_after <= rows_before
    assert canon(finalize_attribution(spark, str(out))) == want
    # re-compaction folds the compact dir itself and stays equal
    assert compact_attribution_partials(spark, str(out)) == 1
    assert canon(finalize_attribution(spark, str(out))) == want

    batch = spark.createDataFrame(
        [(1, "view")], "user_id long, event_type string"
    )
    with _pytest.raises(ValueError, match="streaming"):
        attribution_stream(batch, "/tmp/nowhere", ["purchase"])


def test_transitions_unordered_mode_survives_interleaved_batches(
    spark, tmp_path
):
    """ordered=False (r9/r10 carried item): when per-user events
    INTERLEAVE arbitrarily across batches (event_id parity split — the
    documented precondition maximally violated), the raw-spool mode's
    finalize still equals the batch oracle; the O(1)-state ordered mode
    demonstrably mis-stitches on the same input (that divergence is WHY
    the mode exists). Replay idempotence and raw compaction hold."""
    from cryoflow_spark.functions.events import event_transition_matrix
    from cryoflow_spark.queries import load_events
    from cryoflow_spark.streaming.transitions_stream import (
        _write_transition_partials,
        compact_transition_partials,
        event_transitions_stream,
        finalize_event_transitions,
    )

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    full = load_events(spark, "/root/testdata/sf0.001")
    src = tmp_path / "events"
    src.mkdir()
    # parity split: each user's consecutive events alternate batches
    full.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "a"))
    full.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "b"))
    stream = spark.readStream.schema(full.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    out = tmp_path / "transitions_raw"
    q = event_transitions_stream(stream, str(out), ordered=False)
    q.awaitTermination(120)
    want = canon(event_transition_matrix(full))
    assert canon(
        finalize_event_transitions(spark, str(out), ordered=False)
    ) == want
    # the ordered mode's boundary stitch is WRONG on this interleaving
    out_bad = tmp_path / "transitions_ordered"
    a = spark.read.parquet(str(src / "a"))
    b = spark.read.parquet(str(src / "b"))
    for batch_id, batch in ((0, a), (1, b)):
        _write_transition_partials(
            batch, batch_id, str(out_bad), "user_id", "event_type",
            "ts", "event_id",
        )
    assert canon(finalize_event_transitions(spark, str(out_bad))) != want
    # raw-mode replay idempotence: overwrite-by-batch_id, rewritten 2x
    out2 = tmp_path / "transitions_raw2"
    for batch_id, batch in ((0, a), (1, b), (0, a)):  # 0 replayed
        batch.select("user_id", "event_type", "ts", "event_id").write.mode(
            "overwrite"
        ).parquet(f"{out2}/partials/batch_id={batch_id}")
    assert canon(
        finalize_event_transitions(spark, str(out2), ordered=False)
    ) == want
    # raw compaction: plain union closure, finalize unchanged
    assert compact_transition_partials(
        spark, str(out2), ordered=False
    ) == 2
    assert canon(
        finalize_event_transitions(spark, str(out2), ordered=False)
    ) == want


def test_attribution_unordered_mode_survives_interleaved_batches(
    spark, tmp_path
):
    """ordered=False attribution twin: parity-interleaved batches (the
    segment-order precondition violated) still finalize to the batch
    oracle via the raw spool; replay idempotence and raw compaction
    hold; unordered finalize demands conversion_types."""
    import pytest as _pytest

    from cryoflow_spark.functions.events import attribution_report
    from cryoflow_spark.queries import load_events
    from cryoflow_spark.streaming.attribution_stream import (
        attribution_stream,
        compact_attribution_partials,
        finalize_attribution,
    )

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    full = load_events(spark, "/root/testdata/sf0.001")
    src = tmp_path / "events"
    src.mkdir()
    full.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "a"))
    full.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "b"))
    stream = spark.readStream.schema(full.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    out = tmp_path / "attribution_raw"
    q = attribution_stream(stream, str(out), ["purchase"], ordered=False)
    q.awaitTermination(120)
    want = canon(attribution_report(full, ["purchase"]))
    assert canon(
        finalize_attribution(
            spark, str(out), ordered=False, conversion_types=["purchase"]
        )
    ) == want
    with _pytest.raises(ValueError, match="conversion_types"):
        finalize_attribution(spark, str(out), ordered=False)
    # raw replay idempotence + compaction closure
    out2 = tmp_path / "attribution_raw2"
    a = spark.read.parquet(str(src / "a"))
    b = spark.read.parquet(str(src / "b"))
    for batch_id, batch in ((0, a), (1, b), (0, a)):  # 0 replayed
        batch.select("user_id", "event_type", "ts", "event_id").write.mode(
            "overwrite"
        ).parquet(f"{out2}/partials/batch_id={batch_id}")
    assert canon(
        finalize_attribution(
            spark, str(out2), ordered=False, conversion_types=["purchase"]
        )
    ) == want
    assert compact_attribution_partials(
        spark, str(out2), ordered=False
    ) == 2
    assert canon(
        finalize_attribution(
            spark, str(out2), ordered=False, conversion_types=["purchase"]
        )
    ) == want


def test_burst_monitor_stream_matches_batch_twin(spark, tmp_path):
    """x118 streaming twin: the finalized burst report over all
    micro-batches equals the batch rate_anomaly_report on the full
    stream (mergeable columns), a replayed batch does not
    double-count, and compaction preserves the finalize."""
    from cryoflow_spark.functions.events import (
        merge_rate_minute_partials,
        rate_anomaly_report,
    )
    from cryoflow_spark.queries import load_events
    from cryoflow_spark.streaming.burst_stream import (
        _write_burst_partials,
        burst_monitor_stream,
        finalize_burst_report,
    )
    from cryoflow_spark.streaming.report_stream import compact_partials

    full = load_events(spark, "/root/testdata/sf0.001")
    src = tmp_path / "events"
    src.mkdir()
    full.filter("event_id % 2 = 0").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "a"))
    full.filter("event_id % 2 = 1").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "b"))
    stream = spark.readStream.schema(full.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    out = tmp_path / "burst"
    q = burst_monitor_stream(stream, str(out), trigger="available_now")
    q.awaitTermination(120)

    def canon(df):
        return sorted(
            (r["user_id"], r["n_events"], r["active_minutes"],
             r["span_seconds"], r["peak_minute_rate"],
             r["mean_per_active_minute"], r["burst_flag"])
            for r in df.collect()
        )

    got = canon(finalize_burst_report(spark, str(out), burst_per_minute=10))
    want = canon(
        rate_anomaly_report(full, burst_per_minute=10).drop(
            "distinct_gaps", "constant_cadence"
        )
    )
    assert got == want
    # replay idempotence: same (batch_id, content) delivered twice
    half = full.filter("event_id % 2 = 0")
    out2 = tmp_path / "burst2"
    _write_burst_partials(half, 0, str(out2), "user_id", "ts")
    _write_burst_partials(half, 0, str(out2), "user_id", "ts")
    got2 = canon(finalize_burst_report(spark, str(out2), burst_per_minute=10))
    want2 = canon(
        rate_anomaly_report(half, burst_per_minute=10).drop(
            "distinct_gaps", "constant_cadence"
        )
    )
    assert got2 == want2
    # compaction: merged partials are valid partial input
    removed = compact_partials(
        spark, str(out), merge_fn=merge_rate_minute_partials
    )
    assert removed >= 1
    assert canon(
        finalize_burst_report(spark, str(out), burst_per_minute=10)
    ) == want


def test_burst_monitor_stream_rejects_batch_frame(spark):
    import pytest
    from cryoflow_spark.streaming.burst_stream import burst_monitor_stream

    df = spark.range(3)
    with pytest.raises(ValueError, match="streaming"):
        burst_monitor_stream(df, "/tmp/nope")


def test_traffic_seasonality_stream_matches_batch_twin(spark, tmp_path):
    """x137 streaming twin: the finalized matrix over all micro-batches
    is bit-identical to the batch traffic_seasonality on the full log
    (counts are order-insensitive), a replayed batch does not
    double-count, and compaction preserves the result."""
    from cryoflow_spark.functions.events import traffic_seasonality
    from cryoflow_spark.queries import load_events
    from cryoflow_spark.streaming.seasonality_stream import (
        _write_seasonality_partials,
        compact_seasonality_partials,
        finalize_traffic_seasonality,
        traffic_seasonality_stream,
    )

    full = load_events(spark, "/root/testdata/sf0.001")
    src = tmp_path / "events"
    src.mkdir()
    mid = full.select(
        F.percentile(F.unix_micros("ts"), 0.5).alias("m")
    ).collect()[0]["m"]
    full.filter(F.unix_micros("ts") <= mid).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "a"))
    full.filter(F.unix_micros("ts") > mid).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "b"))
    stream = spark.readStream.schema(full.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    out = tmp_path / "clock"
    q = traffic_seasonality_stream(stream, str(out))
    q.awaitTermination(120)

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    want = canon(traffic_seasonality(full))
    assert canon(finalize_traffic_seasonality(spark, str(out))) == want
    # compaction is result-preserving
    removed = compact_seasonality_partials(spark, str(out))
    assert removed >= 1  # availableNow may fold both files into one batch
    assert canon(finalize_traffic_seasonality(spark, str(out))) == want
    # replay idempotence on the per-batch writer
    out2 = tmp_path / "clock2"
    a = spark.read.parquet(str(src / "a"))
    b = spark.read.parquet(str(src / "b"))
    for batch_id, batch in ((0, a), (1, b), (0, a)):  # 0 replayed
        _write_seasonality_partials(batch, batch_id, str(out2), "ts", "user_id")
    assert canon(finalize_traffic_seasonality(spark, str(out2))) == want


def test_traffic_seasonality_stream_validates_inputs(spark):
    from cryoflow_spark.streaming.seasonality_stream import (
        traffic_seasonality_stream,
    )

    batch = spark.createDataFrame([(1,)], "a int")
    with pytest.raises(ValueError):
        traffic_seasonality_stream(batch, "/tmp/nowhere")


def test_chat_audit_stream_matches_batch_twin(spark, tmp_path):
    """x138 streaming twin: the finalized audit over all micro-batches
    is bit-identical to the batch chat_transcript_audit on the full
    ingest (counts are order-insensitive), a replayed batch does not
    double-count, and compaction preserves the result."""
    from cryoflow_spark.functions.curation import chat_transcript_audit
    from cryoflow_spark.queries import load
    from cryoflow_spark.queries.extensions import (
        _X138_SQL_FULL,
        _X138_SQL_TRANSCRIPT,
    )
    from cryoflow_spark.streaming.chat_audit_stream import (
        _write_chat_audit_partials,
        chat_audit_stream,
        compact_chat_audit_partials,
        finalize_chat_audit,
    )

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    full = docs.select(
        "doc_id", "lang", F.expr(_X138_SQL_FULL).alias("full_json")
    ).select("doc_id", "lang", F.expr(_X138_SQL_TRANSCRIPT).alias("j"))
    src = tmp_path / "transcripts"
    src.mkdir()
    full.filter("doc_id % 2 = 0").coalesce(1).write.parquet(str(src / "a"))
    full.filter("doc_id % 2 = 1").coalesce(1).write.parquet(str(src / "b"))
    stream = spark.readStream.schema(full.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    out = tmp_path / "audit"
    q = chat_audit_stream(stream, str(out), json_col="j", group_col="lang")
    q.awaitTermination(120)

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    want = canon(chat_transcript_audit(full, "j", "lang"))
    assert canon(finalize_chat_audit(spark, str(out), "lang")) == want
    # compaction is result-preserving
    removed = compact_chat_audit_partials(spark, str(out), "lang")
    assert removed >= 1
    assert canon(finalize_chat_audit(spark, str(out), "lang")) == want
    # replay idempotence on the per-batch writer
    out2 = tmp_path / "audit2"
    a = spark.read.parquet(str(src / "a"))
    b = spark.read.parquet(str(src / "b"))
    for batch_id, batch in ((0, a), (1, b), (0, a)):  # 0 replayed
        _write_chat_audit_partials(batch, batch_id, str(out2), "j", "lang")
    assert canon(finalize_chat_audit(spark, str(out2), "lang")) == want
    # ungrouped finalize also merges (single-row report)
    out3 = tmp_path / "audit3"
    for batch_id, batch in ((0, a), (1, b)):
        _write_chat_audit_partials(batch, batch_id, str(out3), "j", None)
    got = finalize_chat_audit(spark, str(out3), None).collect()
    want_all = chat_transcript_audit(full, "j", None).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want_all))


def test_chat_audit_stream_validates_inputs(spark):
    from cryoflow_spark.streaming.chat_audit_stream import chat_audit_stream

    batch = spark.createDataFrame([("x",)], "j string")
    with pytest.raises(ValueError):
        chat_audit_stream(batch, "/tmp/nowhere")


def test_active_users_stream_matches_batch_twin(spark, tmp_path):
    """x149 streaming twin: the finalized DAU/WAU table over all
    micro-batches is bit-identical to the batch active_users_report on
    the full log (the distinct day-user set is closed under
    union+distinct), a replayed batch does not double-count, and
    compaction preserves the result."""
    from cryoflow_spark.functions.events import active_users_report
    from cryoflow_spark.queries import load_events
    from cryoflow_spark.streaming.active_users_stream import (
        _write_active_users_partials,
        active_users_stream,
        compact_active_users_partials,
        finalize_active_users,
    )

    full = load_events(spark, "/root/testdata/sf0.001")
    src = tmp_path / "events"
    src.mkdir()
    mid = full.select(
        F.percentile(F.unix_micros("ts"), 0.5).alias("m")
    ).collect()[0]["m"]
    full.filter(F.unix_micros("ts") <= mid).coalesce(1).write.parquet(
        str(src / "a")
    )
    full.filter(F.unix_micros("ts") > mid).coalesce(1).write.parquet(
        str(src / "b")
    )
    stream = spark.readStream.schema(full.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    out = tmp_path / "dau"
    q = active_users_stream(stream, str(out))
    q.awaitTermination(120)

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    want = canon(active_users_report(full))
    assert canon(finalize_active_users(spark, str(out))) == want
    removed = compact_active_users_partials(spark, str(out))
    assert removed >= 1
    assert canon(finalize_active_users(spark, str(out))) == want
    # replay idempotence on the per-batch writer
    out2 = tmp_path / "dau2"
    a = spark.read.parquet(str(src / "a"))
    b = spark.read.parquet(str(src / "b"))
    for batch_id, batch in ((0, a), (1, b), (0, a)):  # 0 replayed
        _write_active_users_partials(batch, batch_id, str(out2), "ts", "user_id")
    assert canon(finalize_active_users(spark, str(out2))) == want


def test_active_users_stream_validates_inputs(spark):
    from cryoflow_spark.streaming.active_users_stream import (
        active_users_stream,
    )

    batch = spark.createDataFrame([(1,)], "a int")
    with pytest.raises(ValueError):
        active_users_stream(batch, "/tmp/nowhere")


def test_survival_stream_matches_batch_twin(spark, tmp_path):
    """x184 streaming twin: the finalized Kaplan-Meier curve over all
    micro-batches is bit-identical to the batch kaplan_meier_survival
    on the full log (the per-user clock triple is a min/max/min
    monoid), late OUT-OF-ORDER events merge correctly (no segment-order
    precondition — min/max are order-free), a replayed batch does not
    change the result, and compaction preserves it."""
    from cryoflow_spark.functions.events import kaplan_meier_survival
    from cryoflow_spark.queries import load_events
    from cryoflow_spark.streaming.survival_stream import (
        _write_survival_partials,
        compact_survival_partials,
        finalize_survival,
        survival_stream,
    )

    full = load_events(spark, "/root/testdata/sf0.001")
    src = tmp_path / "events"
    src.mkdir()
    mid = full.select(
        F.percentile(F.unix_micros("ts"), 0.5).alias("m")
    ).collect()[0]["m"]
    # deliberately out-of-order ingest: the LATE half lands first
    full.filter(F.unix_micros("ts") > mid).coalesce(1).write.parquet(
        str(src / "a")
    )
    full.filter(F.unix_micros("ts") <= mid).coalesce(1).write.parquet(
        str(src / "b")
    )
    stream = spark.readStream.schema(full.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    out = tmp_path / "km"
    q = survival_stream(stream, str(out))
    q.awaitTermination(120)

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    want = canon(kaplan_meier_survival(full))
    assert canon(finalize_survival(spark, str(out))) == want
    removed = compact_survival_partials(spark, str(out))
    assert removed >= 1
    assert canon(finalize_survival(spark, str(out))) == want
    # replay idempotence on the per-batch writer
    out2 = tmp_path / "km2"
    a = spark.read.parquet(str(src / "a"))
    b = spark.read.parquet(str(src / "b"))
    for batch_id, batch in ((0, a), (1, b), (0, a)):  # 0 replayed
        _write_survival_partials(
            batch, batch_id, str(out2), "user_id", "ts",
            "event_type", "purchase",
        )
    assert canon(finalize_survival(spark, str(out2))) == want


def test_cusum_stream_matches_batch_twin(spark, tmp_path):
    """x193 streaming twin: the finalized CUSUM alarm table over all
    micro-batches is bit-identical to the batch cusum_change_detection
    on the full log (day counts are a sum monoid), OUT-OF-ORDER ingest
    merges correctly (counts add regardless of arrival order), a
    replayed batch does not change the result, compaction preserves
    it, and the thresholds are retunable at finalize without
    re-ingesting."""
    from cryoflow_spark.functions.events import cusum_change_detection
    from cryoflow_spark.queries import load_events
    from cryoflow_spark.streaming.monitor_stream import (
        _write_cusum_partials,
        compact_cusum_partials,
        cusum_stream,
        finalize_cusum,
    )

    full = load_events(spark, "/root/testdata/sf0.001")
    src = tmp_path / "events"
    src.mkdir()
    mid = full.select(
        F.percentile(F.unix_micros("ts"), 0.5).alias("m")
    ).collect()[0]["m"]
    # deliberately out-of-order ingest: the LATE half lands first
    full.filter(F.unix_micros("ts") > mid).coalesce(1).write.parquet(
        str(src / "a")
    )
    full.filter(F.unix_micros("ts") <= mid).coalesce(1).write.parquet(
        str(src / "b")
    )
    stream = spark.readStream.schema(full.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    out = tmp_path / "cusum"
    q = cusum_stream(stream, str(out))
    q.awaitTermination(120)

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    want = canon(cusum_change_detection(full, k=0.5, h=4.0))
    assert canon(finalize_cusum(spark, str(out))) == want
    # finalize-time threshold retune: state is raw day counts
    tuned = canon(finalize_cusum(spark, str(out), k=0.25, h=2.0))
    assert tuned == canon(cusum_change_detection(full, k=0.25, h=2.0))
    removed = compact_cusum_partials(spark, str(out))
    assert removed >= 1
    assert canon(finalize_cusum(spark, str(out))) == want
    # replay idempotence on the per-batch writer
    out2 = tmp_path / "cusum2"
    a = spark.read.parquet(str(src / "a"))
    b = spark.read.parquet(str(src / "b"))
    for batch_id, batch in ((0, a), (1, b), (0, a)):  # 0 replayed
        _write_cusum_partials(batch, batch_id, str(out2), "ts")
    assert canon(finalize_cusum(spark, str(out2))) == want


def test_drift_screen_stream_matches_batch_twin(spark, tmp_path):
    """x191 streaming twin: the finalized per-group KS + BH-FDR screen
    over all micro-batches is bit-identical to the batch group_ks_fdr
    on the full corpus ((group, value) counts are a sum monoid), with
    replay idempotence, compaction preservation, and alpha retunable
    at finalize."""
    from cryoflow_spark.functions.profiling import group_ks_fdr
    from cryoflow_spark.streaming.monitor_stream import (
        _write_drift_partials,
        compact_drift_partials,
        drift_screen_stream,
        finalize_drift_screen,
    )

    full = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = tmp_path / "docs"
    src.mkdir()
    # split mid-corpus so most (group, value) keys straddle batches
    full.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "a")
    )
    full.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b")
    )
    stream = spark.readStream.schema(full.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    out = tmp_path / "drift"
    q = drift_screen_stream(stream, str(out), "n_chars", "source")
    q.awaitTermination(120)

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    want = canon(group_ks_fdr(full, "n_chars", "source", alpha=0.05))
    assert canon(
        finalize_drift_screen(spark, str(out), group_col="source")
    ) == want
    tuned = canon(
        finalize_drift_screen(
            spark, str(out), group_col="source", alpha=0.2
        )
    )
    assert tuned == canon(
        group_ks_fdr(full, "n_chars", "source", alpha=0.2)
    )
    removed = compact_drift_partials(spark, str(out))
    assert removed >= 1
    assert canon(
        finalize_drift_screen(spark, str(out), group_col="source")
    ) == want
    # replay idempotence on the per-batch writer
    out2 = tmp_path / "drift2"
    a = spark.read.parquet(str(src / "a"))
    b = spark.read.parquet(str(src / "b"))
    for batch_id, batch in ((0, a), (1, b), (0, a)):  # 0 replayed
        _write_drift_partials(batch, batch_id, str(out2), "n_chars", "source")
    assert canon(
        finalize_drift_screen(spark, str(out2), group_col="source")
    ) == want


def test_monitor_streams_validate_inputs(spark):
    from cryoflow_spark.streaming.monitor_stream import (
        cusum_stream,
        drift_screen_stream,
        finalize_cusum,
        finalize_drift_screen,
    )

    batch = spark.range(3)
    with pytest.raises(ValueError, match="streaming"):
        cusum_stream(batch, "/tmp/x")
    with pytest.raises(ValueError, match="streaming"):
        drift_screen_stream(batch, "/tmp/x", "v", "g")
    with pytest.raises(ValueError, match="k must be"):
        finalize_cusum(spark, "/tmp/x", k=-1)
    with pytest.raises(ValueError, match="alpha"):
        finalize_drift_screen(spark, "/tmp/x", alpha=1.5)


def test_drift_state_serves_mann_whitney(spark, tmp_path):
    """One streamed (group, value) count state, two monitors: the x192
    Mann-Whitney finalize over the drift-screen stream's partials is
    bit-identical to the batch mann_whitney_u on the full corpus, with
    the group pair chosen at finalize time."""
    from cryoflow_spark.functions.profiling import mann_whitney_u
    from cryoflow_spark.streaming.monitor_stream import (
        drift_screen_stream,
        finalize_mann_whitney,
    )

    full = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = tmp_path / "docs"
    src.mkdir()
    full.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "a")
    )
    full.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b")
    )
    stream = spark.readStream.schema(full.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    out = tmp_path / "drift"
    q = drift_screen_stream(stream, str(out), "n_chars", "source")
    q.awaitTermination(120)

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    ga, gb = [
        r["source"]
        for r in full.select("source").distinct().orderBy("source").limit(2).collect()
    ]
    want = canon(mann_whitney_u(full, "n_chars", "source", ga, gb))
    assert canon(finalize_mann_whitney(spark, str(out), ga, gb)) == want


def test_exact_substring_stream_matches_batch_twin(spark, tmp_path):
    """x194 streaming twin: per-batch excision against the persisted
    fingerprint store equals the batch remover on the ingested union
    (nondecreasing-id ingest — the documented precondition), a
    replayed batch rewrites identical output even after successors
    landed, and the compacted store is itself valid partial input for
    the NEXT batch (min-monoid closure)."""
    from cryoflow_spark.functions.curation import exact_substring_dedup
    from cryoflow_spark.queries import load
    from cryoflow_spark.streaming.excise_stream import (
        _write_exact_substring_batch,
        compact_exact_substring_partials,
        exact_substring_stream,
        finalize_exact_substring,
    )

    docs = load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    lo = docs.filter(F.col("doc_id") < 250)
    hi = docs.filter(
        (F.col("doc_id") >= 250) & (F.col("doc_id") < 400)
    )
    tail = docs.filter(F.col("doc_id") >= 400)
    src = tmp_path / "docs"
    src.mkdir()
    # nondecreasing ids across batches: low-id file first
    lo.coalesce(1).write.parquet(str(src / "a"))
    hi.coalesce(1).write.parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = tmp_path / "excise"
    q = exact_substring_stream(stream, str(out), k=20)
    q.awaitTermination(180)

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    ingested = lo.unionByName(hi)
    want = canon(exact_substring_dedup(ingested, k=20))
    assert canon(finalize_exact_substring(spark, str(out))) == want

    # replay idempotence: rewrite batch 0 AFTER batch 1's partials
    # exist — successors' (larger-id) fingerprints cannot flip a min
    _write_exact_substring_batch(
        lo, 0, str(out), "text", "doc_id", 20, "md5"
    )
    assert canon(finalize_exact_substring(spark, str(out))) == want

    # compaction closure: merged store serves the NEXT batch exactly
    removed = compact_exact_substring_partials(spark, str(out))
    assert removed >= 1
    next_id = 2
    _write_exact_substring_batch(
        tail, next_id, str(out), "text", "doc_id", 20, "md5"
    )
    want_all = canon(exact_substring_dedup(docs, k=20))
    assert canon(finalize_exact_substring(spark, str(out))) == want_all


def test_exact_substring_excise_against_none_equals_batch(spark):
    """The shared-core identity: excise_against with no store IS the
    batch remover (min test == the rn>=2 window)."""
    from cryoflow_spark.functions.curation import (
        exact_substring_dedup,
        exact_substring_excise_against,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "xx the quick brown fox jumps over the lazy dog yy"),
            (3, None),
            (4, "short"),
        ],
        "doc_id long, text string",
    )
    a = sorted(
        tuple(r) for r in exact_substring_dedup(docs, k=20).collect()
    )
    b = sorted(
        tuple(r)
        for r in exact_substring_excise_against(docs, None, k=20).collect()
    )
    assert a == b


def test_cdc_census_stream_matches_batch_twin(spark, tmp_path):
    """x203 streaming twin: chunking is a stateless per-row map and the
    census a SUM monoid, so the finalized inventory+census over all
    micro-batches is bit-identical to the batch cdc_chunks on the
    ingested union — including OUT-OF-ORDER ingest (counts add in any
    arrival order, no precondition), replay idempotence, and
    compaction."""
    from cryoflow_spark.functions.curation import cdc_chunks
    from cryoflow_spark.queries import load
    from cryoflow_spark.streaming.cdc_stream import (
        _write_cdc_partials,
        cdc_census_stream,
        compact_cdc_partials,
        finalize_cdc_census,
    )

    docs = load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    hi = docs.filter(F.col("doc_id") >= 250)
    lo = docs.filter(F.col("doc_id") < 250)
    src = tmp_path / "docs"
    src.mkdir()
    # deliberately out-of-order: high ids land first (allowed here,
    # unlike the excise twin)
    hi.coalesce(1).write.parquet(str(src / "a"))
    lo.coalesce(1).write.parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = tmp_path / "cdc"
    q = cdc_census_stream(stream, str(out), k=16, divisor=64)
    q.awaitTermination(180)

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    want = canon(cdc_chunks(docs, k=16, divisor=64))
    assert canon(finalize_cdc_census(spark, str(out))) == want

    # replay idempotence
    _write_cdc_partials(hi, 0, str(out), "text", "doc_id", 16, 64, 0)
    assert canon(finalize_cdc_census(spark, str(out))) == want

    # compaction (rows are the state — plain rewrite)
    removed = compact_cdc_partials(spark, str(out))
    assert removed >= 1
    assert canon(finalize_cdc_census(spark, str(out))) == want
