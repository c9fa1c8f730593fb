"""Streaming e2e tests (SURVEY §5 adaptation item c/d): same input stream +
watermark ⇒ identical committed output under exactly-once, including
kill-and-resume from checkpoint and duplicate-clip suppression."""

from __future__ import annotations

import errno
import os
import time

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from imagor_spark.sources.clips import (
    CLIPS_SCHEMA,
    SECRET,
    generate_clips_df,
    make_pdf,
    make_row,
)
from imagor_spark.streaming.pipeline import run_pipeline
from imagor_spark.streaming.sink import IdempotentSink


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "in": str(tmp_path / "in"),
        "out": str(tmp_path / "out"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["in"])
    return d


def write_batch(spark, path, start, count, seed=42):
    pdf = make_pdf(seed, range(start, start + count), signed_mix=False)
    spark.createDataFrame(pdf, schema=CLIPS_SCHEMA).write.mode("append").parquet(path)


def write_pdf(spark, path, pdf):
    spark.createDataFrame(pdf, schema=CLIPS_SCHEMA).write.mode("append").parquet(path)


def narrow_source(spark, path):
    """``path``'s rows as the dedup stream carries them: every column but
    the payload, plus each row's source file and row index."""
    return spark.read.schema(CLIPS_SCHEMA).parquet(path).drop("bytes").select(
        "*", "_metadata.file_path", "_metadata.row_index"
    )


def render_sink(out_dir, result_cache=None):
    """The pipeline's render sink at ``out_dir``. Called directly, without
    a stream, as ``sink(narrow_source(spark, in_dir), batch_id)``, it
    commits ``in_dir``'s clips as batch ``batch_id``: data, lineage,
    metrics and rendered keys."""
    from imagor_spark.engine.transform import make_transform_fn
    from imagor_spark.streaming.pipeline import TransformingSink

    return TransformingSink(
        out_dir, transform_fn=make_transform_fn(SECRET, allow_unsafe=True),
        secret=SECRET, allow_unsafe=True, result_cache=result_cache,
    )


def test_streaming_end_to_end(spark, dirs):
    write_batch(spark, dirs["in"], 0, 60)
    q, sink = run_pipeline(
        spark, dirs["in"], dirs["out"], dirs["ckpt"], secret=SECRET, allow_unsafe=True, wait=True
    )
    out = sink.read_committed(spark)
    assert out.filter(out.status == "ok").count() > 0
    # committed rows match a batch-mode run of the same input (same semantics)
    n_stream = out.count()
    from imagor_spark.engine.transform import transform

    batch_out = transform(spark.read.parquet(dirs["in"]).dropDuplicates(["clip_id"]),
                          secret=SECRET, allow_unsafe=True)
    assert n_stream == batch_out.count()
    # lineage + metrics written per batch
    lineage = sink.read_lineage(spark)
    assert lineage.filter(lineage.n_rows > 0).count() > 0
    metrics = sink.read_metrics(spark)
    assert metrics.agg(F.sum("n")).first()[0] == n_stream
    # each side table equals its oracle over the committed rows: same
    # column names and types, same rows
    oracles = [
        (lineage, out.groupBy("part_id", "batch_id").agg(
            F.count("*").alias("n_rows"),
            F.min("ingest_ts").alias("min_ingest_ts"),
            F.max("ingest_ts").alias("max_ingest_ts"),
            F.sum("out_len").alias("out_bytes"),
        )),
        (metrics, out.groupBy("status", "codec", "batch_id").agg(F.count("*").alias("n"))),
        (sink.read_rendered_keys(spark),
         out.filter(out.status.isin("ok", "meta")).select("result_key").distinct()),
    ]
    for got, want in oracles:
        want = want.select(*got.columns)
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in want.schema
        ]
        assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)


def test_side_table_readers_skip_uncommitted_batches(spark, dirs):
    """A crash after a batch's side tables and before its marker leaves
    ``lineage/batch-N`` and ``metrics/batch-N`` with no ``_commits/N``:
    neither reader may show that batch."""
    write_batch(spark, dirs["in"], 0, 10)
    sink = render_sink(dirs["out"])
    for b in (0, 1):
        sink(narrow_source(spark, dirs["in"]), b)
    os.remove(sink._marker(1))
    assert os.path.isdir(os.path.join(sink.lineage_dir, "batch-1"))
    assert os.path.isdir(os.path.join(sink.metrics_dir, "batch-1"))
    for table in (sink.read_lineage(spark), sink.read_metrics(spark)):
        assert {r.batch_id for r in table.select("batch_id").collect()} == {0}


def test_duplicate_clip_renders_once(spark, dirs):
    """Single-render-per-key (≅ singleflight imagor.go:842-884): duplicate
    clip_ids within the watermark render exactly once."""
    pdf = make_pdf(42, range(0, 30), signed_mix=False)
    dup = pdf.iloc[:10].copy()  # exact duplicates of first 10
    write_pdf(spark, dirs["in"], pdf)
    write_pdf(spark, dirs["in"], dup)
    q, sink = run_pipeline(
        spark, dirs["in"], dirs["out"], dirs["ckpt"], secret=SECRET, allow_unsafe=True, wait=True
    )
    out = sink.read_committed(spark)
    counts = out.groupBy("clip_id").count().filter("count > 1").count()
    assert counts == 0
    assert out.count() == pdf["clip_id"].nunique()


def test_dedup_keeps_one_whole_source_row(spark, dirs):
    """Two rows share a clip_id in one trigger, with different ops, bytes
    and transcript. The dedup stream carries no payload; the sink fetches
    it late by (source file, row index). The committed row's ops,
    transcript and payload must all come from the ONE source row the dedup
    kept — never one row's ops rendered over the other row's bytes."""
    import pandas as pd

    from imagor_spark.audio import apply as audio_apply
    from imagor_spark.imagorpath import parse

    a, b = make_row(42, 1, "unsafe"), make_row(42, 2, "unsafe")
    assert a["bytes"] != b["bytes"]
    b["clip_id"] = a["clip_id"]
    a["ops"] = f"unsafe/fit-in/16000x0/{a['clip_id']}"
    b["ops"] = f"unsafe/filters:lowpass(0.5):gain(-6)/{a['clip_id']}"
    a["transcript"], b["transcript"] = "first row", "second row"
    spark.createDataFrame(pd.DataFrame([a, b]), schema=CLIPS_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(dirs["in"])
    q, sink = run_pipeline(
        spark, dirs["in"], dirs["out"], dirs["ckpt"], secret=SECRET, allow_unsafe=True, wait=True
    )
    out = sink.read_committed(spark).collect()
    assert len(out) == 1 and out[0]["status"] == "ok"
    kept = {r["ops"]: r for r in (a, b)}[out[0]["ops"]]
    assert out[0]["transcript"] == kept["transcript"]
    want, _meta = audio_apply.process(kept["bytes"], parse(kept["ops"]))
    assert bytes(out[0]["bytes"]) == want


def test_late_fetch_reads_odd_input_path(spark, tmp_path):
    """The stream records each row's source as the URI-encoded
    ``_metadata.file_path``; the late payload fetch must decode it, so an
    input dir whose name holds a space and a literal ``%41`` (a valid
    escape for ``A``) still commits every clip."""
    base = tmp_path / "odd dir %41"
    write_batch(spark, str(base / "in"), 0, 40)
    q, sink = run_pipeline(
        spark, str(base / "in"), str(base / "out"), str(base / "ckpt"),
        secret=SECRET, allow_unsafe=True, wait=True,
    )
    out = sink.read_committed(spark)
    assert out.count() == 40
    assert out.select("clip_id").distinct().count() == 40


def test_dedup_stream_is_narrow_and_sink_releases_cache(spark, dirs):
    """The payload never enters the dedup exchange, and no trigger, data
    or empty, leaves anything persisted."""
    from imagor_spark.streaming.pipeline import build_raw_stream

    for start in (0, 10, 20):
        pdf = make_pdf(42, range(start, start + 10), signed_mix=False)
        spark.createDataFrame(pdf, schema=CLIPS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(dirs["in"])
    assert "bytes" not in build_raw_stream(spark, dirs["in"]).columns
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    q, sink = run_pipeline(
        spark, dirs["in"], dirs["out"], dirs["ckpt"], secret=SECRET,
        allow_unsafe=True, wait=True, max_files_per_trigger=1,
    )
    assert len(sink.committed_batches()) >= 3  # one trigger per file
    assert sink.read_committed(spark).count() == 30
    assert jsc.getPersistentRDDs().size() == before


def trigger_jobs(spark, dirs, result_cache=None):
    """Spark jobs per trigger, counted over a job group (unique to the
    test's dirs) set around each sink call, for a stream of one 20-clip
    input file: a data trigger, then the zero-row trigger availableNow
    runs once the watermark has moved. Returns the per-trigger counts and
    the sink."""
    from imagor_spark.streaming.pipeline import build_raw_stream

    pdf = make_pdf(42, range(20), signed_mix=False)
    spark.createDataFrame(pdf, schema=CLIPS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(dirs["in"])
    sink = render_sink(dirs["out"], result_cache=result_cache)
    sc = spark.sparkContext

    def counted(batch_df, batch_id):
        sc.setJobGroup(f"{dirs['out']}-{batch_id}", "sink call")
        sink(batch_df, batch_id)

    q = (
        build_raw_stream(spark, dirs["in"]).writeStream.foreachBatch(counted)
        .option("checkpointLocation", dirs["ckpt"])
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sink.committed_batches() == [0, 1]
    assert os.path.isdir(os.path.join(sink.data_dir, "batch_id=0"))
    assert not os.path.exists(os.path.join(sink.data_dir, "batch_id=1"))
    jobs = [len(sc.statusTracker().getJobIdsForGroup(f"{dirs['out']}-{b}")) for b in (0, 1)]
    return jobs, sink


def test_trigger_job_counts(spark, dirs):
    """A data trigger runs the narrow collect, the config broadcast and the
    render, whose tasks write the data and whose collected results feed the
    side tables; the zero-row trigger runs only the collect and commits its
    marker alone."""
    jobs, sink = trigger_jobs(spark, dirs)
    assert jobs == [3, 1]
    assert sink.read_committed(spark).count() == 20


def test_trigger_job_counts_live_result_store(spark, dirs, tmp_path):
    """Against a result store that holds rendered keys, a trigger runs the
    same jobs as without one: the keys index is read and probed on the
    driver after the collect. Keys already in the store are not rendered
    again, and the marker counts them as cache hits."""
    import json

    store = render_sink(os.path.join(dirs["out"], "store"))
    done = make_pdf(42, range(5), signed_mix=False)
    write_pdf(spark, str(tmp_path / "done"), done)
    store(narrow_source(spark, str(tmp_path / "done")), 0)
    jobs, sink = trigger_jobs(spark, dirs, result_cache=store)
    assert jobs == [3, 1]
    got = {r.clip_id for r in sink.read_committed(spark).select("clip_id").collect()}
    assert got == set(make_pdf(42, range(20), signed_mix=False)["clip_id"]) - set(done["clip_id"])
    with open(sink._marker(0)) as f:
        marker = json.load(f)
    assert (marker["n_collected"], marker["n_cache_hit"], marker["n_singleflight_dropped"]) == (
        20, 5, 0
    )


def test_marker_only_result_store_plans_no_antijoin(spark, dirs):
    """An empty batch commits its marker alone, so a result store holding
    only such batches holds no rendered keys. Whether the store holds keys
    or not, the plan the sink collects is the key/validity projection
    alone: no anti-join and no broadcast, as the result cache is probed on
    the driver after the collect."""
    write_batch(spark, dirs["in"], 0, 10)
    src = narrow_source(spark, dirs["in"])
    store = render_sink(os.path.join(dirs["out"], "store"))
    store(src.limit(0), 0)
    assert store.committed_batches() == [0]
    assert not any(os.path.exists(p) for p in store._batch_dirs(0))
    assert store.rendered_keys().num_rows == 0

    def narrow_plan():
        sink = render_sink(os.path.join(dirs["out"], "sink"), result_cache=store)
        qe = sink._narrow(src)._jdf.queryExecution()
        return qe.optimizedPlan().toString() + qe.executedPlan().toString()

    plan = narrow_plan()
    assert "LeftAnti" not in plan and "BroadcastExchange" not in plan, plan
    store(src, 1)
    assert store.rendered_keys().num_rows > 0
    plan = narrow_plan()
    assert "LeftAnti" not in plan and "BroadcastExchange" not in plan, plan


def test_partition_dir_values_reach_the_sink(spark, dirs):
    """A Hive-partitioned input dir (``codec=…/``): the late fetch reads
    each file by its own path, where the partition value is not stored, so
    the value must reach the sink through the stream: a null codec would
    resolve no config row and quarantine every clip as ``not_found``."""
    pdf = make_pdf(42, range(20), signed_mix=False)
    spark.createDataFrame(pdf, schema=CLIPS_SCHEMA).write.partitionBy("codec").mode(
        "append"
    ).parquet(dirs["in"])
    q, sink = run_pipeline(
        spark, dirs["in"], dirs["out"], dirs["ckpt"], secret=SECRET, allow_unsafe=True, wait=True
    )
    out = sink.read_committed(spark).select("clip_id", "status").toPandas()
    assert sorted(out["clip_id"]) == sorted(pdf["clip_id"])
    assert set(out["status"]) == {"ok"}


def test_late_fetch_reads_each_rows_payload_across_row_groups(spark, tmp_path):
    """Input files of several row groups each: a batch of rows taken from
    across files and row groups, in no particular order, gets each row's
    own source payload, and only the payload column is read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from imagor_spark.streaming.pipeline import _with_payloads

    pdf = make_pdf(42, range(40), signed_mix=False)
    d = str(tmp_path / "in")
    os.makedirs(d)
    table = spark.createDataFrame(pdf, schema=CLIPS_SCHEMA).toArrow()
    for i in range(2):  # two 20-clip files of 3-clip row groups
        pq.write_table(table.slice(20 * i, 20), os.path.join(d, f"part-{i}.parquet"),
                       row_group_size=3)
    narrow = narrow_source(spark, d).toArrow()
    batch = narrow.take(pa.array([7, 31, 0, 12, 39, 5, 20, 33])).to_batches()[0]
    got = _with_payloads(batch)
    assert "file_path" not in got and "row_index" not in got
    want = dict(zip(pdf["clip_id"], pdf["bytes"]))
    assert list(got["clip_id"]) == batch.column("clip_id").to_pylist()
    assert [bytes(b) for b in got["bytes"]] == [want[c] for c in got["clip_id"]]


def test_render_plan_keeps_payloads_out_of_the_jvm(spark, dirs, monkeypatch):
    """The render job that a data trigger collects scans no file and
    carries no binary column in any operator's output: its only leaves
    are local relations (the survivors and the codec config), so payload
    bytes never enter the JVM. The committed rows still hold payloads, are
    all admitted, and keep every narrow value, event time included."""
    plans = []
    frame = type(spark.range(1))
    to_arrow = frame.toArrow

    def recording(df):
        plans.append(df._jdf.queryExecution().sparkPlan())
        return to_arrow(df)

    monkeypatch.setattr(frame, "toArrow", recording)
    write_batch(spark, dirs["in"], 0, 20)
    q, sink = run_pipeline(
        spark, dirs["in"], dirs["out"], dirs["ckpt"], secret=SECRET, allow_unsafe=True, wait=True
    )

    def children(node):
        kids = node.children()
        return [kids.apply(i) for i in range(kids.size())]

    def nodes(node):
        return [node] + [n for k in children(node) for n in nodes(k)]

    def name(node):
        return node.getClass().getSimpleName()

    renders = [p for p in plans if any("MapInArrow" in name(n) for n in nodes(p))]
    assert len(renders) == 1, [p.toString() for p in plans]
    for node in nodes(renders[0]):
        assert name(node) != "FileSourceScanExec"
        out = node.output()
        types = {out.apply(i).dataType().typeName() for i in range(out.size())}
        assert "binary" not in types, node.toString()
        if not children(node):
            assert name(node) == "LocalTableScanExec", name(node)
    out = sink.read_committed(spark)
    assert out.filter(F.length("bytes") > 0).count() == 20
    assert {r.status for r in out.select("status").distinct().collect()} <= {"ok", "meta"}
    cols = ["clip_id", "ingest_ts", "ops"]
    assert sorted(out.select(*cols).collect()) == sorted(
        spark.read.parquet(dirs["in"]).select(*cols).collect()
    )


def test_late_fetch_spreads_few_files_over_cores(spark, tmp_path):
    """One input file: the render's local relation is sliced over the
    cores, so the render runs on ``min(rows, cores)`` tasks, each its own
    ``part_id`` in the lineage."""
    cores = spark.sparkContext.defaultParallelism
    for n in (2, 40):
        base = tmp_path / f"n{n}"
        pdf = make_pdf(42, range(n), signed_mix=False)
        spark.createDataFrame(pdf, schema=CLIPS_SCHEMA).coalesce(1).write.parquet(
            str(base / "in")
        )
        q, sink = run_pipeline(
            spark, str(base / "in"), str(base / "out"), str(base / "ckpt"),
            secret=SECRET, allow_unsafe=True, wait=True,
        )
        lineage = sink.read_lineage(spark).collect()
        assert len({r.part_id for r in lineage}) == min(n, cores)
        assert sum(r.n_rows for r in lineage) == n


def test_commit_ignores_debris_of_a_crashed_attempt(spark, tmp_path):
    """A crashed attempt at batch 0 left a stale data file and a staging
    dir, and no ``_commits/0`` marker. The run clears both before its
    render: the committed rows equal a clean run's, with no duplicate
    ``clip_id``, and no staging dir remains. A replay of the committed
    batch (its Spark commit lost) changes nothing."""
    import shutil

    def run(name):
        return run_pipeline(
            spark, str(tmp_path / "in"), str(tmp_path / name), str(tmp_path / f"ck_{name}"),
            secret=SECRET, allow_unsafe=True, wait=True,
        )

    def rows(sink):
        cols = ["clip_id", "status", "codec", "result_key", "bytes", "batch_id"]
        return sorted(tuple(r) for r in sink.read_committed(spark).select(*cols).collect())

    write_batch(spark, str(tmp_path / "in"), 0, 30)
    _q, clean = run("clean")
    stale = next(
        os.path.join(root, f)
        for root, _d, fs in os.walk(os.path.join(clean.data_dir, "batch_id=0", "codec=wav"))
        for f in fs if f.endswith(".parquet")
    )
    crashed = IdempotentSink(str(tmp_path / "out"))
    batch0 = os.path.join(crashed.data_dir, "batch_id=0")
    for debris in (os.path.join(batch0, "codec=wav"),
                   os.path.join(batch0, "_staging", "999", "codec=wav")):
        os.makedirs(debris)
        shutil.copy(stale, os.path.join(debris, "part-00000.snappy.parquet"))
    assert crashed.committed_batches() == []

    _q, sink = run("out")
    got = rows(sink)
    assert got == rows(clean)
    assert len({r[0] for r in got}) == len(got) == 30
    assert not [root for root, _d, _f in os.walk(sink.out_dir) if "_staging" in root]
    # replay: drop Spark's record of batch 0 being done, so it runs again
    ck = str(tmp_path / "ck_out")
    shutil.rmtree(os.path.join(ck, "commits"))
    for name in ("1", ".1.crc"):
        os.remove(os.path.join(ck, "offsets", name))
    q, sink = run("out")
    assert 0 in [p["batchId"] for p in q.recentProgress]
    assert rows(sink) == got


def store_rows(spark, sink):
    """A store's committed rows, payloads included, and its lineage,
    metrics and rendered keys, each as sorted tuples."""
    reads = (sink.read_committed, sink.read_lineage, sink.read_metrics,
             sink.read_rendered_keys)
    return [sorted((tuple(r) for r in read(spark).collect()), key=repr) for read in reads]


@pytest.fixture(scope="module")
def clean_store(spark, tmp_path_factory):
    """One 20-clip input, and a clean run's ``store_rows`` over it."""
    base = tmp_path_factory.mktemp("clean")
    write_batch(spark, str(base / "in"), 0, 20)
    _q, sink = run_pipeline(
        spark, str(base / "in"), str(base / "out"), str(base / "ckpt"),
        secret=SECRET, allow_unsafe=True, wait=True,
    )
    return str(base / "in"), store_rows(spark, sink)


def _crash_after_promote(monkeypatch):
    from imagor_spark.streaming.pipeline import TransformingSink

    promote = TransformingSink._promote

    def crash(self, *args):
        promote(self, *args)
        raise RuntimeError("injected crash after the promote")

    monkeypatch.setattr(TransformingSink, "_promote", crash)


def _crash_inside_side_tables(monkeypatch):
    from imagor_spark.streaming import pipeline

    write_table, written = pipeline._write_table, []

    def crash(*args):
        if written:  # lineage is on disk, metrics and rendered keys are not
            raise RuntimeError("injected crash inside the side tables")
        written.append(args[2])
        write_table(*args)

    monkeypatch.setattr(pipeline, "_write_table", crash)


def _disk_full_on_marker(monkeypatch):
    replace = os.replace

    def full(src, dst, *args, **kwargs):
        if os.path.basename(os.path.dirname(dst)) == "_commits":
            raise OSError(errno.ENOSPC, os.strerror(errno.ENOSPC), dst)
        return replace(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "replace", full)


@pytest.mark.parametrize("fault, message", [
    pytest.param(_crash_after_promote, "injected crash after the promote",
                 id="after_promote"),
    pytest.param(_crash_inside_side_tables, "injected crash inside the side tables",
                 id="inside_side_tables"),
    pytest.param(_disk_full_on_marker, os.strerror(errno.ENOSPC), id="marker_enospc"),
])
def test_crash_in_commit_shows_nothing_and_resumes_exactly_once(
    spark, clean_store, tmp_path, monkeypatch, fault, message
):
    """A fault in one of the driver's commit steps (after the promote,
    inside the side tables, or a full disk on the marker's rename) fails
    the query and leaves no marker, so no reader shows the batch. A resume
    on the same checkpoint then commits what a clean run commits: the same
    rows and side tables."""
    in_dir, clean = clean_store
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    fault(monkeypatch)
    with pytest.raises(Exception, match=message):
        run_pipeline(spark, in_dir, out, ckpt, secret=SECRET, allow_unsafe=True, wait=True)
    monkeypatch.undo()
    crashed = IdempotentSink(out)
    assert crashed.committed_batches() == []
    for read in (crashed.read_committed, crashed.read_lineage, crashed.read_metrics):
        with pytest.raises(FileNotFoundError):
            read(spark)
    assert crashed.read_rendered_keys(spark).count() == 0
    _q, sink = run_pipeline(spark, in_dir, out, ckpt, secret=SECRET, allow_unsafe=True, wait=True)
    assert store_rows(spark, sink) == clean


def test_checkpoint_resume_exactly_once(spark, dirs):
    """Kill → append more input (incl. re-sends of old clips) → restart from
    checkpoint: committed output still has one row per clip_id."""
    write_batch(spark, dirs["in"], 0, 40)
    q, sink = run_pipeline(
        spark, dirs["in"], dirs["out"], dirs["ckpt"], secret=SECRET, allow_unsafe=True, wait=True
    )
    n1 = sink.read_committed(spark).count()
    # second wave: 20 new clips + re-send of 10 old ones
    write_batch(spark, dirs["in"], 40, 20)
    pdf_old = make_pdf(42, range(0, 10), signed_mix=False)
    write_pdf(spark, dirs["in"], pdf_old)
    q2, sink2 = run_pipeline(
        spark, dirs["in"], dirs["out"], dirs["ckpt"], secret=SECRET, allow_unsafe=True, wait=True
    )
    out = sink2.read_committed(spark)
    dupes = out.groupBy("clip_id").count().filter("count > 1").count()
    assert dupes == 0
    assert out.count() >= n1 + 15  # new clips landed (some ids may collide by design)


def test_sink_replay_is_idempotent(spark, dirs):
    """Re-invoking the sink with the same batch_id must not duplicate."""
    df = generate_clips_df(spark, 20, signed_mix=False)
    from imagor_spark.engine.transform import transform

    res = transform(df, secret=SECRET, allow_unsafe=True).cache()
    sink = IdempotentSink(dirs["out"])
    sink(res, 7)
    first = sink.read_committed(spark).count()
    sink(res, 7)  # replay
    assert sink.read_committed(spark).count() == first
    assert sink.committed_batches() == [7]


def test_late_data_dropped_beyond_watermark(spark, dirs):
    """Rows older than the watermark at dedup time are dropped from the
    dedup buffer; with a tight watermark, very-late re-sends of an already
    rendered clip are not re-emitted in the same run."""
    import pandas as pd

    pdf = make_pdf(42, range(0, 20), signed_mix=False)
    late = pdf.iloc[:5].copy()
    late["ingest_ts"] = late["ingest_ts"] - pd.Timedelta(hours=2)
    write_pdf(spark, dirs["in"], pdf)
    write_pdf(spark, dirs["in"], late)
    q, sink = run_pipeline(
        spark, dirs["in"], dirs["out"], dirs["ckpt"], secret=SECRET,
        allow_unsafe=True, watermark="1 minute", wait=True,
    )
    out = sink.read_committed(spark)
    assert out.groupBy("clip_id").count().filter("count > 1").count() == 0


def test_result_cache_skips_already_rendered(spark, dirs):
    """Result-cache load (imagor.go:403-408/600-664): a second run with a
    FRESH checkpoint and a fresh sink, anti-joined against the first run's
    committed rendered-keys index, must render 0 rows; newly-appended clips
    must still render."""
    write_batch(spark, dirs["in"], 0, 30)
    q, sink = run_pipeline(
        spark, dirs["in"], dirs["out"], dirs["ckpt"], secret=SECRET,
        allow_unsafe=True, wait=True,
    )
    n1 = sink.read_committed(spark).count()
    assert n1 > 0
    assert sink.read_rendered_keys(spark).count() > 0
    # second run: fresh checkpoint + fresh out dir, cache from run 1
    out2, ck2 = dirs["out"] + "_2", dirs["ckpt"] + "_2"
    q2, sink2 = run_pipeline(
        spark, dirs["in"], out2, ck2, secret=SECRET, allow_unsafe=True,
        wait=True, result_cache_dir=dirs["out"],
    )
    try:
        n2 = sink2.read_committed(spark).count()
    except FileNotFoundError:
        n2 = 0
    assert n2 == 0, f"cache miss: re-rendered {n2} rows"
    # backfill: 10 new clips appended → only those render
    write_batch(spark, dirs["in"], 1000, 10)
    out3, ck3 = dirs["out"] + "_3", dirs["ckpt"] + "_3"
    q3, sink3 = run_pipeline(
        spark, dirs["in"], out3, ck3, secret=SECRET, allow_unsafe=True,
        wait=True, result_cache_dir=dirs["out"],
    )
    out3_rows = sink3.read_committed(spark)
    assert out3_rows.count() == 10
    assert out3_rows.filter(~out3_rows.clip_id.rlike("^clip0000(10[0-9])")).count() == 0


def test_live_stream_sees_midstream_commits(spark, dirs):
    """ONE continuous stream, two triggers (maxFilesPerTrigger=1): clips in
    trigger 2 that duplicate trigger 1's result keys (different clip_ids,
    same ops → same canonical path → same key) must render 0 times WITHOUT
    a restart — the rendered-keys index is re-read per micro-batch
    (imagor.go:403-408 probes result storage per request)."""
    import pandas as pd

    def ops_clips(prefix, n):
        rows = []
        for i in range(n):
            base = make_row(42, i, "unsafe")
            base["clip_id"] = f"{prefix}{i:04d}"
            base["ops"] = f"unsafe/fit-in/{8000 + i}x0/shared{i}"
            rows.append(base)
        return pd.DataFrame(rows)

    # two single-file parquet waves → two micro-batches; wave B duplicates
    # wave A's result keys
    for wave in (ops_clips("orig", 10), ops_clips("dupe", 10)):
        spark.createDataFrame(wave, schema=CLIPS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(dirs["in"])
    q, sink = run_pipeline(
        spark, dirs["in"], dirs["out"], dirs["ckpt"], secret=SECRET,
        allow_unsafe=True, wait=True, result_cache_dir=dirs["out"],
        max_files_per_trigger=1,
    )
    assert len(sink.committed_batches()) == 2  # genuinely two triggers
    out = sink.read_committed(spark)
    # 20 distinct clip_ids in, but only the 10 distinct result keys render:
    # the second trigger's duplicates were anti-joined out mid-stream
    assert out.count() == 10
    assert out.select("result_key").distinct().count() == 10


def test_within_batch_singleflight(spark, dirs):
    """Singleflight INSIDE one micro-batch (imagor.go:842-884): rows in the
    SAME trigger with distinct clip_ids but identical ops+image (⇒ identical
    result_key) must render ONCE — the r4 anti-join only saw keys committed
    by PRIOR batches. The min clip_id wins deterministically; distinct-key
    rows pass through untouched."""
    import pandas as pd

    rows = []
    for i in range(6):
        base = make_row(42, i, "unsafe")
        base["clip_id"] = f"uniq{i:04d}"
        base["ops"] = f"unsafe/fit-in/{8000 + i}x0/solo{i}"
        rows.append(base)
    for j, cid in enumerate(["zebra001", "alpha001", "mid00001"]):
        dup = make_row(42, 10 + j, "unsafe")
        dup["clip_id"] = cid
        dup["ops"] = "unsafe/fit-in/16000x0/sharedclip"  # one shared key
        rows.append(dup)
    spark.createDataFrame(pd.DataFrame(rows), schema=CLIPS_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(dirs["in"])
    # NO result_cache_dir: the cross-batch anti-join is OFF, so a dedup here
    # can only come from the within-batch singleflight (the single input
    # file keeps all nine rows in one trigger)
    q, sink = run_pipeline(
        spark, dirs["in"], dirs["out"], dirs["ckpt"], secret=SECRET,
        allow_unsafe=True, wait=True,
    )
    out = sink.read_committed(spark)
    assert out.count() == 7  # 6 solo + 1 winner for the shared key
    shared = out.filter(out.ops.contains("sharedclip")).collect()
    assert len(shared) == 1
    assert shared[0]["clip_id"] == "alpha001"  # min clip_id wins
    assert out.select("result_key").distinct().count() == 7


@settings(max_examples=30, deadline=None)
@given(st.lists(st.tuples(
    st.sampled_from(["k1", "k2", "k3", None]),
    st.sampled_from(["a", "b", "é", "ab", None]),
    st.booleans(),
), max_size=12))
def test_singleflight_local_matches_spark_rule(spark, rows):
    """The sink's driver-side winner rule keeps exactly the rows that
    :func:`singleflight_within` keeps: repeated keys, all-invalid groups,
    null keys and null ids included."""
    import pyarrow as pa

    from imagor_spark.engine.transform import singleflight_local, singleflight_within

    narrow = pa.table({
        "row": pa.array(range(len(rows)), pa.int64()),
        "__rk": pa.array([r[0] for r in rows], pa.string()),
        "clip_id": pa.array([r[1] for r in rows], pa.string()),
        "__ok": pa.array([r[2] for r in rows], pa.bool_()),
    })
    want = singleflight_within(spark.createDataFrame(narrow)).select("row").collect()
    got = singleflight_local(narrow)["row"].to_pylist()
    assert sorted(got) == sorted(r.row for r in want)


def test_singleflight_rejected_row_cannot_suppress_valid_row(spark, dirs):
    """r5 ADVICE #1: winner selection runs the cheap signature/expiry check
    first — a tampered-signature duplicate with the lowest clip_id must NOT
    win the within-batch singleflight and quarantine away a valid signed
    request for the same result_key (the reference validates before the
    suppress, imagor.go:290-338 vs :842). The result_key strips/ignores
    the signature, so both rows share one key."""
    import pandas as pd

    from imagor_spark.imagorpath.signer import HMACSigner

    signer = HMACSigner("sha1", 0, SECRET)
    path = "fit-in/16000x0/sharedsig"
    good_sig = signer.sign(path)
    bad_sig = ("X" if good_sig[0] != "X" else "Y") + good_sig[1:]
    rows = []
    for cid, sig in (("aaaa0001", bad_sig), ("zzzz0001", good_sig)):
        r = make_row(42, 3, "unsafe")
        r["clip_id"] = cid
        r["ops"] = f"{sig}/{path}"
        rows.append(r)
    spark.createDataFrame(pd.DataFrame(rows), schema=CLIPS_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(dirs["in"])
    q, sink = run_pipeline(
        spark, dirs["in"], dirs["out"], dirs["ckpt"], secret=SECRET,
        allow_unsafe=False, wait=True,
    )
    out = sink.read_committed(spark).collect()
    # the VALID row must be the surviving render; the tampered duplicate is
    # suppressed (its result is the winner's committed row, not a 4xx)
    assert len(out) == 1
    assert out[0]["clip_id"] == "zzzz0001"
    assert out[0]["status"] == "ok"


def test_admission_quarantines_before_decode(spark, dirs):
    """Admission plane wired into run_pipeline (≅ CheckResolution
    processor.go:506-516 + resolution chain imagor.go:699-760): an
    over-limit clip and an unknown-codec clip are quarantined BEFORE decode
    — the bomb row carries a garbage payload that would raise decode_error
    if the decoder ever touched it."""
    import pandas as pd

    pdf = make_pdf(42, range(0, 10), signed_mix=False)
    bomb = pdf.iloc[[0]].copy()
    bomb["clip_id"] = "bomb0001"
    bomb["ops"] = "unsafe/fit-in/12345x0/bomb0001"
    bomb["dur_ms"] = 7_200_000  # > every configured max_dur_ms
    bomb["bytes"] = [b"RIFFgarbage-not-decodable" * 3]
    unknown = pdf.iloc[[1]].copy()
    unknown["clip_id"] = "noloader1"
    unknown["codec"] = "opus"  # no config row → not_found
    # distinct ops path: an identical path would (correctly) coalesce with
    # row 1 under the within-batch singleflight before admission ran
    unknown["ops"] = "unsafe/fit-in/9000x0/noloader1"
    write_pdf(spark, dirs["in"], pd.concat([pdf, bomb, unknown]))
    q, sink = run_pipeline(
        spark, dirs["in"], dirs["out"], dirs["ckpt"], secret=SECRET,
        allow_unsafe=True, wait=True,
    )
    out = sink.read_committed(spark)
    by_id = {r["clip_id"]: r for r in out.collect()}
    assert by_id["bomb0001"]["status"] == "resolution_bomb"  # NOT decode_error
    assert by_id["bomb0001"]["bytes"] in (None, b"")
    assert by_id["noloader1"]["status"] == "not_found"
    assert out.filter(out.status == "ok").count() == 10
    # a quarantined row has no output codec: null in the data and metrics
    assert by_id["bomb0001"]["codec"] is None
    quarantined = sink.read_metrics(spark).filter("status IN ('resolution_bomb', 'not_found')")
    assert {(r.status, r.codec, r.n) for r in quarantined.collect()} == {
        ("resolution_bomb", None, 1), ("not_found", None, 1)
    }
    # quarantined rows are NOT in the rendered-keys index (re-submission
    # after a config fix must render, not cache-hit)
    keys = {r["result_key"] for r in sink.read_rendered_keys(spark).collect()}
    assert by_id["bomb0001"]["result_key"] not in keys


def test_result_cache_ttl_expiry(spark, dirs):
    """Result-cache TTL (getTtl imagor.go:991-1003 + expiration-on-Get
    filestorage.go:64-76): expired batches drop out of the rendered-keys
    index (→ re-render) and out of committed reads."""
    import json as _json
    import os as _os

    write_batch(spark, dirs["in"], 0, 15)
    q, sink = run_pipeline(
        spark, dirs["in"], dirs["out"], dirs["ckpt"], secret=SECRET,
        allow_unsafe=True, wait=True,
    )
    n_keys = sink.read_rendered_keys(spark).count()
    assert n_keys > 0
    # fresh: everything visible under a generous TTL
    assert sink.read_rendered_keys(spark, max_age_ms=10**9).count() == n_keys
    assert sink.read_committed(spark, max_age_ms=10**9).count() > 0
    # pretend time passed: a tiny TTL expires every batch
    committed_at = _json.load(open(_os.path.join(dirs["out"], "_commits", "0")))["committed_at_ms"]
    later = committed_at + 60_000
    assert sink.read_rendered_keys(spark, max_age_ms=1000, now_ms=later).count() == 0
    try:
        n_exp = sink.read_committed(spark, max_age_ms=1000, now_ms=later).count()
    except FileNotFoundError:
        n_exp = 0
    assert n_exp == 0

    # the pipeline's TTL, against the first run's store: an unexpired TTL
    # renders no row again; a 1 ms TTL, once it has passed, expires every
    # batch, so every key renders again
    def rerun(name, max_age_ms):
        _q, again = run_pipeline(
            spark, dirs["in"], dirs["out"] + name, dirs["ckpt"] + name, secret=SECRET,
            allow_unsafe=True, wait=True, result_cache_dir=dirs["out"],
            result_cache_max_age_ms=max_age_ms,
        )
        return again

    with pytest.raises(FileNotFoundError):
        rerun("_fresh", 10**9).read_committed(spark)
    time.sleep(0.05)
    again = rerun("_expired", 1)
    assert again.read_committed(spark).count() == sink.read_committed(spark).count()
    assert sorted(again.read_rendered_keys(spark).collect()) == sorted(
        sink.read_rendered_keys(spark).collect()
    )


def test_rendered_keys_compaction(spark, dirs, monkeypatch):
    """Index compaction (result-cache index maintenance): folding the
    per-batch rendered_keys dirs into one distinct parquet must preserve
    the key set (identical anti-join skip behavior), shrink the dir count,
    keep row-level TTL semantics, and keep folding post-compaction batches."""
    # 4 index-disjoint mini-batches through the real sink path, fewer than
    # auto-compaction needs, so compaction below is manual
    sink = render_sink(dirs["out"])
    for i in range(4):
        in_dir = os.path.join(dirs["in"], f"b{i}")
        write_batch(spark, in_dir, i * 8, 8)
        sink(narrow_source(spark, in_dir), i)
    keys_before = sorted(
        r["result_key"] for r in sink.read_rendered_keys(spark).collect()
    )
    assert len(keys_before) > 0
    assert sink._n_rendered_batch_dirs() == 4
    n = sink.compact_rendered_keys(spark)
    assert n == len(set(keys_before))
    # fewer input dirs: batch dirs folded away, one compact dir + manifest
    assert sink._n_rendered_batch_dirs() == 0
    assert sink._read_compact_manifest() is not None
    keys_after = sorted(
        r["result_key"] for r in sink.read_rendered_keys(spark).collect()
    )
    assert keys_after == sorted(set(keys_before))
    # row-level TTL survives compaction: everything fresh now, nothing later
    assert sink.read_rendered_keys(spark, max_age_ms=10**9).count() == n
    import time as _time

    later = int(_time.time() * 1000) + 60_000
    assert sink.read_rendered_keys(spark, max_age_ms=1000, now_ms=later).count() == 0
    # a post-compaction batch unions in via the batch-dir path...
    write_batch(spark, os.path.join(dirs["in"], "b4"), 500, 5)
    sink(narrow_source(spark, os.path.join(dirs["in"], "b4")), 4)
    n_with_new = sink.read_rendered_keys(spark).count()
    assert n_with_new > n
    # ...and a second compaction folds it too (idempotent on re-run)
    assert sink.compact_rendered_keys(spark) == n_with_new
    assert sink.compact_rendered_keys(spark) == 0  # nothing new
    assert sink.read_rendered_keys(spark).count() == n_with_new

    # a fold that crashes while writing its compact file leaves the old
    # manifest in force, and the key set as it was
    from imagor_spark.streaming import sink as sink_module

    def boom(*_a, **_k):
        raise OSError("injected")

    write_batch(spark, os.path.join(dirs["in"], "b5"), 600, 5)
    sink(narrow_source(spark, os.path.join(dirs["in"], "b5")), 5)
    keys_live = sorted(sink.rendered_keys()["result_key"].to_pylist())
    manifest = sink._read_compact_manifest()
    with monkeypatch.context() as m:
        m.setattr(sink_module.pq, "write_table", boom)
        with pytest.raises(OSError, match="injected"):
            sink.compact_rendered_keys(spark)
    assert sink._read_compact_manifest() == manifest
    assert sorted(sink.rendered_keys()["result_key"].to_pylist()) == keys_live
    # a fold that crashes in its cleanup, after the manifest swap, leaves
    # the same key set; the next fold removes what it left
    with monkeypatch.context() as m:
        m.setattr(sink_module.shutil, "rmtree", boom)
        with pytest.raises(OSError, match="injected"):
            sink.compact_rendered_keys(spark)
    assert sink._read_compact_manifest()["upto"] == 5
    assert sink._n_rendered_batch_dirs() > 0
    assert sorted(sink.rendered_keys()["result_key"].to_pylist()) == keys_live
    assert sink.compact_rendered_keys(spark) == 0
    assert sink._n_rendered_batch_dirs() == 0
    assert sorted(os.listdir(sink.rendered_dir)) == ["_compacted.json", "compact-5"]
    assert sorted(sink.rendered_keys()["result_key"].to_pylist()) == keys_live


def test_ttl_read_opens_each_commit_marker_once(tmp_path, monkeypatch):
    """A marker never changes once written, so a sink opens each at most
    once: a second TTL read of the rendered-keys index opens no marker,
    and one more committed batch costs one more open."""
    import builtins
    import json

    from imagor_spark.streaming import sink as sink_module

    sink = IdempotentSink(str(tmp_path / "out"))
    now = int(time.time() * 1000)

    def mark(b):
        with open(sink._marker(b), "w") as f:
            json.dump({"batch_id": b, "wall_s": 0.0, "committed_at_ms": now - b}, f)

    for b in range(2000):
        mark(b)
    opened = []

    def counting_open(path, *args, **kwargs):
        if os.path.dirname(str(path)) == sink.commits_dir:
            opened.append(path)
        return builtins.open(path, *args, **kwargs)

    monkeypatch.setattr(sink_module, "open", counting_open, raising=False)
    assert sink.rendered_keys(max_age_ms=10**9).num_rows == 0
    assert len(opened) == 2000
    assert sink.committed_batches(max_age_ms=1000, now_ms=now) == list(range(1001))
    opened.clear()
    sink.rendered_keys(max_age_ms=10**9)
    assert opened == []
    mark(2000)
    sink.rendered_keys(max_age_ms=10**9)
    assert opened == [sink._marker(2000)]


def test_rendered_keys_auto_compaction(spark, dirs, monkeypatch):
    """The sink auto-compacts once RENDERED_COMPACT_EVERY batch dirs
    accumulate, and the anti-join skip behavior is unchanged afterwards."""
    from imagor_spark.engine.transform import skip_rendered
    from imagor_spark.streaming import pipeline

    monkeypatch.setattr(pipeline, "RENDERED_COMPACT_EVERY", 2)
    sink = render_sink(dirs["out"])
    in_dirs = [os.path.join(dirs["in"], f"b{i}") for i in range(3)]
    for i, in_dir in enumerate(in_dirs):
        write_batch(spark, in_dir, i * 6, 6)
        sink(narrow_source(spark, in_dir), i)
    # 3 batches with every=2 → at least one auto-compaction fired
    assert sink._read_compact_manifest() is not None
    assert sink._n_rendered_batch_dirs() < 3
    # identical skip behavior: every already-rendered clip is anti-joined out
    union = spark.read.schema(CLIPS_SCHEMA).parquet(*in_dirs)
    left = skip_rendered(union, sink.read_rendered_keys(spark))
    assert left.count() == 0


@pytest.mark.parametrize(
    "name",
    [
        "streaming_tumbling_parity",
        "streaming_sliding_parity",
        "streaming_session_parity",
        "audio_pipeline_shapes",
        "audio_status_by_codec",
        "admission_mix",
        "result_cache_antijoin",
    ],
)
def test_streaming_parity_matches_oracle(spark, name):
    """Each bounded streaming-window query (tumbling, sliding — every clip
    in exactly two windows — and session), plus the pipeline queries that
    share the derived-clips oracle or the request lifecycle, hashes equal
    to its DuckDB oracle over the same tables, with the oracle sweep's
    normalisation."""
    import duckdb

    import __spark_entry__ as entry
    from tools.oracle_sweep import TABLES, frame_fingerprint

    sf = "/root/testdata/sf0.001"
    sdf = entry.queries()[name](spark, sf)
    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        cur = con.execute(entry.oracle_sql()[name])
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
    finally:
        con.close()
    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows) > 1  # non-degenerate: several groups
    assert frame_fingerprint(scols, srows) == frame_fingerprint(ocols, orows)


def test_compaction_during_live_stream_with_same_dir_cache(spark, dirs, monkeypatch):
    """The r3 ADVICE hazard: with result_cache_dir == out_dir (resume-with-
    cache) and aggressive auto-compaction, compaction rmtree's rendered-keys
    dirs WHILE the stream is running. The per-batch index re-read means
    every batch plans against the current manifest, so the stream must
    survive multiple mid-stream compactions and still skip all duplicates."""
    import pandas as pd

    def wave(prefix, lo, hi, shared_ops=True):
        rows = []
        for i in range(lo, hi):
            base = make_row(42, i, "unsafe")
            base["clip_id"] = f"{prefix}{i:04d}"
            if shared_ops:
                base["ops"] = f"unsafe/fit-in/{8000 + i}x0/shared{i}"
            rows.append(base)
        return pd.DataFrame(rows)

    # 6 single-file waves: 3 originals + 3 key-duplicates → 6 micro-batches
    for w in [wave("a", 0, 5), wave("b", 5, 10), wave("c", 10, 15),
              wave("da", 0, 5), wave("db", 5, 10), wave("dc", 10, 15)]:
        spark.createDataFrame(w, schema=CLIPS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(dirs["in"])
    from imagor_spark.streaming import pipeline

    # compact aggressively mid-stream, with the SAME dir as the live cache
    monkeypatch.setattr(pipeline, "RENDERED_COMPACT_EVERY", 2)
    sink = render_sink(dirs["out"], result_cache=IdempotentSink(dirs["out"]))
    stream = pipeline.build_raw_stream(spark, dirs["in"], max_files_per_trigger=1)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", dirs["ckpt"])
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()  # raises if any batch died on FileNotFoundException
    assert len(sink.committed_batches()) == 6
    assert sink._read_compact_manifest() is not None  # compaction DID fire
    out = sink.read_committed(spark)
    assert out.count() == 15  # every duplicate wave rendered 0 rows
    assert out.select("result_key").distinct().count() == 15


def test_aggsink_exactly_once_fold_and_checkpoint_resume(spark, dirs):
    """AggSink (the parity queries' sink): (a) a replayed batch_id is a
    no-op (exactly-once), (b) read_latest folds the committed update log
    latest-batch-wins per group, (c) a second availableNow pass over the
    SAME checkpoint processes only new files and updates only changed
    groups — the resume shape complete-mode memory sinks cannot do."""
    import pandas as pd

    from imagor_spark.streaming.sink import AggSink

    sink = AggSink(dirs["out"])
    b0 = spark.createDataFrame(pd.DataFrame(
        {"k": ["a", "b"], "n_clips": [1, 2]}))
    sink(b0, 0)
    # replay of batch 0 with DIFFERENT data must be ignored
    sink(spark.createDataFrame(pd.DataFrame({"k": ["a"], "n_clips": [99]})), 0)
    got = {r["k"]: r["n_clips"] for r in sink.read_latest(spark, ["k"]).collect()}
    assert got == {"a": 1, "b": 2}
    # batch 1 updates 'b' and adds 'c' → latest-batch-wins fold
    sink(spark.createDataFrame(pd.DataFrame(
        {"k": ["b", "c"], "n_clips": [5, 7]})), 1)
    got = {r["k"]: r["n_clips"] for r in sink.read_latest(spark, ["k"]).collect()}
    assert got == {"a": 1, "b": 5, "c": 7}

    # real checkpointed stream: two availableNow passes, one checkpoint
    src = os.path.join(dirs["in"], "agg_src")
    ck = dirs["ckpt"]
    out2 = os.path.join(dirs["out"], "stream")
    spark.createDataFrame(pd.DataFrame(
        {"k": ["x", "x", "y"], "v": [1, 1, 1]})).write.mode("append").parquet(src)
    sink2 = AggSink(out2)

    def run_pass():
        agg = (spark.readStream.schema("k string, v long").parquet(src)
               .groupBy("k").agg(F.count("*").alias("n_clips")))
        q = (agg.writeStream.foreachBatch(sink2).outputMode("update")
             .option("checkpointLocation", ck).trigger(availableNow=True).start())
        q.awaitTermination()

    run_pass()
    got = {r["k"]: r["n_clips"] for r in sink2.read_latest(spark, ["k"]).collect()}
    assert got == {"x": 2, "y": 1}
    # append new rows; resume from the SAME checkpoint → only the delta is
    # processed, updated groups win the fold
    spark.createDataFrame(pd.DataFrame(
        {"k": ["x", "z"], "v": [1, 1]})).write.mode("append").parquet(src)
    run_pass()
    got = {r["k"]: r["n_clips"] for r in sink2.read_latest(spark, ["k"]).collect()}
    assert got == {"x": 3, "y": 1, "z": 1}
    # replay: Spark's record of the last batch is lost, so it runs again;
    # the sink skips its commit and the stateful query still succeeds
    commits = os.path.join(ck, "commits")
    last = max(int(c) for c in os.listdir(commits) if c.isdigit())
    for name in (str(last), f".{last}.crc"):
        os.remove(os.path.join(commits, name))
    run_pass()
    assert {r["k"]: r["n_clips"] for r in sink2.read_latest(spark, ["k"]).collect()} == got
