"""The continuous dataflow — micro-batch replaces HTTP request.

≅ the reference's request lifecycle (imagor.go:275-540) as Structured
Streaming (SURVEY §3.1 Spark mapping). The stream is a plain projection:
no stateful operator, no exchange. The payload is fetched late, for the
rows that survive:

  readStream (file source)
    → project every column but the payload, + _metadata.file_path/row_index
    → foreachBatch TransformingSink:
        key + signature/expiry pre-check, collected once per trigger to
        the driver as one Arrow table
        → clip_id dedup within the watermark on ingest_ts, against the
          sink's window of kept keys (DedupWindow: singleflight +
          single-render-per-key, imagor.go:842-884)
        → result-cache probe of the local rows against the committed
          rendered-keys index, read on the driver with pyarrow
        → within-batch singleflight on the local rows
        → the survivors, sorted by (file_path, row_index), as a local
          relation admitted against the broadcast codec config
        → ONE render job (mapInArrow) on contiguous slices of them: each
          task reads only the payload column of its own rows' source row
          groups (pyarrow), runs decode→ops→encode, and writes its rows as
          one snappy parquet file per codec into its attempt's hidden
          staging dir, returning only narrow per-row results
        → exactly-once save: the driver promotes the files of the
          attempts whose results it collected, rolls the side tables up
          from those results, writes the window delta, then the marker

Payload bytes never enter the JVM: no scan, join, exchange, Arrow hop or
Spark write carries them. A render task holds one input batch's payloads
(``maxRecordsPerBatch`` rows) and their renders at a time, plus one read
chunk of source rows.

One trigger's narrow rows are one driver result (about 317 B a row, so
about 3M rows under the 1 GiB ``spark.driver.maxResultSize`` default);
``max_files_per_trigger`` is the bound that keeps a trigger under it. The
result includes the trigger's cache hits, and the whole result-cache index
is read into the driver each trigger (as a broadcast join's build was).

The dedup window lives on the driver, next to that result: the keys that
arrived within the watermark delay, with their expiry, as one Arrow table
(about 23 MB for 10^6 twelve-character ``clip_id``s; a 2,000-row trigger
is probed against it in about 50 ms, on a 4-core Xeon VM). A restart
reads only the committed deltas that still hold a live key: the watermark
bounds the state, as the reference's result-cache TTL bounds its storage
(getTtl, imagor.go:991-1003).
"""

from __future__ import annotations

import logging
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..engine.config import params_config_df, resolve_with_config
from ..engine.transform import (
    OUTPUT_SCHEMA,
    make_key_validity_udf,
    make_transform_fn,
    singleflight_local,
)
from ..sources.clips import CLIPS_SCHEMA
from .sink import DedupWindow, IdempotentSink

log = logging.getLogger(__name__)

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def configure_streaming(spark) -> None:
    """Set RocksDB as the session's state store provider. The pipeline's
    stream is stateless and does not call this; it stays only for the
    benchmark's traced ``streaming.dedup`` span, which still calls it."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)


def watermark_delay_ms(spark, delay: str) -> int:
    """``delay`` (e.g. ``"10 minutes"``) in ms, as Spark reads a watermark
    delay: its interval grammar, a month counted as 31 days."""
    jvm = spark._jvm
    interval = jvm.org.apache.spark.sql.catalyst.util.IntervalUtils.fromIntervalString(delay)
    ms = jvm.org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark.getDelayMs(interval)
    if ms < 0:
        raise ValueError(f"watermark delay must not be negative: {delay!r}")
    return int(ms)


def build_raw_stream(
    spark,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Source → narrow projection: no watermark, no stateful operator, no
    exchange, and NO transform. The dedup and the render plane run
    per-batch inside :class:`TransformingSink` instead, so each
    micro-batch re-resolves the committed result-cache index and admission
    config (the reference probes result storage per request,
    imagor.go:403-408 — a snapshot taken once at stream start would miss
    keys committed mid-stream and re-render duplicates).

    The stream carries every source column but ``bytes``, plus
    ``file_path, row_index``: the payload never enters the JVM. The sink
    locates each surviving row's payload by its source file and row index
    (the file source's ``_metadata`` fields). Every other column,
    partition-directory values of a Hive-style ``input_dir`` included, is
    resolved here, by the stream."""
    reader = spark.readStream.schema(CLIPS_SCHEMA)
    if max_files_per_trigger:
        # admission control ≅ ProcessConcurrency/ProcessQueueSize semaphores
        # (imagor.go:134-137,409-427): bound in-flight work per trigger
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir).select(
        *[c for c in StructType.fromDDL(CLIPS_SCHEMA).names if c != "bytes"],
        "_metadata.file_path", "_metadata.row_index",
    )


# Payload rows per chunk read from a source row group: a few MB of payload
# at a time, with the read of a row group stopping past its last wanted row.
_READ_ROWS = 64

# Compact the rendered-keys index once this many per-batch dirs accumulate.
RENDERED_COMPACT_EVERY = 32

# statuses whose results land in result storage (≅ successful render)
_RENDERED_STATUSES = ("ok", "meta")

# the side tables' file schemas
_TS = pa.timestamp("us", tz="UTC")
_LINEAGE_SCHEMA = pa.schema([
    ("part_id", pa.int32()), ("n_rows", pa.int64()), ("min_ingest_ts", _TS),
    ("max_ingest_ts", _TS), ("out_bytes", pa.int64()), ("batch_id", pa.int32()),
])
_METRICS_SCHEMA = pa.schema([
    ("status", pa.string()), ("codec", pa.string()), ("n", pa.int64()),
    ("batch_id", pa.int32()),
])
_RENDERED_KEYS_SCHEMA = pa.schema([("result_key", pa.string())])


def _write_table(table: pa.Table, schema: pa.Schema, path: str) -> None:
    """``table`` as the single parquet file of dir ``path``."""
    os.makedirs(path)
    pq.write_table(table.select(schema.names).cast(schema),
                   os.path.join(path, "part-00000.parquet"))


# What a render task returns per row: all the driver needs to promote the
# task's files and to roll up the side tables.
RESULT_SCHEMA = (
    "part_id int, status string, codec string, ingest_ts timestamp, "
    "out_len int, result_key string, attempt long"
)


class TaskFiles:
    """One render task's share of a batch: its rows, appended to one snappy
    parquet file per ``codec`` in the ``codec=X/`` layout (an empty codec
    under ``__HIVE_DEFAULT_PARTITION__``, as Spark's writer spells a null),
    inside the task attempt's own dir under the batch's staging dir. The
    driver promotes the files of the attempts whose results it collected
    (:meth:`TransformingSink._promote`)."""

    def __init__(self, staging: str):
        ctx = TaskContext.get()
        self.part_id, self.attempt = ctx.partitionId(), ctx.taskAttemptId()
        self.dir = os.path.join(staging, str(self.attempt))
        self.writers: dict[str | None, pq.ParquetWriter] = {}

    def write(self, rows: pa.Table) -> pa.Table:
        """Append ``rows`` (rendered rows with a ``codec`` column) and return
        their ``RESULT_SCHEMA`` results."""
        codec = rows["codec"]
        codec = pc.if_else(pc.equal(codec, ""), pa.scalar(None, codec.type), codec)
        n = rows.num_rows
        part_id = pa.repeat(pa.scalar(self.part_id, pa.int32()), n)
        out_len = pc.binary_length(rows["bytes"])
        data = (rows.drop_columns(["codec"]).append_column("part_id", part_id)
                .append_column("out_len", out_len))
        for value in pc.unique(codec).to_pylist():
            keep = pc.is_null(codec) if value is None else pc.equal(codec, value)
            self._writer(value, data.schema).write_table(data.filter(keep))
        return pa.table({
            "part_id": part_id, "status": rows["status"], "codec": codec,
            "ingest_ts": rows["ingest_ts"], "out_len": out_len,
            "result_key": rows["result_key"],
            "attempt": pa.repeat(pa.scalar(self.attempt, pa.int64()), n),
        })

    def _writer(self, codec: str | None, schema: pa.Schema) -> pq.ParquetWriter:
        if codec not in self.writers:
            path = os.path.join(self.dir, f"codec={codec or '__HIVE_DEFAULT_PARTITION__'}")
            os.makedirs(path, exist_ok=True)
            # snappy (r6 A/B, reversing the r3 zstd choice with measurement):
            # the payload column is ALREADY-ENCODED media — zstd recovers
            # only ~5% (2,711 MB written vs 2,853 MB raw at sf0.1) yet costs
            # ~20 s of a ~27 s pipeline run in compression CPU (measured
            # same-host-phase: zstd 47.4 s, snappy 27.3 s, uncompressed
            # 30.3 s). Snappy is near-free CPU and its 5% loss costs ~1.2 s
            # even on the 122 MB/s disk workdir — it wins on BOTH workdirs,
            # and the same holds at scale for any sink whose payloads are
            # compressed codecs.
            self.writers[codec] = pq.ParquetWriter(
                os.path.join(path, f"part-{self.part_id:05d}.snappy.parquet"),
                schema, compression="snappy",
            )
        return self.writers[codec]

    def close(self) -> None:
        for writer in self.writers.values():
            writer.close()


def _read_payloads(uri: str, want: np.ndarray) -> pa.Array:
    """The ``bytes`` of rows ``want`` (row indices) of the parquet file at
    ``uri``, in ``want``'s order. ``uri`` is a ``_metadata.file_path``
    (a space is ``%20``, a literal ``%`` is ``%25``), which ``from_uri``
    decodes. Only the ``bytes`` column of the row groups that hold those
    rows is read, ``_READ_ROWS`` rows at a time, each group up to its last
    wanted row."""
    rows, inverse = np.unique(want, return_inverse=True)
    fs, path = pafs.FileSystem.from_uri(uri)
    got = []
    with fs.open_input_file(path) as f:
        # buffered: a column chunk is read page by page as it is decoded,
        # not whole
        pf = pq.ParquetFile(f, buffer_size=1 << 20)
        start = 0
        for g in range(pf.num_row_groups):
            end = start + pf.metadata.row_group(g).num_rows
            need = rows[(rows >= start) & (rows < end)]
            if len(need):
                at = start
                for chunk in pf.iter_batches(_READ_ROWS, row_groups=[g],
                                             columns=["bytes"], use_threads=False):
                    hit = need[(need >= at) & (need < at + chunk.num_rows)]
                    got.append(chunk.column(0).take(hit - at))
                    at += chunk.num_rows
                    if at > need[-1]:
                        break
            start = end
    return pa.concat_arrays(got).take(inverse)


def _with_payloads(batch: pa.RecordBatch) -> pd.DataFrame:
    """A batch of survivors as the frame the transform reads: each row's
    ``file_path, row_index`` replaced by its source payload ``bytes``, and
    ``ingest_ts`` in naive UTC, as ``mapInPandas`` hands it over."""
    paths = batch.column("file_path").to_numpy(zero_copy_only=False)
    rows = batch.column("row_index").to_numpy()
    order, payloads = [], []
    for path in dict.fromkeys(paths):
        at = np.flatnonzero(paths == path)
        order.append(at)
        payloads.append(_read_payloads(path, rows[at]))
    table = pa.Table.from_batches([batch]).drop_columns(["file_path", "row_index"])
    return (
        table.set_column(
            table.schema.get_field_index("ingest_ts"), "ingest_ts",
            table["ingest_ts"].cast(pa.timestamp("us")),
        )
        .append_column("bytes", pa.concat_arrays(payloads).take(
            np.argsort(np.concatenate(order))
        ))
        .to_pandas()
    )


def _render(transform_fn, schema: pa.Schema, staging: str):
    """The render job's ``mapInArrow`` function. A task streams its input
    batches of admitted survivors: for each it reads the payloads from the
    source files, renders them with ``transform_fn`` (whose output columns
    ``schema`` types) and appends the rendered rows to its staged files
    (:class:`TaskFiles`) as one row group per codec, returning only their
    narrow results (``RESULT_SCHEMA``). It holds one input batch's
    payloads and their renders at a time, plus one read chunk."""

    def fn(batches):
        files = TaskFiles(staging)
        try:
            for pdf in transform_fn(_with_payloads(b) for b in batches if b.num_rows):
                rows = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
                yield from files.write(rows).to_batches()
        finally:
            files.close()

    return fn


class TransformingSink(IdempotentSink):
    """The request lifecycle (imagor.go:275-540) executed INSIDE foreachBatch:

      narrow batch → key + signature/expiry pre-check
            → ONE collect of the narrow rows to the driver (an Arrow table)
            → clip_id dedup (:class:`~.sink.DedupWindow`): rows at or
              behind the watermark are dropped as late, rows whose clip_id
              is live in the window as duplicates, and one row per new
              clip_id is kept
            → result-cache probe: rows whose key is in the committed
              rendered-keys index (re-read THIS batch) are dropped
            → within-batch singleflight on that table (same result_key
              renders once)
            → the survivors, sorted by source (file_path, row_index), as a
              local relation admitted against the config dimension
            → ONE render job: each task reads its own survivors' payloads,
              runs decode→ops→encode and stages its own parquet files,
              returning only narrow per-row results to the driver
            → exactly-once commit (IdempotentSink): promote the collected
              attempts' files, side tables from the results, window delta,
              marker (the marker and delta alone when nothing renders)

    Re-reading the committed rendered-keys index per micro-batch is the
    live result-cache economy: a key committed by batch N skips render in
    batch N+1 of the SAME continuous stream (no restart needed) — matching
    the reference's per-request result-storage probe (imagor.go:403-408,
    loadResult :600-664). The read and the probe run on the driver with
    pyarrow, at no Spark job.

    The marker holds every input row's fate: ``n_in`` (the rows collected,
    which are the trigger's input rows) is ``n_late + n_duplicate +
    n_cache_hit + n_singleflight_dropped`` plus the batch's committed rows
    (rendered or quarantined). It also holds the window's ``watermark_ms``.

    Admission (≅ CheckResolution processor.go:506-516 + the loader
    resolution chain imagor.go:699-760): the per-codec config dimension is
    broadcast-joined against the local survivors, and the resulting
    ``admit_status`` column rides INTO the transform, which quarantines
    non-ok rows before touching a payload byte. The dimension is tiny (one
    row per codec) and so are the narrow survivors.

    Payload bytes never enter the JVM (≅ imagor's loader → processor →
    storage path, with no query engine in between). The survivors' local
    relation is sliced contiguously over the cores, so each render task
    reads only the ``bytes`` column of the row groups holding its own rows
    (with pyarrow), and writes its rendered rows itself: one snappy parquet
    file per codec under a hidden staging dir of its task attempt
    (≅ ``FileStorage.Put``'s temp file then rename, filestorage.go:79-115).
    A task streams its input batches (``maxRecordsPerBatch`` rows): it
    holds one batch's payloads and their renders, plus one read chunk of
    ``_READ_ROWS`` source rows.

    Ceiling: one trigger's narrow rows, its cache hits included, are one
    driver result, about 317 B a row, so about 3M rows fit under the 1 GiB
    ``spark.driver.maxResultSize`` default; the render's narrower per-row
    results come back the same way. ``max_files_per_trigger`` is the bound
    that keeps a trigger under it. The whole result-cache index is read into
    the driver each trigger (as a broadcast join's build was). The dedup
    window holds the keys kept within ``watermark_delay_ms`` on the driver.
    The sink's ``out_dir`` must be a path every executor can write.
    """

    def __init__(
        self,
        out_dir: str,
        transform_fn,
        secret: str | None,
        allow_unsafe: bool | None = None,
        result_cache: IdempotentSink | None = None,
        result_cache_max_age_ms: int | None = None,
        watermark_delay_ms: int = 600_000,
    ):
        super().__init__(out_dir)
        self.window = DedupWindow(self, watermark_delay_ms)
        self.transform_fn = transform_fn
        self.result_cache = result_cache
        self.result_cache_max_age_ms = result_cache_max_age_ms
        # the cheap pre-render signature/expiry check feeding winner
        # selection, with the transform's own signer posture: a rejected
        # duplicate must never suppress a valid same-key row (the
        # reference validates before singleflight, imagor.go:290-338 vs :842)
        self.key_validity = make_key_validity_udf(secret, allow_unsafe=allow_unsafe)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.is_committed(batch_id):
            return  # replayed batch: effect already visible → exactly-once
        spark = batch_df.sparkSession
        # The narrow rows (no payload) are collected once, as one Arrow
        # table: that collect is the only action over the stream's batch,
        # and everything after it (the dedup window, the result-cache
        # probe, singleflight, the render's input) works on the driver's
        # copy. A data trigger adds two jobs: the config broadcast and the
        # render, whose collected results are the side tables' only input.
        narrow = self._narrow(batch_df).toArrow()
        step = self.window.step(narrow)
        rows = step.kept
        if rows.num_rows and self.result_cache is not None:
            # FRESH read of the committed index: keys committed by earlier
            # batches of this very stream hit (live cache refresh); a null
            # key never does
            index = self.result_cache.rendered_keys(self.result_cache_max_age_ms)
            rows = rows.filter(pc.invert(pc.is_in(
                rows["__rk"], value_set=index["result_key"], skip_nulls=True
            )))
        n_missed = rows.num_rows
        rows = singleflight_local(rows)
        self._commit(spark, rows if rows.num_rows else None, batch_id, {
            "n_in": narrow.num_rows,
            "n_late": step.n_late,
            "n_duplicate": step.n_duplicate,
            "n_cache_hit": step.kept.num_rows - n_missed,
            "n_singleflight_dropped": n_missed - rows.num_rows,
            "watermark_ms": step.watermark_ms,
        }, window=step.delta)
        self.window.advance(batch_id, step)
        # periodic index compaction: a long-running pipeline otherwise grows
        # one rendered_keys/batch-* dir per batch forever, each read every
        # trigger. The batch is already committed, so a failure in this
        # non-essential index maintenance must not fail the streaming query
        # — the next commit that writes rows retries it.
        if rows.num_rows and self._n_rendered_batch_dirs() >= RENDERED_COMPACT_EVERY:
            try:
                self.compact_rendered_keys()
            except Exception as exc:  # pragma: no cover - transient FS
                log.warning("rendered-keys compaction deferred: %s", exc, exc_info=True)

    def _write_batch(self, spark, survivors: pa.Table, batch_id: int) -> bool:
        """Render the batch's singleflight survivors (the batch's dirs
        already cleared): admission, then one render job whose tasks stage
        their own files; its collected results pick the files to promote
        and are the side tables' only input."""
        survivors = survivors.drop_columns(["__rk", "__ok"]).sort_by(
            [("file_path", "ascending"), ("row_index", "ascending")]
        )
        admitted = resolve_with_config(
            spark.createDataFrame(survivors), params_config_df(spark)
        )
        results = admitted.mapInArrow(
            _render(self.transform_fn, to_arrow_schema(StructType.fromDDL(OUTPUT_SCHEMA)),
                    self._staging_dir(batch_id)),
            RESULT_SCHEMA,
        ).toArrow()
        self._promote(batch_id, results)
        self._write_side_tables(results, batch_id)
        return True

    def _staging_dir(self, batch_id: int) -> str:
        """Where batch ``batch_id``'s render tasks stage their files: a
        ``_``-prefixed dir, which Spark's reader skips, inside the batch's
        data dir. Absolute, so that a relative ``out_dir`` names the same
        dir in the executors as in the driver."""
        return os.path.abspath(
            os.path.join(self.data_dir, f"batch_id={batch_id}", "_staging")
        )

    def _promote(self, batch_id: int, results: pa.Table) -> None:
        """After a render job whose per-row ``results`` (``RESULT_SCHEMA``)
        the driver collected: move the staged files of exactly the task
        attempts that produced them into the batch's partition dirs, then
        drop the staging dir with whatever other attempts left there."""
        staging = self._staging_dir(batch_id)
        batch_dir = os.path.dirname(staging)
        for attempt in pc.unique(results["attempt"]).to_pylist():
            src = os.path.join(staging, str(attempt))
            for part in os.listdir(src):
                os.makedirs(os.path.join(batch_dir, part), exist_ok=True)
                for name in os.listdir(os.path.join(src, part)):
                    os.replace(os.path.join(src, part, name),
                               os.path.join(batch_dir, part, name))
        shutil.rmtree(staging)

    def _write_side_tables(self, results: pa.Table, batch_id: int) -> None:
        """Lineage / metrics / rendered-keys side tables of a batch, rolled
        up on the driver (SQL null semantics) from its render's per-row
        ``results``, each written as one small file. The rendered keys are
        written only when the batch rendered any."""
        def with_batch_id(table):
            return table.append_column(
                "batch_id", pa.repeat(pa.scalar(batch_id, pa.int32()), table.num_rows)
            )

        rows = results.append_column(
            "n", pa.repeat(pa.scalar(1, pa.int64()), results.num_rows)
        )
        parts = rows.group_by("part_id").aggregate([
            ("n", "sum"), ("ingest_ts", "min"), ("ingest_ts", "max"),
            ("out_len", "sum"),
        ])
        # plain batch-N dir names (no '=') so partition inference does
        # not collide with the explicit batch_id column in the rows
        _write_table(
            with_batch_id(pa.table({
                "part_id": parts["part_id"],
                "n_rows": parts["n_sum"],
                "min_ingest_ts": parts["ingest_ts_min"],
                "max_ingest_ts": parts["ingest_ts_max"],
                "out_bytes": parts["out_len_sum"],
            })),
            _LINEAGE_SCHEMA,
            os.path.join(self.lineage_dir, f"batch-{batch_id}"),
        )
        metrics = rows.group_by(["status", "codec"]).aggregate([("n", "sum")])
        _write_table(
            with_batch_id(pa.table({
                "status": metrics["status"], "codec": metrics["codec"],
                "n": metrics["n_sum"],
            })),
            _METRICS_SCHEMA,
            os.path.join(self.metrics_dir, f"batch-{batch_id}"),
        )
        rendered = results.filter(pc.is_in(
            results["status"], value_set=pa.array(_RENDERED_STATUSES)
        ))
        if rendered.num_rows:
            keys = pc.unique(pc.drop_null(rendered["result_key"]))
            _write_table(
                pa.table({"result_key": keys}).sort_by("result_key"),
                _RENDERED_KEYS_SCHEMA,
                os.path.join(self.rendered_dir, f"batch-{batch_id}"),
            )

    def _narrow(self, batch_df: DataFrame) -> DataFrame:
        """The batch's rows with their result key ``__rk`` and validity
        ``__ok``. One key projection serves BOTH cache economies (the
        reference derives the key once per request too, imagor.go:403-408):
        across batches — the driver-side probe of the committed
        rendered-keys index; within a batch — singleflight
        (imagor.go:842-884): same-key rows arriving in ONE trigger render
        once, not N times."""
        return batch_df.withColumn("__kv", self.key_validity(F.col("ops"))).select(
            *batch_df.columns,
            F.col("__kv.rk").alias("__rk"), F.col("__kv.ok").alias("__ok"),
        )


def run_pipeline(
    spark,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    secret: str | None = None,
    watermark: str = "10 minutes",
    assets: dict | None = None,
    wait: bool = True,
    allow_unsafe: bool | None = None,
    result_cache_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    result_cache_max_age_ms: int | None = None,
):
    """End-to-end: build, sink, (optionally) wait for availableNow drain.

    ``watermark``: the dedup delay, in Spark's interval grammar (a
    watermark delay); the sink drops a ``clip_id`` seen within it and rows
    behind it.

    ``result_cache_dir``: a sink directory whose committed rendered-keys
    index each batch's collected rows are probed against on the driver,
    BEFORE the transform — re-read per micro-batch, so keys committed
    mid-stream (including by this very stream when ``result_cache_dir ==
    out_dir``, the resume-with-cache pattern) are seen without a restart.

    A checkpoint written by the earlier stateful dedup query (one with a
    ``state/`` dir) is refused: its dedup state cannot carry over to the
    sink's window."""
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoint")
    if os.path.isdir(os.path.join(checkpoint_dir, "state")):
        raise ValueError(
            f"checkpoint {checkpoint_dir} holds a state/ dir: it was written by "
            "the stateful dedup query, whose dedup state the sink cannot read. "
            "Start from a new checkpoint and out_dir (pass the old out_dir as "
            "result_cache_dir to skip what it already rendered)."
        )
    b_assets = spark.sparkContext.broadcast(assets) if assets else None
    sink = TransformingSink(
        out_dir,
        transform_fn=make_transform_fn(secret, b_assets, allow_unsafe=allow_unsafe),
        secret=secret,
        allow_unsafe=allow_unsafe,
        result_cache=(
            IdempotentSink(result_cache_dir) if result_cache_dir else None
        ),
        result_cache_max_age_ms=result_cache_max_age_ms,
        watermark_delay_ms=watermark_delay_ms(spark, watermark),
    )
    stream = build_raw_stream(
        spark, input_dir, max_files_per_trigger=max_files_per_trigger,
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    if wait:
        q.awaitTermination()
    return q, sink
