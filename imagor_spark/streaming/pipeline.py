"""The continuous dataflow — micro-batch replaces HTTP request.

≅ the reference's request lifecycle (imagor.go:275-540) as Structured
Streaming (SURVEY §3.1 Spark mapping). Only narrow columns cross the
stateful stage; the payload is fetched late, for the rows that survive:

  readStream (file source)
    → project every column but the payload, + _metadata.file_path/row_index
    → watermark on ingest_ts                     (event-time plane)
    → dropDuplicatesWithinWatermark(clip_id)     (singleflight +
                                                  single-render-per-key,
                                                  imagor.go:842-884)
    → foreachBatch TransformingSink:
        key + signature/expiry pre-check → result-cache anti-join,
        collected once per trigger to the driver as one Arrow table
        → within-batch singleflight and admission on the local rows
        → late fetch: read only the payload column of the survivors'
          source files, joined to the broadcast local survivors on
          (file_path, row_index)
        → vectorized decode→ops→encode → exactly-once save

One trigger's narrow rows are one driver result (about 317 B a row, so
about 3M rows under the 1 GiB ``spark.driver.maxResultSize`` default);
``max_files_per_trigger`` is the bound that keeps a trigger under it.

State lives in RocksDB (spark.sql.streaming.stateStore.providerClass) so
dedup state at 10^12 keys spills off-heap; the within-watermark retention
bound keeps state finite (the reference's result cache has TTL semantics
too — getTtl, imagor.go:991-1003).
"""

from __future__ import annotations

import os
from functools import reduce

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

from ..engine.config import params_config_df, resolve_with_config
from ..engine.transform import (
    OUTPUT_SCHEMA,
    _anti_join_rendered,
    make_key_validity_udf,
    make_transform_fn,
    singleflight_local,
)
from ..sources.clips import CLIPS_SCHEMA
from .sink import IdempotentSink

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def configure_streaming(spark) -> None:
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)


def build_raw_stream(
    spark,
    input_dir: str,
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Source → narrow projection → watermark → stateful dedup, NO
    transform: the render plane runs per-batch inside
    :class:`TransformingSink` instead, so each micro-batch re-resolves the
    committed result-cache index and admission config (the reference
    probes result storage per request, imagor.go:403-408 — a snapshot
    taken once at stream start would miss keys committed mid-stream and
    re-render duplicates).

    The stream carries every source column but ``bytes``, plus
    ``file_path, row_index``: the payload never enters the dedup exchange
    or its state. The sink locates each surviving row's payload by its
    source file and row index (the file source's ``_metadata`` fields,
    which survive the dedup). Every other column, partition-directory
    values of a Hive-style ``input_dir`` included, is resolved here, by
    the stream."""
    reader = spark.readStream.schema(CLIPS_SCHEMA)
    if max_files_per_trigger:
        # admission control ≅ ProcessConcurrency/ProcessQueueSize semaphores
        # (imagor.go:134-137,409-427): bound in-flight work per trigger
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # singleflight / single-render-per-key (imagor.go:842-884): a duplicate
    # clip_id must never pay the render
    return (
        reader.parquet(input_dir)
        .select(*[c for c in StructType.fromDDL(CLIPS_SCHEMA).names if c != "bytes"],
                "_metadata.file_path", "_metadata.row_index")
        .withWatermark("ingest_ts", watermark)
        .dropDuplicatesWithinWatermark(["clip_id"])
    )


# The most survivor rows one broadcast carries. A broadcast is collected
# to the driver, where spark.driver.maxResultSize (1 GiB by default) caps
# it; a survivor row of the generated clips, with a 109-character source
# URI, is 317 B on average as an UnsafeRow, so ~320 MB per broadcast.
BROADCAST_ROWS = 1_000_000


def _fetch_payloads(spark, survivors: pa.Table) -> DataFrame:
    """Late materialization: the driver-side ``survivors`` (non-empty
    narrow rows with their ``file_path, row_index``) joined to their
    payloads, with each row's ``admit_status``. Only the ``bytes`` column
    of the survivors' own files is read, joined to the broadcast
    survivors, so no payload crosses a shuffle. Files go to broadcasts
    whole, at most ``BROADCAST_ROWS`` survivors each where files allow,
    and the union of those joins is the result.

    Each broadcast's build side is its chunk of ``survivors`` as a local
    relation (``LocalTableScan``, nothing re-read) already admitted against
    the per-codec config (≅ CheckResolution processor.go:506-516 + the
    loader resolution chain imagor.go:699-760), so the payload rows pass
    one join per chunk and the transform quarantines non-ok rows before
    touching a payload byte.

    ``_metadata.file_path`` is a URI string (a space is ``%20``, a literal
    ``%`` is ``%25``); it is decoded to a Hadoop path before it is handed
    back to the reader, which would otherwise look for a file named with
    the escapes.

    The transform runs on the read's splits. Spark sizes them to cover the
    cores but never cuts a parquet row group, so survivors from fewer files
    than cores (one small file, a coalesced input) can leave cores idle:
    those rows are hash-spread over the cores first. That shuffle carries
    the payload, once, where the alternative is a render on fewer cores."""
    jvm = spark.sparkContext._jvm
    config = params_config_df(spark)
    per_file = survivors.group_by("file_path").aggregate([("file_path", "count")])
    chunks, rows = [], BROADCAST_ROWS
    for path, n in sorted(zip(per_file["file_path"].to_pylist(),
                              per_file["file_path_count"].to_pylist())):
        if rows + n > BROADCAST_ROWS:
            chunks.append([])
            rows = 0
        chunks[-1].append(path)
        rows += n

    def admitted(files):
        local = survivors.filter(pc.is_in(
            survivors["file_path"],
            value_set=pa.array(files, survivors.schema.field("file_path").type),
        ))
        return F.broadcast(resolve_with_config(spark.createDataFrame(local), config))

    clips = reduce(DataFrame.unionByName, [
        spark.read.schema("bytes binary")
        .parquet(*[jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(f)).toString()
                   for f in files])
        .select("bytes", "_metadata.file_path", "_metadata.row_index")
        .join(admitted(files), ["file_path", "row_index"])
        for files in chunks
    ])
    cores = spark.sparkContext.defaultParallelism
    if per_file.num_rows < cores:
        clips = clips.repartition(cores, "file_path", "row_index")
    return clips.drop("file_path", "row_index")


class TransformingSink(IdempotentSink):
    """The request lifecycle (imagor.go:275-540) executed INSIDE foreachBatch:

      narrow batch → key + signature/expiry pre-check
            → result-cache anti-join (index re-read THIS batch)
            → ONE collect of the narrow rows to the driver (an Arrow table)
            → within-batch singleflight on that table (same result_key
              renders once)
            → admission (config dim joined to each local survivor chunk)
            → late payload fetch (survivors' source rows only, one
              broadcast join per chunk)
            → decode→ops→encode transform
            → exactly-once commit (IdempotentSink; its marker alone when
              no row is collected)

    Re-reading the committed rendered-keys index per micro-batch is the
    live result-cache economy: a key committed by batch N skips render in
    batch N+1 of the SAME continuous stream (no restart needed) — matching
    the reference's per-request result-storage probe (imagor.go:403-408,
    loadResult :600-664). It also removes the stale-lazy-plan hazard where
    index compaction deleted parquet dirs still referenced by a plan built
    at stream start: every batch plans against the current manifest, and
    compaction only runs after the batch that triggered it has committed.

    Admission (≅ CheckResolution processor.go:506-516 + the loader
    resolution chain imagor.go:699-760): the per-codec config dimension is
    broadcast-joined against the local survivors, and the resulting
    ``admit_status`` column rides with them through the payload join INTO
    the transform UDF, which quarantines non-ok rows before touching a
    payload byte. Scale shape: the dimension is tiny (one row per codec)
    and so are the narrow survivors, so admission adds no join and no
    branch over the payload rows.

    Ceiling: one trigger's narrow rows are one driver result, about 317 B a
    row, so about 3M rows fit under the 1 GiB ``spark.driver.maxResultSize``
    default. ``max_files_per_trigger`` is the bound that keeps a trigger
    under it.
    """

    def __init__(
        self,
        out_dir: str,
        transform_fn,
        secret: str | None,
        allow_unsafe: bool | None = None,
        partition_by: str | None = "codec",
        rendered_compact_every: int = 32,
        result_cache: IdempotentSink | None = None,
        result_cache_max_age_ms: int | None = None,
    ):
        super().__init__(
            out_dir,
            partition_by=partition_by,
            rendered_compact_every=rendered_compact_every,
        )
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
        # so the stateful dedup — with its RocksDB state commit — runs once
        # per trigger, and everything after it (singleflight, the chunk
        # plan, the survivors' broadcasts) works on the driver's copy. A
        # trigger with no rows runs that one job and commits its marker
        # alone. The zero-row trigger still
        # runs, because it carries the advanced watermark into the state
        # store (and so into the late-row filter of the next run).
        narrow = self._narrow(spark, batch_df).toArrow()
        out = None
        if narrow.num_rows:
            survivors = singleflight_local(narrow).drop_columns(["__rk", "__ok"])
            out = _fetch_payloads(spark, survivors).mapInPandas(
                self.transform_fn, schema=OUTPUT_SCHEMA
            )
        self._commit(out, batch_id)

    def _narrow(self, spark, batch_df: DataFrame) -> DataFrame:
        """The batch's rows with their result key ``__rk`` and validity
        ``__ok``, minus the keys already committed to the result cache.
        One key projection serves BOTH cache economies (the reference
        derives the key once per request too, imagor.go:403-408): across
        batches — the anti-join against the committed rendered-keys index;
        within a batch — singleflight (imagor.go:842-884): same-key rows
        arriving in ONE trigger render once, not N times."""
        keyed = batch_df.withColumn("__kv", self.key_validity(F.col("ops"))).select(
            *batch_df.columns,
            F.col("__kv.rk").alias("__rk"), F.col("__kv.ok").alias("__ok"),
        )
        if self.result_cache is None:
            return keyed
        # FRESH read of the committed index — sees keys committed by
        # earlier batches of this very stream (live cache refresh). The
        # compacted index is small relative to the stream (TTL-bounded), so
        # Spark plans a broadcast anti-join; with no index yet the read is
        # an empty local relation and the optimizer drops the join.
        rendered = self.result_cache.read_rendered_keys(
            spark, max_age_ms=self.result_cache_max_age_ms
        )
        return _anti_join_rendered(keyed, rendered)


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

    ``result_cache_dir``: a sink directory whose committed rendered-keys
    index is anti-joined against each batch BEFORE the transform — re-read
    per micro-batch, so keys committed mid-stream (including by this very
    stream when ``result_cache_dir == out_dir``, the resume-with-cache
    pattern) are seen without a restart."""
    configure_streaming(spark)
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoint")
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
    )
    stream = build_raw_stream(
        spark, input_dir, watermark=watermark,
        max_files_per_trigger=max_files_per_trigger,
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
