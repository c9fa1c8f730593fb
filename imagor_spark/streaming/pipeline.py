"""The continuous dataflow — micro-batch replaces HTTP request.

≅ the reference's request lifecycle (imagor.go:275-540) as Structured
Streaming (SURVEY §3.1 Spark mapping):

  readStream (file/Iceberg source)
    → watermark on ingest_ts                     (event-time plane)
    → dropDuplicatesWithinWatermark(clip_id)     (singleflight +
                                                  single-render-per-key,
                                                  imagor.go:842-884)
    → foreachBatch TransformingSink              (result-cache probe,
                                                  admission, vectorized
                                                  decode→ops→encode,
                                                  exactly-once save)

State lives in RocksDB (spark.sql.streaming.stateStore.providerClass) so
dedup state at 10^12 keys spills off-heap; the within-watermark retention
bound keeps state finite (the reference's result cache has TTL semantics
too — getTtl, imagor.go:991-1003).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..engine.config import params_config_df, resolve_with_config
from ..engine.transform import (
    OUTPUT_SCHEMA,
    _anti_join_rendered,
    make_key_validity_udf,
    make_transform_fn,
    singleflight_within,
)
from ..sources.clips import CLIPS_SCHEMA
from .sink import IdempotentSink

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def configure_streaming(spark) -> None:
    try:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    except Exception:
        pass  # fall back to HDFSBackedStateStoreProvider


def build_raw_stream(
    spark,
    input_dir: str,
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Source → watermark → stateful dedup, NO transform: the render plane
    runs per-batch inside :class:`TransformingSink` instead, so each
    micro-batch re-resolves the committed result-cache index and admission
    config (the reference probes result storage per request,
    imagor.go:403-408 — a snapshot taken once at stream start would miss
    keys committed mid-stream and re-render duplicates)."""
    reader = spark.readStream.schema(CLIPS_SCHEMA)
    if max_files_per_trigger:
        # admission control ≅ ProcessConcurrency/ProcessQueueSize semaphores
        # (imagor.go:134-137,409-427): bound in-flight work per trigger
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # singleflight / single-render-per-key (imagor.go:842-884): a duplicate
    # clip_id must never pay the render
    return (
        reader.parquet(input_dir)
        .withWatermark("ingest_ts", watermark)
        .dropDuplicatesWithinWatermark(["clip_id"])
    )


class TransformingSink(IdempotentSink):
    """The request lifecycle (imagor.go:275-540) executed INSIDE foreachBatch:

      batch → key + signature/expiry pre-check
            → result-cache anti-join (index re-read THIS batch)
            → within-batch singleflight (same result_key renders once)
            → admission (broadcast config dim, quarantine pre-decode)
            → decode→ops→encode transform
            → exactly-once commit (IdempotentSink)

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
    broadcast-joined against the batch and the resulting ``admit_status``
    column rides INTO the transform UDF, which quarantines non-ok rows
    before touching a payload byte. Scale shape: the dimension is tiny
    (one row per codec) so the join is a broadcast, and admission adds NO
    extra branch — the micro-batch (including its stateful-dedup subtree)
    is planned and scanned exactly once, unlike a split+union layout which
    would execute it per branch.
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
        # one key projection serves BOTH cache economies (the reference
        # derives the key once per request too, imagor.go:403-408):
        #   across batches — anti-join vs the committed rendered-keys index;
        #   within a batch — singleflight (imagor.go:842-884): same-key rows
        #   arriving in ONE trigger render once, not N times.
        # NOTE (r6 optimization round, measured): the singleflight winner
        # dim below re-reads the stateful-dedup exchange (3.9 GB at sf0.1)
        # — shuffle read is 2× shuffle write per batch. A narrow (clip_id,
        # ops) re-derivation was tried and did NOT shrink it: inside
        # foreachBatch the projection cannot be pushed below the dedup's
        # exchange, so the dim branch reads the same full-width blocks
        # either way (~36 s task-time warm ≈ 1 s wall of a ~20 s run —
        # not the dominant cost; the transform+encode stage is). Killing
        # the second read entirely would require either dedup state keyed
        # on result_key (changes which rows commit: duplicate clip_ids may
        # carry different ops) or a pre-dedup winner dim (a winner clip_id
        # consumed by an earlier batch's state would silently drop its
        # whole key group) — both rejected as semantics changes.
        keyed = (
            batch_df.withColumn("__kv", self.key_validity(F.col("ops")))
            .withColumn("__rk", F.col("__kv.rk"))
            .withColumn("__ok", F.col("__kv.ok"))
            .drop("__kv")
        )
        if self.result_cache is not None and (
            # cheap driver-side probe: with nothing committed yet (fresh
            # stream, empty cache dir) the anti-join is skipped entirely
            self.result_cache._read_compact_manifest() is not None
            or self.result_cache.committed_batches()
        ):
            # FRESH read of the committed index — sees keys committed by
            # earlier batches of this very stream (live cache refresh).
            # The compacted index is small relative to the stream (TTL-
            # bounded), so Spark plans a broadcast anti-join — payloads
            # never shuffle for cache-hit checks.
            rendered = self.result_cache.read_rendered_keys(
                spark, max_age_ms=self.result_cache_max_age_ms
            )
            keyed = _anti_join_rendered(keyed, rendered)
        batch_df = singleflight_within(keyed, ok_col="__ok").drop("__rk", "__ok")
        # attach admit_status via broadcast join; the transform UDF
        # quarantines non-ok rows pre-decode (single plan, no union)
        batch_df = resolve_with_config(batch_df, params_config_df(spark)).drop(
            "decoder", "max_dur_ms", "max_sr_hz", "target_store", "default_quality",
        )
        out = batch_df.mapInPandas(self.transform_fn, schema=OUTPUT_SCHEMA)
        self._commit(out, batch_id)


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
