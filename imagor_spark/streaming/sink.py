"""Exactly-once foreachBatch sink: one commit protocol, its readers, and
the rendered-keys index compaction (the result-cache index).

``foreachBatch`` alone is at-least-once (a batch may replay after failure,
SURVEY §7 hard-point c). We make the effect idempotent the standard way:

  1. before batch N is written, whatever an earlier attempt left of it
     (``data/batch_id=N/`` and its side-table dirs) is removed, so a
     replay never duplicates;
  2. a commit marker ``_commits/N`` is written (atomic rename) AFTER the
     data and side tables; readers/consumers trust only committed batches;
  3. a replayed batch whose marker already exists is skipped (it still
     runs, as Spark requires of a stateful stream, but writes nothing).

This mirrors the reference's result-storage save discipline: write result,
then make it visible; cleanup-on-error leaves no committed partial state
(≅ saveWithErrorHandling + delete-on-error, imagor.go:783-811,
storage/filestorage/filestorage.go:79-115).

A batch's dirs: ``data/batch_id=N/``, and the side tables ``lineage/`` —
one row per (batch, spark partition) with row counts and event-time
bounds — ``metrics/`` — one row per (batch, status, codec), mirroring
imagor's Prometheus counters (metrics/prometheusmetrics) — and
``rendered_keys/``: the committed ``result_key``s of successful renders
(result-cache load, imagor.go:403-408 + loadResult imagor.go:600-664), a
compact index the pipeline left-anti-joins incoming clips against, so
re-runs/backfills skip work that is already in result storage.

An empty batch commits its marker alone: no data, lineage, metrics or
rendered-keys dir (≅ imagor saving only what a request produced,
saveWithErrorHandling imagor.go:783-811). Every reader skips a committed
batch that has no dir.

One protocol, two writers. :meth:`IdempotentSink._commit` clears the
batch's dirs, runs the writer (``_write_batch``), then writes the marker.
:class:`IdempotentSink`'s own writer is a plain one: one snappy parquet
write of the batch's rows, counted by an observed metric (no extra job),
with no side tables; :class:`AggSink`'s rollups are written this way. The
streaming pipeline's render
(:class:`~imagor_spark.streaming.pipeline.TransformingSink`) is the one
payload writer: its tasks write their own files, and it alone writes
lineage, metrics and the rendered keys, and folds the rendered keys with
:meth:`IdempotentSink.compact_rendered_keys` once enough batch dirs pile
up.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, Observation, functions as F


class IdempotentSink:
    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.data_dir = os.path.join(out_dir, "data")
        self.commits_dir = os.path.join(out_dir, "_commits")
        self.lineage_dir = os.path.join(out_dir, "lineage")
        self.metrics_dir = os.path.join(out_dir, "metrics")
        self.rendered_dir = os.path.join(out_dir, "rendered_keys")
        os.makedirs(self.commits_dir, exist_ok=True)

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.commits_dir, str(batch_id))

    def _committed_at_ms(self, batch_id: int) -> int:
        with open(self._marker(batch_id)) as f:
            return int(json.load(f)["committed_at_ms"])

    def is_committed(self, batch_id: int) -> bool:
        return os.path.exists(self._marker(batch_id))

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.is_committed(batch_id):
            # replayed batch: effect already visible → exactly-once. The
            # batch still runs: Spark fails a stateful stream whose batch
            # leaves its state uncommitted.
            batch_df.write.format("noop").mode("overwrite").save()
            return
        self._commit(batch_df.sparkSession, batch_df, batch_id)

    def _batch_dirs(self, batch_id: int) -> list[str]:
        return [
            os.path.join(self.data_dir, f"batch_id={batch_id}"),
            os.path.join(self.lineage_dir, f"batch-{batch_id}"),
            os.path.join(self.metrics_dir, f"batch-{batch_id}"),
            os.path.join(self.rendered_dir, f"batch-{batch_id}"),
        ]

    def _clear(self, batch_id: int) -> None:
        for path in self._batch_dirs(batch_id):
            shutil.rmtree(path, ignore_errors=True)

    def _commit(self, spark, batch, batch_id: int) -> None:
        """Clear what an earlier attempt at ``batch_id`` left, write the
        batch (``_write_batch``), then the marker (caller has already
        checked ``is_committed``). A batch with no rows — ``None`` when the
        caller knows that without a job — commits its marker alone."""
        t0 = time.time()
        self._clear(batch_id)
        wrote = batch is not None and self._write_batch(spark, batch, batch_id)
        if not wrote:
            self._clear(batch_id)  # the writer's empty data dir
        # atomic commit marker LAST
        tmp = self._marker(batch_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "batch_id": batch_id,
                    "wall_s": round(time.time() - t0, 3),
                    "committed_at_ms": int(time.time() * 1000),
                },
                f,
            )
        os.replace(tmp, self._marker(batch_id))

    def _write_batch(self, spark, batch_df: DataFrame, batch_id: int) -> bool:
        """One snappy parquet write of the batch's rows, counted by an
        observed metric (no extra job); False, with only the data dir
        written, when the batch holds no rows."""
        rows = Observation()
        path = os.path.join(self.data_dir, f"batch_id={batch_id}")
        (batch_df.observe(rows, F.count(F.lit(1)).alias("n"))
         .write.mode("overwrite").option("compression", "snappy").parquet(path))
        return bool(rows.get["n"])

    # ---- reader side: only committed batches are visible

    def committed_batches(
        self, max_age_ms: int | None = None, now_ms: int | None = None
    ) -> list[int]:
        """Committed batch ids; with ``max_age_ms``, expired batches are
        filtered out on READ (≅ the expiration check on Get,
        filestorage.go:64-76 + getTtl imagor.go:991-1003) — an expired
        result behaves like a cache miss, so the anti-join re-renders it."""
        try:
            ids = sorted(
                int(x) for x in os.listdir(self.commits_dir) if not x.endswith(".tmp")
            )
        except FileNotFoundError:
            return []
        if max_age_ms is None:
            return ids
        now = now_ms if now_ms is not None else int(time.time() * 1000)
        return [b for b in ids if now - self._committed_at_ms(b) <= max_age_ms]

    def _committed_paths(
        self, base: str, prefix: str, max_age_ms: int | None = None,
        now_ms: int | None = None,
    ) -> list[str]:
        batches = self.committed_batches(max_age_ms=max_age_ms, now_ms=now_ms)
        paths = [os.path.join(base, f"{prefix}{b}") for b in batches]
        return [p for p in paths if os.path.exists(p)]

    def read_committed(
        self, spark, max_age_ms: int | None = None, now_ms: int | None = None
    ) -> DataFrame:
        paths = self._committed_paths(
            self.data_dir, "batch_id=", max_age_ms=max_age_ms, now_ms=now_ms
        )
        if not paths:
            raise FileNotFoundError("no committed batches")
        return spark.read.option("basePath", self.data_dir).parquet(*paths)

    def read_lineage(self, spark) -> DataFrame:
        return self._read_side_table(spark, self.lineage_dir)

    def read_metrics(self, spark) -> DataFrame:
        return self._read_side_table(spark, self.metrics_dir)

    def _read_side_table(self, spark, base: str) -> DataFrame:
        paths = self._committed_paths(base, "batch-")
        if not paths:
            raise FileNotFoundError(f"no committed batches under {base}")
        return spark.read.parquet(*paths)

    # ---- rendered-keys index compaction (result-cache index maintenance):
    # the reference's result storage is ONE keyed store; per-batch dirs are
    # an append log that must fold into a compact index periodically

    def _compact_manifest_path(self) -> str:
        return os.path.join(self.rendered_dir, "_compacted.json")

    def _read_compact_manifest(self) -> dict | None:
        try:
            with open(self._compact_manifest_path()) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def _n_rendered_batch_dirs(self) -> int:
        try:
            return sum(
                1 for e in os.listdir(self.rendered_dir) if e.startswith("batch-")
            )
        except FileNotFoundError:
            return 0

    def compact_rendered_keys(self, spark) -> int:
        """Fold the per-batch rendered-keys dirs (plus any previous compact
        index) into ONE distinct parquet keyed (result_key, committed_at_ms)
        — a re-rendered key keeps its NEWEST commit time, so TTL expiration
        (applied per-row on read) matches the batch-level semantics. The
        manifest swap is atomic (os.replace); stale batch dirs are removed
        only after the new manifest is visible, and a crash in between is
        harmless (reads use manifest.upto to ignore folded batch dirs).
        Returns the new row count of the compact index."""
        manifest = self._read_compact_manifest()
        prev_upto = manifest["upto"] if manifest else -1
        batch_ids = [
            b
            for b in self.committed_batches()
            if b > prev_upto
            and os.path.exists(os.path.join(self.rendered_dir, f"batch-{b}"))
        ]
        if not batch_ids and manifest:
            return 0  # nothing new to fold
        frames = []
        if manifest:
            frames.append(
                spark.read.parquet(os.path.join(self.rendered_dir, manifest["name"]))
            )
        for b in batch_ids:
            frames.append(
                spark.read.parquet(os.path.join(self.rendered_dir, f"batch-{b}"))
                .select("result_key")
                .withColumn("committed_at_ms", F.lit(self._committed_at_ms(b)))
            )
        if not frames:
            return 0
        union = frames[0]
        for fr in frames[1:]:
            union = union.unionByName(fr)
        compacted = union.groupBy("result_key").agg(
            F.max("committed_at_ms").alias("committed_at_ms")
        ).persist()
        n = compacted.count()
        # file sizing: ~5M keys (~300 MB) per output file — ONE file for any
        # sandbox-scale index, but never a single-file bottleneck at 10^12
        # keys (the groupBy above already hash-partitioned by result_key;
        # persist so the count and the write share one aggregation pass)
        n_files = max(1, n // 5_000_000)
        new_upto = max(batch_ids) if batch_ids else prev_upto
        new_name = f"compact-{new_upto}"
        out_path = os.path.join(self.rendered_dir, new_name)
        compacted.coalesce(n_files).write.mode("overwrite").parquet(out_path)
        compacted.unpersist()
        tmp = self._compact_manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"upto": new_upto, "name": new_name, "n_keys": n}, f)
        os.replace(tmp, self._compact_manifest_path())
        # cleanup AFTER the manifest swap: folded batch dirs + old compact
        for b in batch_ids:
            shutil.rmtree(os.path.join(self.rendered_dir, f"batch-{b}"), ignore_errors=True)
        if manifest and manifest["name"] != new_name:
            shutil.rmtree(
                os.path.join(self.rendered_dir, manifest["name"]), ignore_errors=True
            )
        return n

    def read_rendered_keys(
        self, spark, max_age_ms: int | None = None, now_ms: int | None = None
    ) -> DataFrame:
        """Committed result-cache index: DataFrame[result_key] (distinct per
        batch; dedup across batches happens in the anti-join). ``max_age_ms``
        expires old entries — their keys drop out of the index and the
        anti-join re-renders them (result-cache TTL, getTtl
        imagor.go:991-1003). Reads the compact index (row-level TTL on its
        committed_at_ms column) plus the not-yet-folded per-batch dirs of
        committed batches (batch-level TTL via the marker); both schemas are
        known, so no footer is read.

        With neither (nothing committed yet, or only marker-only batches)
        the index is an empty ``LocalTableScan``: it needs no Spark job, and
        the optimizer drops an anti-join against it, so this read is the
        probe for whether a trigger anti-joins at all."""
        manifest = self._read_compact_manifest()
        frames = []
        if manifest:
            cdf = spark.read.schema("result_key string, committed_at_ms long").parquet(
                os.path.join(self.rendered_dir, manifest["name"])
            )
            if max_age_ms is not None:
                now = now_ms if now_ms is not None else int(time.time() * 1000)
                cdf = cdf.filter(F.col("committed_at_ms") >= F.lit(now - max_age_ms))
            frames.append(cdf.select("result_key"))
        upto = manifest["upto"] if manifest else -1
        batches = [
            b
            for b in self.committed_batches(max_age_ms=max_age_ms, now_ms=now_ms)
            if b > upto
        ]
        paths = [
            p
            for p in (os.path.join(self.rendered_dir, f"batch-{b}") for b in batches)
            if os.path.exists(p)
        ]
        if paths:
            frames.append(spark.read.schema("result_key string").parquet(*paths))
        if not frames:
            return spark.sql("SELECT CAST(NULL AS STRING) AS result_key WHERE FALSE")
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        return out


class AggSink(IdempotentSink):
    """Exactly-once sink for AGGREGATED streaming output (windowed rollups):
    :class:`IdempotentSink`'s commit protocol and plain write, with no side
    tables. Used by the streaming parity queries so no catalog entry needs
    complete-mode + a memory sink (which cannot resume from a checkpoint
    and holds the whole result in executor memory).

    With ``outputMode("update")`` each micro-batch appends the CHANGED
    groups; :meth:`read_latest` folds the committed log back into current
    state by keeping each group's row from its highest committed batch —
    the streaming-upsert read side of an append-only exactly-once log (an
    Iceberg/Delta MERGE target would absorb this fold on a real cluster).
    """

    def read_latest(self, spark, key_cols: list[str]) -> DataFrame:
        """Current state: one row per group key, from the highest committed
        batch that updated it (``batch_id`` is the partition column the
        per-batch dir layout provides for free)."""
        from pyspark.sql import Window

        df = self.read_committed(spark)
        w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(
            F.col("batch_id").desc()
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "batch_id")
        )
