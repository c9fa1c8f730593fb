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
(result-cache load, imagor.go:403-408 + loadResult imagor.go:600-664), an
index the pipeline reads on the driver with pyarrow and probes each
trigger's collected rows against, so re-runs/backfills skip work that is
already in result storage.

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
up. Both the index's reader (:meth:`IdempotentSink.rendered_keys`) and its
fold run on the driver with pyarrow; no Spark job touches it.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, functions as F


class IdempotentSink:
    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.data_dir = os.path.join(out_dir, "data")
        self.commits_dir = os.path.join(out_dir, "_commits")
        self.lineage_dir = os.path.join(out_dir, "lineage")
        self.metrics_dir = os.path.join(out_dir, "metrics")
        self.rendered_dir = os.path.join(out_dir, "rendered_keys")
        # batch id -> its marker's committed_at_ms: a marker never changes
        # once written, so each is opened at most once per sink
        self._commit_times: dict[int, int] = {}
        os.makedirs(self.commits_dir, exist_ok=True)

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.commits_dir, str(batch_id))

    def _committed_at_ms(self, batch_id: int) -> int:
        if batch_id not in self._commit_times:
            with open(self._marker(batch_id)) as f:
                self._commit_times[batch_id] = int(json.load(f)["committed_at_ms"])
        return self._commit_times[batch_id]

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

    def _commit(self, spark, batch, batch_id: int, counts: dict | None = None) -> None:
        """Clear what an earlier attempt at ``batch_id`` left, write the
        batch (``_write_batch``), then the marker (caller has already
        checked ``is_committed``). A batch with no rows — ``None`` when the
        caller knows that without a job — commits its marker alone.
        ``counts`` (name → int) ride in the marker next to ``wall_s``."""
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
                    **(counts or {}),
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
        result behaves like a cache miss, so the pipeline re-renders it."""
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

    def _read_compact(self, manifest: dict) -> pa.Table:
        return pq.read_table(os.path.join(self.rendered_dir, manifest["name"]),
                             columns=["result_key", "committed_at_ms"])

    def compact_rendered_keys(self, spark=None) -> int:
        """Fold the per-batch rendered-keys dirs (plus any previous compact
        index) into ONE parquet file keyed (result_key, committed_at_ms)
        with a pyarrow group-by on the driver (``spark`` is unused) — a
        re-rendered key keeps its NEWEST commit time, so TTL expiration
        (applied per-row on read) matches the batch-level semantics. The
        manifest swap is atomic (os.replace); folded dirs are removed only
        after the new manifest is visible, and a crash in between is
        harmless (reads use manifest.upto to ignore folded batch dirs, and
        every fold removes them). Returns the new row count of the compact
        index, 0 when there is nothing new to fold."""
        manifest = self._read_compact_manifest()
        prev_upto = manifest["upto"] if manifest else -1
        batch_ids = [
            b
            for b in self.committed_batches()
            if b > prev_upto
            and os.path.exists(os.path.join(self.rendered_dir, f"batch-{b}"))
        ]
        n = 0
        if batch_ids:
            tables = [self._read_compact(manifest)] if manifest else []
            for b in batch_ids:
                keys = pq.read_table(os.path.join(self.rendered_dir, f"batch-{b}"),
                                     columns=["result_key"])["result_key"]
                at = pa.repeat(pa.scalar(self._committed_at_ms(b), pa.int64()), len(keys))
                tables.append(pa.table({"result_key": keys, "committed_at_ms": at}))
            folded = pa.concat_tables(tables).group_by("result_key").aggregate(
                [("committed_at_ms", "max")]
            )
            n = folded.num_rows
            manifest = {"upto": max(batch_ids), "name": f"compact-{max(batch_ids)}",
                        "n_keys": n}
            out_path = os.path.join(self.rendered_dir, manifest["name"])
            os.makedirs(out_path, exist_ok=True)  # a crashed fold's file is rewritten
            pq.write_table(
                folded.select(["result_key", "committed_at_ms_max"])
                .rename_columns(["result_key", "committed_at_ms"]),
                os.path.join(out_path, "part-00000.parquet"),
            )
            tmp = self._compact_manifest_path() + ".tmp"
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            os.replace(tmp, self._compact_manifest_path())
        if manifest:  # cleanup AFTER the manifest swap: folded dirs, old compacts
            for name in os.listdir(self.rendered_dir):
                if (name.startswith("batch-") and int(name[6:]) <= manifest["upto"]) or (
                    name.startswith("compact-") and name != manifest["name"]
                ):
                    shutil.rmtree(os.path.join(self.rendered_dir, name), ignore_errors=True)
        return n

    def rendered_keys(
        self, max_age_ms: int | None = None, now_ms: int | None = None
    ) -> pa.Table:
        """Committed result-cache index, read on the driver: a table of one
        string column ``result_key`` (distinct per file, not across them).
        ``max_age_ms`` expires old entries — their keys drop out of the
        index and the pipeline re-renders them (result-cache TTL, getTtl
        imagor.go:991-1003). Reads the compact file (row-level TTL on its
        committed_at_ms column) plus the not-yet-folded per-batch files of
        committed batches (batch-level TTL via the marker)."""
        manifest = self._read_compact_manifest()
        upto = manifest["upto"] if manifest else -1
        now = now_ms if now_ms is not None else int(time.time() * 1000)
        keys = []
        if manifest:
            compact = self._read_compact(manifest)
            if max_age_ms is not None:
                compact = compact.filter(
                    pc.greater_equal(compact["committed_at_ms"], now - max_age_ms)
                )
            keys.append(compact["result_key"])
        for b in self.committed_batches(max_age_ms=max_age_ms, now_ms=now):
            path = os.path.join(self.rendered_dir, f"batch-{b}")
            if b > upto and os.path.exists(path):
                keys.append(pq.read_table(path, columns=["result_key"])["result_key"])
        chunks = [c for k in keys for c in k.chunks]
        return pa.table({"result_key": pa.chunked_array(chunks, type=pa.string())})

    def read_rendered_keys(
        self, spark, max_age_ms: int | None = None, now_ms: int | None = None
    ) -> DataFrame:
        """:meth:`rendered_keys` as a local DataFrame, e.g. for
        :func:`~imagor_spark.engine.transform.skip_rendered`."""
        return spark.createDataFrame(self.rendered_keys(max_age_ms, now_ms))


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
