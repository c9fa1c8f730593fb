"""Exactly-once foreachBatch sink: one commit protocol, its readers, the
rendered-keys index compaction (the result-cache index) and the dedup
window (the pipeline's ``clip_id`` dedup state).

``foreachBatch`` alone is at-least-once (a batch may replay after failure,
SURVEY §7 hard-point c). We make the effect idempotent the standard way:

  1. before batch N is written, whatever an earlier attempt left of it
     (``data/batch_id=N/`` and its side-table and window dirs) is removed,
     so a replay never duplicates;
  2. a commit marker ``_commits/N`` is written (atomic rename) AFTER the
     data, side tables and window delta; readers/consumers trust only
     committed batches;
  3. a replayed batch whose marker already exists is skipped. The render
     sink's stream is stateless, so it returns before any Spark job; the
     plain writer still runs the batch as a ``noop`` write, because Spark
     fails a stateful stream (an :class:`AggSink` rollup) whose batch
     leaves its state uncommitted.

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
already in result storage. ``dedup/batch-N`` holds the ``clip_id``s the
batch kept with their expiry, and the marker its watermark
(:class:`DedupWindow`).

An empty batch commits its marker alone: no data, lineage, metrics or
rendered-keys dir (≅ imagor saving only what a request produced,
saveWithErrorHandling imagor.go:783-811). Every reader skips a committed
batch that has no dir.

One protocol, two writers. :meth:`IdempotentSink._commit` clears the
batch's dirs, runs the writer (``_write_batch``), writes the window delta,
then the marker. :class:`IdempotentSink`'s own writer is a plain one: one
snappy parquet write of the batch's rows, counted by an observed metric
(no extra job), with no side tables; :class:`AggSink`'s rollups are written
this way. The streaming pipeline's render
(:class:`~imagor_spark.streaming.pipeline.TransformingSink`) is the one
payload writer: its tasks write their own files, and it alone writes
lineage, metrics, the rendered keys and the window deltas, and folds the
rendered keys with :meth:`IdempotentSink.compact_rendered_keys` once enough
batch dirs pile up. Both the index's reader
(:meth:`IdempotentSink.rendered_keys`) and its fold run on the driver with
pyarrow; no Spark job touches it.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import NamedTuple

import numpy as np
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
        self.dedup_dir = os.path.join(out_dir, "dedup")
        # batch id -> its marker's committed_at_ms: a marker never changes
        # once written, so each is opened at most once per sink
        self._commit_times: dict[int, int] = {}
        # (manifest name, compact index): a compact file never changes once
        # a manifest names it, so each is read at most once per sink
        self._compact: tuple[str, pa.Table] | None = None
        os.makedirs(self.commits_dir, exist_ok=True)

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.commits_dir, str(batch_id))

    def _read_marker(self, batch_id: int) -> dict:
        with open(self._marker(batch_id)) as f:
            return json.load(f)

    def _committed_at_ms(self, batch_id: int) -> int:
        if batch_id not in self._commit_times:
            self._commit_times[batch_id] = int(self._read_marker(batch_id)["committed_at_ms"])
        return self._commit_times[batch_id]

    def is_committed(self, batch_id: int) -> bool:
        return os.path.exists(self._marker(batch_id))

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.is_committed(batch_id):
            # replayed batch: effect already visible → exactly-once. The
            # batch still runs: Spark fails a stateful stream (an AggSink
            # rollup) whose batch leaves its state uncommitted.
            batch_df.write.format("noop").mode("overwrite").save()
            return
        self._commit(batch_df.sparkSession, batch_df, batch_id)

    def _batch_dirs(self, batch_id: int) -> list[str]:
        return [
            os.path.join(self.data_dir, f"batch_id={batch_id}"),
            os.path.join(self.lineage_dir, f"batch-{batch_id}"),
            os.path.join(self.metrics_dir, f"batch-{batch_id}"),
            os.path.join(self.rendered_dir, f"batch-{batch_id}"),
            self._window_path(batch_id),
        ]

    def _window_path(self, batch_id: int) -> str:
        return os.path.join(self.dedup_dir, f"batch-{batch_id}")

    def _clear(self, batch_id: int) -> None:
        for path in self._batch_dirs(batch_id):
            shutil.rmtree(path, ignore_errors=True)

    def _commit(self, spark, batch, batch_id: int, counts: dict | None = None,
                window: pa.Table | None = None) -> None:
        """Clear what an earlier attempt at ``batch_id`` left, write the
        batch (``_write_batch``), the ``window`` delta (the keys the
        batch's dedup kept, :class:`DedupWindow`), then the marker (caller
        has already checked ``is_committed``). A batch with no rows —
        ``None`` when the caller knows that without a job — commits its
        marker alone, plus its window delta. ``counts`` (name → int) ride
        in the marker next to ``wall_s``."""
        t0 = time.time()
        self._clear(batch_id)
        wrote = batch is not None and self._write_batch(spark, batch, batch_id)
        if not wrote:
            self._clear(batch_id)  # the writer's empty data dir
        if window is not None and window.num_rows:
            path = self._window_path(batch_id)
            os.makedirs(path)
            pq.write_table(window, os.path.join(path, "part-00000.parquet"))
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
        if self._compact is None or self._compact[0] != manifest["name"]:
            self._compact = (manifest["name"], pq.read_table(
                os.path.join(self.rendered_dir, manifest["name"]),
                columns=["result_key", "committed_at_ms"],
            ))
        return self._compact[1]

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
        imagor.go:991-1003). Reads the compact file (once per manifest;
        row-level TTL on its committed_at_ms column) plus the not-yet-folded per-batch files of
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


# a window delta's schema: each key a batch kept, with its expiry
_WINDOW_SCHEMA = pa.schema([("clip_id", pa.string()), ("expiry_us", pa.int64())])


class WindowStep(NamedTuple):
    """One batch through :meth:`DedupWindow.step`: the rows it keeps, its
    drop counts, and the state its commit records."""

    kept: pa.Table
    n_late: int
    n_duplicate: int
    delta: pa.Table  # the kept keys with their expiry (``_WINDOW_SCHEMA``)
    watermark_ms: int  # the watermark after the batch


class DedupWindow:
    """The pipeline's ``clip_id`` dedup within the watermark, held on the
    driver: the rule of Spark's within-watermark dedup operator, with its
    state kept by ``sink``'s commit protocol instead of a state store
    (≅ imagor's process-local singleflight, imagor.go:842-884).

    The state is each kept ``clip_id`` with its expiry (its event time plus
    ``delay_ms``, in µs as Spark keeps it), and the watermark: the largest
    event time collected, late and duplicate rows included, minus
    ``delay_ms``, never below 0 (Spark's ``EventTimeWatermark``). A batch (:meth:`step`) drops its rows
    at or behind the late threshold, then the rows whose key is live (its
    expiry past the threshold), and keeps one row per remaining key: the
    smallest ``(ingest_ts, file_path, row_index)``. A null ``clip_id`` is
    one key, as it is to Spark.

    The threshold follows Spark's schedule: Spark filters late rows with
    the previous batch's watermark and evicts at the end of a batch with its
    own, so within a drain the threshold lags the watermark by one batch.
    An availableNow drain ends with the watermark caught up (Spark runs a
    no-data batch if it is not), so a new window — a new drain — starts at
    the committed watermark.

    Exactly-once: a batch's delta is written under ``dedup/batch-N`` and its
    watermark in its marker (:meth:`IdempotentSink._commit`); the window
    moves on (:meth:`advance`) only after the marker. A new window reads
    the committed deltas and keeps their keys that are live under the last
    committed watermark. A delta whose largest expiry is at or behind the
    committed watermark is deleted, so that read stays bounded by the keys
    that arrive within the delay.
    """

    def __init__(self, sink: IdempotentSink, delay_ms: int):
        self.sink, self.delay_ms = sink, delay_ms
        batches = sink.committed_batches()
        self.watermark_ms = (
            sink._read_marker(batches[-1]).get("watermark_ms", 0) if batches else 0
        )
        self.late_ms = self.watermark_ms
        # batch id -> the largest expiry in its delta dir, until deleted
        self._expiry: dict[int, int] = {}
        deltas = [_WINDOW_SCHEMA.empty_table()]
        for b in batches:
            path = sink._window_path(b)
            if os.path.exists(path):
                deltas.append(pq.read_table(path, schema=_WINDOW_SCHEMA))
                self._expiry[b] = pc.max(deltas[-1]["expiry_us"]).as_py()
        self.keys = self._live(pa.concat_tables(deltas))

    def _live(self, keys: pa.Table) -> pa.Table:
        return keys.filter(
            pc.greater(keys["expiry_us"], self.late_ms * 1000)
        ).combine_chunks()

    def step(self, rows: pa.Table) -> WindowStep:
        """Dedup ``rows`` (with ``clip_id``, ``ingest_ts``, ``file_path``
        and ``row_index``) against the window; the window itself does not
        change until :meth:`advance`."""
        ts = pc.cast(rows["ingest_ts"], pa.int64())  # µs
        event_us = pc.fill_null(ts, 0)  # Spark reads a null as 0
        watermark = self.watermark_ms
        if rows.num_rows:
            watermark = max(watermark, pc.max(event_us).as_py() // 1000 - self.delay_ms)
        late = pc.fill_null(pc.less_equal(ts, self.late_ms * 1000), False)
        rows = rows.append_column("__expiry", pc.add(event_us, self.delay_ms * 1000))
        fresh = rows.filter(pc.invert(late))
        # the live keys this batch holds: the batch's keys are hashed, not
        # the window's
        live = self.keys["clip_id"].filter(
            pc.is_in(self.keys["clip_id"], value_set=fresh["clip_id"].combine_chunks())
        )
        fresh = fresh.filter(pc.invert(
            pc.is_in(fresh["clip_id"], value_set=live.combine_chunks())
        ))
        fresh = fresh.sort_by([("ingest_ts", "ascending"), ("file_path", "ascending"),
                               ("row_index", "ascending")])
        first = fresh.append_column("__i", pa.array(np.arange(fresh.num_rows))).group_by(
            "clip_id", use_threads=False
        ).aggregate([("__i", "min")])
        kept = fresh.take(np.sort(first["__i_min"].to_numpy()))
        n_late = pc.sum(late).as_py() or 0
        return WindowStep(
            kept=kept.drop_columns(["__expiry"]),
            n_late=n_late,
            n_duplicate=rows.num_rows - n_late - kept.num_rows,
            delta=pa.table({"clip_id": kept["clip_id"], "expiry_us": kept["__expiry"]},
                           schema=_WINDOW_SCHEMA),
            watermark_ms=watermark,
        )

    def advance(self, batch_id: int, step: WindowStep) -> None:
        """Take in committed batch ``batch_id``'s ``step``. Spark evicts at
        the end of a batch with the watermark the batch ran under, which is
        the next batch's late threshold; then delete the delta dirs that
        hold no key past the new committed watermark."""
        self.late_ms, self.watermark_ms = self.watermark_ms, step.watermark_ms
        self.keys = self._live(pa.concat_tables([self.keys, step.delta]))
        if step.delta.num_rows:
            self._expiry[batch_id] = pc.max(step.delta["expiry_us"]).as_py()
        for b, expiry in list(self._expiry.items()):
            if expiry <= self.watermark_ms * 1000:
                shutil.rmtree(self.sink._window_path(b), ignore_errors=True)
                del self._expiry[b]


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
