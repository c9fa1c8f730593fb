"""Exactly-once foreachBatch sink with per-partition lineage + metrics and
a rendered-keys side table (the result-cache index).

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

Lineage + metrics (north_rule): every batch that holds rows also writes
``lineage/`` — one row per (batch, spark partition) with row counts and
event-time bounds — and ``metrics/`` — one row per (batch, status, codec)
mirroring imagor's Prometheus counters (metrics/prometheusmetrics).

Rendered keys (result-cache load, imagor.go:403-408 + loadResult
imagor.go:600-664): each batch appends the committed ``result_key``s of
successful renders to ``rendered_keys/`` — a compact index the pipeline
left-anti-joins incoming clips against, so re-runs/backfills skip work that
is already in result storage.

An empty batch commits its marker alone: no data, lineage, metrics or
rendered-keys dir (≅ imagor saving only what a request produced,
saveWithErrorHandling imagor.go:783-811). Every reader skips a committed
batch that has no dir.

Single-pass design, two writers. A DataFrame handed to
:class:`IdempotentSink` (``transform()`` output, :class:`AggSink`'s rollups)
is written by Spark, and that write is its payload's one traversal; it also
counts the rows (an observed metric, no extra job). The side tables then
come from one Spark aggregate over a column-pruned re-read of the written
parquet (out_len/part_id materialized at write time, the schema given so
no footer is read), collected to the driver. The streaming pipeline's
render (``TransformingSink``) writes without Spark: each task appends its
rendered rows to one snappy parquet file per codec (:class:`TaskFiles`) in
a hidden staging dir of its task attempt, and returns only narrow per-row
results. The driver collects those results as the render job's only
action, promotes the staged files of exactly the attempts that produced
them (:meth:`IdempotentSink._promote`) and removes the staging dir.
Either way, ONE driver-side rollup (:meth:`IdempotentSink._write_side_tables`)
turns the groups — aggregate rows, or result rows as groups of one — into
lineage, metrics and the rendered keys, each written as one small file,
before the marker. No batch is ever persisted for the side tables.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, Observation, functions as F

log = logging.getLogger(__name__)

# statuses whose results land in result storage (≅ successful render)
_RENDERED_STATUSES = ("ok", "meta")

# the side tables' file schemas: the types Spark gives the same aggregates
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
    (:meth:`IdempotentSink._promote`)."""

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
            self.writers[codec] = pq.ParquetWriter(
                os.path.join(path, f"part-{self.part_id:05d}.snappy.parquet"),
                schema, compression="snappy",
            )
        return self.writers[codec]

    def close(self) -> None:
        for writer in self.writers.values():
            writer.close()


class IdempotentSink:
    def __init__(
        self,
        out_dir: str,
        partition_by: str | None = "codec",
        rendered_compact_every: int = 32,
    ):
        self.out_dir = out_dir
        self.data_dir = os.path.join(out_dir, "data")
        self.commits_dir = os.path.join(out_dir, "_commits")
        self.lineage_dir = os.path.join(out_dir, "lineage")
        self.metrics_dir = os.path.join(out_dir, "metrics")
        self.rendered_dir = os.path.join(out_dir, "rendered_keys")
        self.partition_by = partition_by
        # compact the rendered-keys index once this many per-batch dirs
        # accumulate (0 disables auto-compaction)
        self.rendered_compact_every = rendered_compact_every
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

    def _with_provenance(self, batch_df: DataFrame) -> DataFrame:
        """Provenance columns materialized in the SINGLE payload pass:
        part_id = producing partition, out_len = payload size."""
        return batch_df.withColumn("part_id", F.spark_partition_id()).withColumn(
            "out_len", F.length("bytes")
        )

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
        batch's data and side tables (``_write_batch``), then the marker
        (caller has already checked ``is_committed``). A batch with no
        rows — ``None`` when the caller knows that without a job — commits
        its marker alone."""
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
        # periodic index compaction: a long-running pipeline otherwise grows
        # one rendered_keys/batch-* parquet dir per batch forever, and the
        # anti-join's build side becomes thousands of small files. The batch
        # data is already committed (marker above), so a failure in this
        # non-essential index maintenance must not fail the streaming query —
        # the next commit that writes rows retries it.
        if (
            wrote
            and self.rendered_compact_every
            and self._n_rendered_batch_dirs() >= self.rendered_compact_every
        ):
            try:
                self.compact_rendered_keys(spark)
            except Exception as exc:  # pragma: no cover - transient FS/Spark
                log.warning("rendered-keys compaction deferred: %s", exc, exc_info=True)

    def _write_batch(self, spark, batch_df: DataFrame, batch_id: int) -> bool:
        """The data write, then the side tables; False, with only the data
        dir written, when the batch holds no rows."""
        batch_df = self._with_provenance(batch_df)
        data_path = os.path.join(self.data_dir, f"batch_id={batch_id}")
        rows = Observation()
        # snappy (r6 A/B, reversing the r3 zstd choice with measurement):
        # the payload column is ALREADY-ENCODED media — zstd recovers only
        # ~5% (2,711 MB written vs 2,853 MB raw at sf0.1) yet costs ~20 s
        # of a ~27 s pipeline run in compression CPU (measured same-host-
        # phase: zstd 47.4 s, snappy 27.3 s, uncompressed 30.3 s). Snappy
        # is near-free CPU and its 5% loss costs ~1.2 s even on the
        # 122 MB/s disk workdir — it wins on BOTH workdirs, and the same
        # holds at scale for any sink whose payloads are compressed codecs.
        writer = (
            batch_df.observe(rows, F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite").option("compression", "snappy")
        )
        if self.partition_by:
            writer = writer.partitionBy(self.partition_by)
        writer.parquet(data_path)
        if not rows.get["n"]:
            return False
        # derived side tables from a column-pruned re-read (never touches
        # the binary column again — parquet reads only the tiny columns);
        # the known schema spares the footer-inference job
        self._aggregate_side_tables(
            spark.read.schema(batch_df.schema).parquet(data_path), batch_id
        )
        return True

    def _aggregate_side_tables(self, written: DataFrame, batch_id: int) -> None:
        """The side tables of a written batch from one Spark aggregate, a few
        rows per spark partition: one group per (part_id, status, codec) and,
        for the rendered statuses, per result key."""
        rendered_key = F.when(
            F.col("status").isin(*_RENDERED_STATUSES), F.col("result_key")
        )
        self._write_side_tables(
            written.groupBy("part_id", "status", "codec", rendered_key.alias("result_key"))
            .agg(
                F.count("*").alias("n"),
                F.min("ingest_ts").alias("min_ingest_ts"),
                F.max("ingest_ts").alias("max_ingest_ts"),
                F.sum("out_len").alias("out_bytes"),
            )
            .toArrow(),
            batch_id,
        )

    def _write_side_tables(self, groups: pa.Table, batch_id: int) -> None:
        """Lineage / metrics / rendered-keys side tables of a batch that
        holds rows, rolled up on the driver (SQL null semantics) from
        ``groups``: rows of ``part_id, status, codec, result_key, n,
        min_ingest_ts, max_ingest_ts, out_bytes`` that partition the batch's
        rows, as :meth:`_aggregate_side_tables` or a render's results
        (:meth:`_promote`) give them. The rendered keys are written only
        when the batch rendered any."""
        def with_batch_id(table):
            return table.append_column(
                "batch_id", pa.repeat(pa.scalar(batch_id, pa.int32()), table.num_rows)
            )

        parts = groups.group_by("part_id").aggregate([
            ("n", "sum"), ("min_ingest_ts", "min"), ("max_ingest_ts", "max"),
            ("out_bytes", "sum"),
        ])
        # plain batch-N dir names (no '=') so partition inference does
        # not collide with the explicit batch_id column in the rows
        _write_table(
            with_batch_id(pa.table({
                "part_id": parts["part_id"],
                "n_rows": parts["n_sum"],
                "min_ingest_ts": parts["min_ingest_ts_min"],
                "max_ingest_ts": parts["max_ingest_ts_max"],
                "out_bytes": parts["out_bytes_sum"],
            })),
            _LINEAGE_SCHEMA,
            os.path.join(self.lineage_dir, f"batch-{batch_id}"),
        )
        metrics = groups.group_by(["status", "codec"]).aggregate([("n", "sum")])
        _write_table(
            with_batch_id(pa.table({
                "status": metrics["status"], "codec": metrics["codec"],
                "n": metrics["n_sum"],
            })),
            _METRICS_SCHEMA,
            os.path.join(self.metrics_dir, f"batch-{batch_id}"),
        )
        rendered = groups.filter(pc.is_in(
            groups["status"], value_set=pa.array(_RENDERED_STATUSES)
        ))
        if rendered.num_rows:
            keys = pc.unique(pc.drop_null(rendered["result_key"]))
            _write_table(
                pa.table({"result_key": keys}).sort_by("result_key"),
                _RENDERED_KEYS_SCHEMA,
                os.path.join(self.rendered_dir, f"batch-{batch_id}"),
            )

    # ---- the render's commit: each task stages its own files

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
        attempts that produced them into the batch's partition dirs, drop
        the staging dir with whatever other attempts left there, and roll
        up the side tables from the results, each row a group of one."""
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
        ts, n = results["ingest_ts"], results.num_rows
        self._write_side_tables(
            results.select(["part_id", "status", "codec", "result_key"])
            .append_column("n", pa.repeat(pa.scalar(1, pa.int64()), n))
            .append_column("min_ingest_ts", ts)
            .append_column("max_ingest_ts", ts)
            .append_column("out_bytes", results["out_len"]),
            batch_id,
        )

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
        import shutil

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
    """Exactly-once sink for AGGREGATED streaming output (windowed rollups)
    — the same commit-marker discipline as :class:`IdempotentSink`, minus
    the payload-specific side tables (agg rows carry no bytes/status/
    result_key). Used by the streaming parity queries so no catalog entry
    needs complete-mode + a memory sink (which cannot resume from a
    checkpoint and holds the whole result in executor memory).

    With ``outputMode("update")`` each micro-batch appends the CHANGED
    groups; :meth:`read_latest` folds the committed log back into current
    state by keeping each group's row from its highest committed batch —
    the streaming-upsert read side of an append-only exactly-once log (an
    Iceberg/Delta MERGE target would absorb this fold on a real cluster).
    """

    def __init__(self, out_dir: str):
        super().__init__(out_dir, partition_by=None, rendered_compact_every=0)

    def _with_provenance(self, batch_df: DataFrame) -> DataFrame:
        return batch_df

    def _aggregate_side_tables(self, written: DataFrame, batch_id: int) -> None:
        pass

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
