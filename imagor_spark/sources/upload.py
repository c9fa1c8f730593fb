"""Upload ingestion — the UploadLoader analogue (loader/uploadloader):
turn raw payload bytes (HTTP multipart uploads in the reference; local
files / in-memory blobs here) into rows of the engine's input table shape,
validating each payload BEFORE it enters the pipeline.

Validation mirrors the reference's pre-pipeline checks: codec sniffed from
magic bytes (unknown → quarantined as ``unsupported``), header-level
duration/rate probed where the container allows (WAV), and a max-bytes
admission bound (≅ the upload size limit). Rejected rows keep their bytes
out of the clips table — they land in the returned quarantine frame.
"""

from __future__ import annotations

from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame

from ..audio import codecs
from .clips import CLIPS_SCHEMA

QUARANTINE_SCHEMA = "clip_id string, reason string, size int"

_DEFAULT_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)


def ingest_uploads(
    spark,
    uploads: list[tuple[str, bytes, str]],
    max_bytes: int = 64 * 1024 * 1024,
    default_ops: str = "unsafe/{clip_id}",
) -> tuple[DataFrame, DataFrame]:
    """[(clip_id, payload, transcript)] → (clips_df, quarantine_df).

    Driver-side by nature (an upload arrives at one process), exactly like
    the reference's upload endpoint; the RESULT is a distributed DataFrame
    in the standard input shape, so everything downstream scales normally.
    For bulk backfills use a parquet/Iceberg source instead — this is the
    interactive/one-off ingestion door."""
    rows, bad = [], []
    for clip_id, payload, transcript in uploads:
        payload = bytes(payload)
        if len(payload) > max_bytes:
            bad.append({"clip_id": clip_id, "reason": "too_large", "size": len(payload)})
            continue
        codec = codecs.sniff(payload)
        if not codec:
            bad.append({"clip_id": clip_id, "reason": "unsupported", "size": len(payload)})
            continue
        sr = dur_ms = 0
        if codec == codecs.CODEC_WAV:
            info = codecs.wav_header_info(payload)
            if info is None:
                bad.append({"clip_id": clip_id, "reason": "bad_header", "size": len(payload)})
                continue
            sr, _ch, n = info
            dur_ms = round(n * 1000.0 / sr) if sr else 0
        rows.append(
            {
                "clip_id": clip_id,
                "bytes": payload,
                "sr_hz": sr,
                "dur_ms": dur_ms,
                "codec": codec,
                "transcript": transcript or "",
                "ingest_ts": _DEFAULT_TS,
                "ops": default_ops.format(clip_id=clip_id),
            }
        )
    clips = spark.createDataFrame(pd.DataFrame(rows), schema=CLIPS_SCHEMA) if rows else (
        spark.createDataFrame([], CLIPS_SCHEMA)
    )
    quarantine = spark.createDataFrame(pd.DataFrame(bad), schema=QUARANTINE_SCHEMA) if bad else (
        spark.createDataFrame([], QUARANTINE_SCHEMA)
    )
    return clips, quarantine
