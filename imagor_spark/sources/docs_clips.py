"""Derive a deterministic clips table from the driver's ``documents``
parquet — the bridge between the provided testdata and the audio engine.

Every derived field is a *simple arithmetic function of doc_id*, so a SQL
oracle (DuckDB over the same parquet) can predict the engine's output shapes
exactly: that turns the full decode→transform→encode pipeline into a
hash-checkable correctness query (CORRECTNESS_r{N}.json) instead of a weaker
rows-only check.

The 8 ops templates cover the geometry plane: passthrough, fit-in resample,
absolute crop, fractional crop (process.go:612-617 rule), stretch, reverse,
normalize+codec-convert, fade. (Trim/smart are excluded here on purpose —
their outputs depend on waveform content, not arithmetic — they are covered
by the SNR-oracle pytest suite instead.)
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..audio import codecs
from ..audio.kernels import ms_to_samples
from .clips import CLIPS_SCHEMA

SEED = 123

SRS = [8000, 16000, 22050, 44100, 48000]

TEMPLATES = [
    "",  # passthrough
    "fit-in/16000x0/",
    "100x0:1500x0/",
    "0.1x0:0.8x0/",
    "stretch/8000x500/",
    "-0x0/",
    "filters:normalize(-14):format(flac)/",
    "filters:fade(50,50)/",
]


def fields_for(doc_id: int) -> tuple[int, int, str, str]:
    """(sr_hz, dur_ms, codec, ops) — all SQL-expressible in doc_id."""
    sr = SRS[doc_id % 5]
    dur_ms = 200 + (doc_id * 37) % 2801
    m = doc_id % 20
    codec = "wav" if m < 14 else ("flac" if m < 19 else "ogg")
    ops = "unsafe/" + TEMPLATES[doc_id % 8] + f"doc{doc_id}"
    return sr, dur_ms, codec, ops


def synth_for(doc_id: int, sr: int, dur_ms: int) -> np.ndarray:
    """Two deterministic tones keyed by doc_id (pure fn, no RNG state)."""
    n = ms_to_samples(dur_ms, sr)
    t = np.arange(n, dtype=np.float64) / sr
    f1 = 100.0 + (doc_id * 53) % 1900
    f2 = 150.0 + (doc_id * 97) % 2500
    x = 0.4 * np.sin(2 * np.pi * f1 * t) + 0.2 * np.sin(2 * np.pi * f2 * t)
    return x.astype(np.float32)


def clips_from_documents(spark, sf_dir: str):
    """documents.parquet → clips DataFrame (distributed mapInPandas; only
    doc_id/text are read — column pruning reaches the scan).

    The scan is spread across cores first: the testdata documents table is
    ONE single-row-group file (one input split), so without the repartition
    the whole synth+encode derivation — and, worse, every downstream
    consumer of the materialized single output file, including the
    streaming-parity sources whose per-batch transform parallelism is the
    file split count — would run on one task (measured r6: the tumbling
    parity stream spent ~5 s single-threaded in the transform). Shuffling
    ~KBs of text here buys a multi-file layout every consumer scans in
    parallel; at real scale the input has many splits and this is a no-op
    cost."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for d, text in zip(pdf["doc_id"].to_numpy(), pdf["text"].to_numpy()):
                d = int(d)
                sr, dur_ms, codec, ops = fields_for(d)
                pcm = synth_for(d, sr, dur_ms)
                rows.append(
                    {
                        "clip_id": f"doc{d}",
                        "bytes": codecs.encode(pcm, sr, codec),
                        "sr_hz": sr,
                        "dur_ms": dur_ms,
                        "codec": codec,
                        "transcript": str(text)[:80],
                        "ingest_ts": pd.Timestamp("2026-01-01", tz="UTC")
                        + pd.Timedelta(seconds=d % 3600),
                        "ops": ops,
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return docs.mapInPandas(gen, schema=CLIPS_SCHEMA)


def clips_cache_dir(sf_dir: str) -> str:
    """Canonical location of the materialized derived-clips table."""
    import os
    import tempfile

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    # v2: multi-file layout (parallel derivation + parallel stream splits);
    # the suffix invalidates any v1 single-file cache left by older runs
    return os.path.join(tempfile.gettempdir(), f"imagor_clips_{tag}_v2")


def cached_clips(spark, sf_dir: str):
    """Materialize the derived clips table ONCE per sf_dir (marker-guarded
    tempdir parquet) and read it back — the derivation (synth + encode per
    row) is deterministic, so every audio query can share it instead of
    re-paying the synthesis (the round-1 bench re-derived 50k clips per
    query). At real scale the input is an existing table; this cache only
    exists because the sandbox derives its input from documents.parquet."""
    import os

    cache_dir = clips_cache_dir(sf_dir)
    marker = os.path.join(cache_dir, "_done")
    if not os.path.exists(marker):
        clips_from_documents(spark, sf_dir).write.mode("overwrite").parquet(
            os.path.join(cache_dir, "data")
        )
        open(marker, "w").close()
    return spark.read.parquet(os.path.join(cache_dir, "data"))


# DuckDB SQL predicting the engine's measured output shapes by arithmetic:
# the audio_pipeline_shapes oracle, and the one derived-clips relation the
# audio_status_by_codec and streaming_tumbling_parity oracles select from.
# Every float expression mirrors the Python kernels' IEEE-double op order
# (half-up rounding via FLOOR(x+0.5), e-notation literals to force DOUBLE):
#   n0   = round_half_up(dur_ms*sr/1000)              (ms_to_samples)
#   dur0 = n0*1000.0/sr (the post-decode duration the kernels actually use)
ORACLE_DERIVED_SQL = """
WITH base AS (
  SELECT
    doc_id,
    'doc' || CAST(doc_id AS VARCHAR) AS clip_id,
    CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050
                    WHEN 3 THEN 44100 ELSE 48000 END AS sr,
    200 + (doc_id * 37) % 2801 AS dur_ms,
    CASE WHEN doc_id % 20 < 14 THEN 'wav'
         WHEN doc_id % 20 < 19 THEN 'flac' ELSE 'ogg' END AS codec,
    doc_id % 8 AS tmpl
  FROM documents
), shaped AS (
  SELECT *,
    CAST(FLOOR(CAST(dur_ms * sr AS DOUBLE) / 1e3 + 5e-1) AS BIGINT) AS n0
  FROM base
), dur0 AS (
  SELECT *, CAST(n0 * 1000 AS DOUBLE) / sr AS dur0_ms FROM shaped
)
SELECT
  clip_id,
  CAST(CASE tmpl
    WHEN 1 THEN LEAST(sr, 16000)
    WHEN 4 THEN 8000
    ELSE sr END AS INT) AS out_sr_hz,
  CASE tmpl
    WHEN 1 THEN CASE WHEN sr > 16000
                     THEN CAST(FLOOR(CAST(n0 * 16000 AS DOUBLE) / sr + 5e-1) AS BIGINT)
                     ELSE n0 END
    WHEN 2 THEN LEAST(n0, 3 * sr // 2) - sr // 10
    WHEN 3 THEN CAST(FLOOR(8e-1 * dur0_ms * sr / 1e3 + 5e-1) AS BIGINT)
              - CAST(FLOOR(1e-1 * dur0_ms * sr / 1e3 + 5e-1) AS BIGINT)
    WHEN 4 THEN 4000
    ELSE n0 END AS out_n_samples,
  CASE tmpl WHEN 6 THEN 'flac' ELSE codec END AS out_codec
FROM dur0
"""
