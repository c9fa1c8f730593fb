"""The batch transform engine — decode → transform → encode as ONE
Arrow-vectorized ``mapInPandas`` stage.

≅ the reference's request lifecycle ``Do`` → ``vipsprocessor.Process``
(/root/reference/imagor.go:275-540, processor/vipsprocessor/process.go:52-184)
collapsed into a per-micro-batch dataflow: signature verify → expire check →
parse → kernel chain → encode, with rejected rows flowing to a quarantine
side-output instead of HTTP 4xx.

Scale design:
* one Python worker pass per Arrow batch; all signal math is numpy inside
  the batch (zero per-sample Python);
* ops parsing is memoized per distinct ops string within a batch (templates
  repeat heavily — ≅ singleflight's common-subexpression win);
* rejected rows never decode (signature checked before touching payload);
* no shuffle introduced: the stage is a narrow map and runs on its input's
  partitions — in the stream, inside the render job's ``mapInArrow``, on
  contiguous slices of the survivors sorted by source row (``min(rows,
  cores)`` tasks), each task reading its own rows' payloads with pyarrow
  and writing its own output files (``streaming/pipeline.py``);
* watermark/overlay assets ship once per executor via Spark broadcast
  (≅ the loader callback, imagor.go:399-402).
"""

from __future__ import annotations

import time
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F

from ..audio import apply as audio_apply
from ..imagorpath import Params, hex_digest_path, parse, result_path
from ..imagorpath.signer import HMACSigner

# status values (≅ errors.go: ErrSignatureMismatch/ErrExpired/ErrUnsupported…)
STATUS_OK = "ok"
STATUS_META = "meta"
STATUS_SIG_MISMATCH = "sig_mismatch"
STATUS_EXPIRED = "expired"
STATUS_DECODE_ERROR = "decode_error"
STATUS_BOMB = "resolution_bomb"

OUTPUT_SCHEMA = (
    "clip_id string, result_key string, bytes binary, sr_hz int, dur_ms int, "
    "n_samples int, codec string, transcript string, ingest_ts timestamp, "
    "status string, meta string, ops string"
)


class _OpsCache:
    """Per-batch memo of parsed+verified ops strings."""

    def __init__(self, signer: HMACSigner | None, now_ms: int, allow_unsafe: bool):
        self.signer = signer
        self.now_ms = now_ms
        self.allow_unsafe = allow_unsafe
        self.cache: dict[str, tuple[Params, str, str, str]] = {}

    def get(self, ops: str) -> tuple[Params, str, str, str]:
        """→ (params, canonical, result_key, reject_status)."""
        hit = self.cache.get(ops)
        if hit is not None:
            return hit
        p = parse(ops)
        reject = ""
        # signature verify (imagor.go:290-302): when a signer is configured,
        # unsafe/ paths pass ONLY if unsafe mode is explicitly enabled
        # (the reference's default posture rejects them); signed paths must
        # hash-match
        if p.unsafe:
            if not self.allow_unsafe:
                reject = STATUS_SIG_MISMATCH
        else:
            if self.signer is None or self.signer.sign(p.path) != p.hash:
                reject = STATUS_SIG_MISMATCH
        # expire(ts) utility filter (imagor.go:314-322)
        if not reject:
            for f in p.filters:
                if f.name == "expire":
                    try:
                        if self.now_ms > int(f.args):
                            reject = STATUS_EXPIRED
                    except ValueError:
                        pass
        # the canonical path regenerated after parse (imagor.go:377-379) is
        # the result-cache key basis. Utility filters (expire/attachment)
        # are stripped first (imagor.go:331-338): they shape the response
        # envelope, not the rendered bytes, so ``attachment(a.wav)`` and a
        # bare render of the same ops share one cache entry; the full
        # Params (attachment included) still reach the processor
        canonical = result_path(p)
        key = hex_digest_path(canonical)
        out = (p, canonical, key, reject)
        self.cache[ops] = out
        return out


# executor-local decoded-source cache (≅ cache.go:37-163): one per Python
# worker process, shared across batches; BYTE-budgeted (ristretto-style),
# bypass-rule aware
_DECODE_CACHE = audio_apply.DecodeCache()


def make_transform_fn(
    secret: str | None,
    assets: dict[str, tuple[np.ndarray, int]] | None = None,
    alg: str = "sha1",
    truncate: int = 0,
    allow_unsafe: bool | None = None,
    use_decode_cache: bool = True,
):
    """Build the mapInPandas function. ``assets`` may be a plain dict or a
    Spark Broadcast (unwrapped lazily on the executor).

    ``allow_unsafe`` mirrors the reference's ``-imagor-unsafe`` flag
    (imagor.go:290-302): default None resolves to True only when NO secret
    is configured — with a signer present, ``unsafe/`` paths are rejected
    (STATUS_SIG_MISMATCH) unless explicitly enabled."""
    signer = HMACSigner(alg, truncate, secret) if secret is not None else None
    if allow_unsafe is None:
        allow_unsafe = signer is None

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        asset_map = assets.value if hasattr(assets, "value") else (assets or {})
        now = int(time.time() * 1000)
        for pdf in batches:
            if not len(pdf):
                continue
            cache = _OpsCache(signer, now, allow_unsafe)
            n = len(pdf)
            out = {
                "clip_id": pdf["clip_id"].to_numpy(),
                "result_key": np.empty(n, dtype=object),
                "bytes": np.empty(n, dtype=object),
                "sr_hz": np.zeros(n, dtype=np.int32),
                "dur_ms": np.zeros(n, dtype=np.int32),
                "n_samples": np.zeros(n, dtype=np.int32),
                "codec": np.empty(n, dtype=object),
                "transcript": pdf["transcript"].to_numpy().copy(),
                "ingest_ts": pdf["ingest_ts"].to_numpy()
                if "ingest_ts" in pdf
                else np.full(n, np.datetime64("2026-01-01")),
                "status": np.empty(n, dtype=object),
                "meta": np.empty(n, dtype=object),
                "ops": pdf["ops"].to_numpy(),
            }
            blobs = pdf["bytes"].to_numpy()
            transcripts = pdf["transcript"].to_numpy()
            # admission plane (optional column attached by the broadcast
            # config join upstream, TransformingSink): rows whose codec had
            # no config entry or exceeded per-codec limits are quarantined
            # HERE, before any payload byte is touched — folding admission
            # into the one narrow map keeps the micro-batch single-scan
            # (a split+union layout would scan the batch twice and re-run
            # its dedup subtree per branch)
            admit = (
                pdf["admit_status"].to_numpy() if "admit_status" in pdf else None
            )
            for i in range(n):
                p, canonical, rkey, reject = cache.get(out["ops"][i])
                out["result_key"][i] = rkey
                out["meta"][i] = ""
                out["bytes"][i] = b""
                out["codec"][i] = ""
                if reject:
                    # signature/expiry rejection wins (the reference checks
                    # the signature before resolving any loader,
                    # imagor.go:290-302 vs :699-760)
                    out["status"][i] = reject
                    continue
                if admit is not None and admit[i] != "ok":
                    out["status"][i] = admit[i]
                    continue
                try:
                    payload, meta = audio_apply.process(
                        blobs[i], p, asset_map,
                        decode_cache=_DECODE_CACHE if use_decode_cache else None,
                    )
                except NotImplementedError:
                    out["status"][i] = STATUS_DECODE_ERROR
                    continue
                except ValueError as exc:
                    out["status"][i] = (
                        STATUS_BOMB if "resolution bomb" in str(exc) else STATUS_DECODE_ERROR
                    )
                    continue
                suffix = meta.pop("transcript_suffix", "")
                if suffix:
                    out["transcript"][i] = transcripts[i] + suffix
                if meta.pop("_strip_transcript", False):
                    # strip_metadata: null the transcript carry-through
                    out["transcript"][i] = ""
                out["bytes"][i] = payload
                out["sr_hz"][i] = meta["sr_hz"]
                out["dur_ms"][i] = meta["dur_ms"]
                out["n_samples"][i] = meta["n_samples"]
                out["codec"][i] = meta["codec"]
                out["status"][i] = STATUS_META if p.meta else STATUS_OK
                if p.meta:
                    out["meta"][i] = audio_apply.meta_json(meta)
                elif "disposition" in meta:
                    # attachment(): the Content-Disposition analogue rides
                    # the meta column even for payload renders (the
                    # reference sets the header on every response,
                    # imagor.go:312-338,927-946)
                    out["meta"][i] = audio_apply.meta_json(
                        {"disposition": meta["disposition"]}
                    )
            yield pd.DataFrame(out)

    return fn


def transform(
    df,
    secret: str | None = None,
    assets: dict[str, tuple[np.ndarray, int]] | None = None,
    allow_unsafe: bool | None = None,
):
    """Apply the full ops pipeline to a clips DataFrame → result DataFrame.

    ≅ ``ServeBlob`` (imagor.go:252-272): the library-embed entry point; the
    streaming pipeline reuses exactly this stage per micro-batch.

    ``secret=None`` runs unsafe-only mode (signed rows are quarantined);
    pass the signing secret to accept signed ops paths. With a secret
    configured, ``unsafe/`` paths are quarantined unless
    ``allow_unsafe=True`` (reference default posture, imagor.go:290-302).
    """
    b_assets = df.sparkSession.sparkContext.broadcast(assets) if assets else None
    fn = make_transform_fn(secret, b_assets, allow_unsafe=allow_unsafe)
    return df.mapInPandas(fn, schema=OUTPUT_SCHEMA)


def with_result_key(df, out_col: str = "result_key"):
    """Attach the result-cache key (parse → canonical → hex digest) WITHOUT
    decoding payloads — the cheap projection that makes cache-hit-before-
    render possible (≅ the key the reference derives before ``loadResult``,
    imagor.go:403-408). Memoized per distinct ops string within a batch."""

    @F.pandas_udf("string")
    def rk(ops: pd.Series) -> pd.Series:
        # no signer: the key needs no signature, so none is computed
        cache = _OpsCache(None, 0, True)
        return ops.map(lambda o: cache.get(o)[2])

    return df.withColumn(out_col, rk(F.col("ops")))


def make_key_validity_udf(
    secret: str | None,
    alg: str = "sha1",
    truncate: int = 0,
    allow_unsafe: bool | None = None,
):
    """pandas UDF ``ops → struct<rk, ok>``: the result-cache key PLUS the
    cheap signature/expiry verdict (the same ``_OpsCache`` logic the
    transform applies), computed WITHOUT touching payloads. Lets the
    within-batch singleflight prefer a row that will actually render as
    its winner — the reference validates (ErrExpired/signature,
    imagor.go:290-338) BEFORE the suppress/singleflight at imagor.go:842,
    so a rejected request can never suppress a valid one; keying on the
    utility-stripped path alone allowed exactly that (r5 ADVICE #1)."""
    signer = HMACSigner(alg, truncate, secret) if secret is not None else None
    if allow_unsafe is None:
        allow_unsafe = signer is None

    @F.pandas_udf("rk string, ok boolean")
    def kv(ops: pd.Series) -> pd.DataFrame:
        cache = _OpsCache(signer, int(time.time() * 1000), allow_unsafe)
        rks, oks = [], []
        for o in ops:
            _p, _canonical, rk, reject = cache.get(o)
            rks.append(rk)
            oks.append(not reject)
        return pd.DataFrame({"rk": rks, "ok": oks})

    return kv


def skip_rendered(df, rendered_keys_df):
    """Result-cache load (imagor.go:403-408, loadResult imagor.go:600-664)
    as a Spark plan: left-anti join incoming clips against a rendered-keys
    index DataFrame, so already-rendered work is skipped BEFORE the
    transform ever decodes a payload. Works on batch and streaming
    DataFrames (stream-static left anti is supported). The streaming sink
    probes its collected rows on the driver instead (``TransformingSink``).

    The index is the TTL-bounded compacted rendered-keys table — small
    relative to the stream — so it ships as a broadcast build side and the
    anti-join is a map-side probe: the payload column NEVER crosses an
    exchange (without the hint, Spark may plan a sort-merge anti that
    hash-shuffles the full payload rows by key — plan-asserted in tests).
    An index too large to broadcast should be sharded by TTL first."""
    keyed = with_result_key(df, out_col="__rk")
    rendered = F.broadcast(rendered_keys_df.select(F.col("result_key").alias("__rk")))
    return keyed.join(rendered, "__rk", "left_anti").drop("__rk")


def singleflight_within(df, ok_col: str = "__ok"):
    """WITHIN-batch singleflight (imagor.go:842-884): concurrent identical
    requests — rows in the SAME micro-batch whose ops+image resolve to one
    result key (the ``__rk`` column) — coalesce to a single render. The
    min-``clip_id`` row among the valid rows wins;
    a dropped row's result IS the winner's committed row (identical bytes
    under the same key), exactly as if it had arrived one batch later and
    hit the result cache.

    Scale shape — the payload never shuffles: the duplicate-winner
    dimension is aggregated over a 2-column (key, id) projection (only
    those pairs cross the exchange; column pruning keeps payload bytes out
    of that subtree's scan) and contains ONLY keys that actually repeat
    within the batch — tiny under any realistic duplicate rate — so it
    broadcasts, and the wide side is filtered in place by a
    BroadcastHashJoin. A plain ``dropDuplicates([key])`` would instead
    hash-shuffle every payload row per batch.

    ``ok_col``: the boolean column marking rows that pass the cheap
    pre-render validation (signature/expiry — ``make_key_validity_udf``).
    The winner is the min-``clip_id`` row AMONG VALID rows, falling back to
    the overall min only when the whole group is invalid (everything
    quarantines anyway) — so a tampered/expired duplicate can never
    suppress a valid same-key request (r5 ADVICE #1; reference validates
    before singleflight, imagor.go:290-338 vs :842)."""
    winner = F.coalesce(F.col("__w_ok"), F.col("__w_any"))
    dups = (
        df.select("__rk", "clip_id", ok_col)
        .groupBy("__rk")
        .agg(
            F.count("*").alias("__n"),
            F.min("clip_id").alias("__w_any"),
            F.min(F.when(F.col(ok_col), F.col("clip_id"))).alias("__w_ok"),
        )
        .filter(F.col("__n") > 1)
        .select("__rk", winner.alias("__winner"))
    )
    return (
        df.join(F.broadcast(dups), "__rk", "left_outer")
        .filter(F.col("__winner").isNull() | (F.col("clip_id") == F.col("__winner")))
        .drop("__winner")
    )


def singleflight_local(narrow: pa.Table, ok_col: str = "__ok") -> pa.Table:
    """:func:`singleflight_within`'s rule on a driver-side Arrow table: per
    ``__rk``, the min ``clip_id`` among the ``ok_col`` rows wins, else the
    min overall; a row with a null key, or of a group whose ``clip_id``s are
    all null, is kept. The per-batch sink collects its narrow rows once and
    runs this on them, so the winner dimension costs no Spark job."""
    rk, clip_id = narrow["__rk"], narrow["clip_id"]
    groups = (
        pa.table({
            "__rk": rk,
            "any": clip_id,
            "ok": pc.if_else(pc.fill_null(narrow[ok_col], False), clip_id,
                             pa.scalar(None, clip_id.type)),
        })
        .group_by("__rk")
        .aggregate([("any", "min"), ("ok", "min")])
    )
    winner = pc.take(
        pc.coalesce(groups["ok_min"], groups["any_min"]),
        pc.index_in(rk, value_set=groups["__rk"], skip_nulls=True),
    )
    keep = pc.or_kleene(pc.is_null(winner), pc.equal(clip_id, winner))
    return narrow.filter(pc.fill_null(keep, False))
