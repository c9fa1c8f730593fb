"""Batch-engine tests: the Spark mapInPandas plumbing must reproduce the
eager oracle exactly (same kernels, so parity failures = plumbing bugs),
the rejection plane must quarantine, and the plan must stay narrow
(no shuffle introduced by the transform stage)."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql.types import StructType

from imagor_spark.audio import codecs, kernels
from imagor_spark.audio.apply import apply_transformations
from imagor_spark.engine.config import (
    CONFIG_SCHEMA,
    params_config_df,
    resolve_with_config,
)
from imagor_spark.engine.transform import transform
from imagor_spark.imagorpath import parse
from imagor_spark.sources.clips import (
    SECRET,
    generate_clips_df,
    make_row,
    synth_pcm,
    watermark_assets,
)

N = 120


@pytest.fixture(scope="module")
def clips(spark):
    df = generate_clips_df(spark, N, seed=42, signed_mix=True, partitions=4)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def result(spark, clips):
    out = transform(clips, secret=SECRET, assets=watermark_assets(), allow_unsafe=True)
    out.cache().count()
    return out


def test_row_count_preserved(result):
    assert result.count() == N


def test_statuses(result):
    rows = {r["status"]: r["cnt"] for r in result.groupBy("status").count().withColumnRenamed("count", "cnt").collect()}
    assert rows.get("ok", 0) > 0
    # ~1% bad signatures in the mix must be quarantined
    assert rows.get("sig_mismatch", 0) >= 1
    assert "decode_error" not in rows


def test_quarantine_split(result):
    ok = result.filter(result.status.isin("ok", "meta"))
    rejected = result.filter(~result.status.isin("ok", "meta"))
    assert ok.count() + rejected.count() == N
    assert rejected.filter(rejected.status == "sig_mismatch").count() >= 1
    # rejected rows carry no payload (never decoded)
    assert all(len(r["bytes"]) == 0 for r in rejected.collect())


def test_transcript_invariant(result, clips):
    """Per-row invariant (BASELINE input_hint): transcript passes through
    byte-identical (no label() in the fixture mix)."""
    inp = {r["clip_id"]: r["transcript"] for r in clips.select("clip_id", "transcript").collect()}
    for r in result.filter(result.status == "ok").select("clip_id", "transcript").collect():
        assert r["transcript"] == inp[r["clip_id"]]


def test_spark_matches_eager_oracle(result):
    """Decode Spark outputs, recompute the oracle eagerly with the same
    seed → SNR >= 30 dB per row (the BASELINE per-row invariant)."""
    assets = watermark_assets()
    rows = result.filter(result.status == "ok").collect()
    assert rows
    checked = 0
    for r in rows:
        idx = int(r["clip_id"].replace("clip", ""))
        src_row = make_row(42, idx)
        p = parse(r["ops"])
        src_pcm, src_sr, _ = codecs.decode(src_row["bytes"])
        oracle = apply_transformations(src_pcm, src_sr, p, assets)
        got, got_sr, got_codec = codecs.decode(r["bytes"])
        assert got_sr == oracle.sr == r["sr_hz"]
        assert got.shape == oracle.pcm.shape
        assert kernels.snr_db(oracle.pcm, got) >= 30, f"{r['clip_id']} {r['ops']}"
        checked += 1
    assert checked > 50


def test_meta_rows_emit_json(result):
    metas = result.filter(result.status == "meta").collect()
    for r in metas:
        m = json.loads(r["meta"])
        assert m["sr_hz"] > 0 and m["n_samples"] >= 0
        assert r["bytes"] == b"" or len(r["bytes"]) == 0


def test_result_key_is_sha1_of_canonical(result):
    import hashlib

    from imagor_spark.imagorpath import generate_path

    r = result.filter(result.status == "ok").first()
    p = parse(r["ops"])
    h = hashlib.sha1(generate_path(p).encode()).hexdigest()
    assert r["result_key"] == h[:2] + "/" + h[2:4] + "/" + h[4:]


def test_result_key_ignores_utility_filters():
    """Utility filters are excluded from the result path (imagor.go:331-338):
    ops differing ONLY by attachment()/expire() share one result_key, so the
    rendered-keys anti-join cache-hits across them and the same render is
    never stored twice — while a substantive filter still changes the key."""
    from imagor_spark.imagorpath import hex_digest_path, result_path

    def key(ops):
        return hex_digest_path(result_path(parse(ops)))

    base = key("unsafe/fit-in/16000x0/clip1")
    assert key("unsafe/fit-in/16000x0/filters:attachment(a.wav)/clip1") == base
    assert key("unsafe/fit-in/16000x0/filters:expire(99999999999999)/clip1") == base
    assert key(
        "unsafe/fit-in/16000x0/filters:expire(1):attachment()/clip1"
    ) == base
    assert key("unsafe/fit-in/16000x0/filters:normalize(-14)/clip1") != base


def test_transform_stage_is_narrow(spark, clips):
    """The transform must not introduce a shuffle: upstream partitioning
    (e.g. salted codec repartition) has to survive into the sink stage."""
    out = transform(clips, secret=SECRET, allow_unsafe=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_config_broadcast_join(spark, clips):
    resolved = resolve_with_config(clips, params_config_df(spark))
    assert resolved.columns == clips.columns + ["admit_status"]
    # all fixture rows are within limits
    assert resolved.filter(resolved.admit_status == "ok").count() == N
    plan = resolved._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    # the dimension is a JVM-local relation: no Python job to build it
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    want = StructType.fromDDL(CONFIG_SCHEMA)
    got = params_config_df(spark).schema
    assert [(f.name, f.dataType) for f in got] == [(f.name, f.dataType) for f in want]


def test_unsafe_only_mode_rejects_signed(spark, clips):
    out = transform(clips, secret=None)
    assert out.filter(out.status == "sig_mismatch").count() > N // 4  # ~50% signed


def test_expired_filter(spark):
    import pandas as pd

    row = make_row(42, 1)
    row["ops"] = "unsafe/filters:expire(1000)/clip00000001"  # epoch-ms long past
    pdf = pd.DataFrame([row])
    df = spark.createDataFrame(pdf)
    out = transform(df, secret=SECRET, allow_unsafe=True)
    assert out.first()["status"] == "expired"


def test_secure_default_rejects_unsafe_when_signer_configured(spark):
    """Reference posture (imagor.go:290-302): with a signer configured and
    unsafe mode NOT explicitly enabled, ``unsafe/`` paths are quarantined."""
    import pandas as pd

    row = make_row(42, 2)
    row["ops"] = "unsafe/fit-in/16000x0/clip00000002"
    df = spark.createDataFrame(pd.DataFrame([row]))
    # default (allow_unsafe unset) with a secret → reject
    assert transform(df, secret=SECRET).first()["status"] == "sig_mismatch"
    # explicitly enabled → processed
    assert transform(df, secret=SECRET, allow_unsafe=True).first()["status"] == "ok"
    # no signer configured → unsafe is the only mode, passes
    assert transform(df, secret=None).first()["status"] == "ok"


def test_strip_metadata_nulls_transcript(spark):
    import pandas as pd

    row = make_row(42, 3)
    row["ops"] = "unsafe/filters:strip_metadata()/clip00000003"
    plain = dict(row, ops="unsafe/clip00000003", clip_id="clipplain")
    df = spark.createDataFrame(pd.DataFrame([row, plain]))
    out = {r["clip_id"]: r for r in transform(df, secret=None).collect()}
    assert out[row["clip_id"]]["status"] == "ok"
    assert out[row["clip_id"]]["transcript"] == ""  # stripped
    assert out["clipplain"]["transcript"] == row["transcript"]  # untouched


def test_source_router_and_allowlist(spark):
    """Prefix routing (first match wins, router.go:41-150) + allowed-sources
    gate (httploader): decisions are codegen column ops, no join/shuffle."""
    from imagor_spark.sources.router import Route, resolve_sources

    df = spark.createDataFrame(
        [("cdn-a/x",), ("cdn-a/deeper/y",), ("uploads/z",), ("evil.example/w",), ("nowhere/q",)],
        "source string",
    )
    routes = [Route("cdn-a/", "a"), Route("cdn-a/deeper/", "NEVER"), Route("uploads/", "up")]
    out = resolve_sources(df, routes, allowed=["cdn-a/*", "uploads/*"])
    rows = {r["source"]: (r["store"], r["source_status"]) for r in out.collect()}
    assert rows["cdn-a/x"] == ("a", "ok")
    assert rows["cdn-a/deeper/y"] == ("a", "ok")  # FIRST match wins, not best
    assert rows["uploads/z"] == ("up", "ok")
    assert rows["evil.example/w"][1] == "source_blocked"
    # not on the allowlist either → blocked wins over not_found
    assert rows["nowhere/q"] == (None, "source_blocked")
    # with no allowlist configured, everything is allowed → unrouted = not_found
    open_rows = {r["source"]: r["source_status"] for r in resolve_sources(df, routes).collect()}
    assert open_rows["nowhere/q"] == "not_found"
    assert open_rows["evil.example/w"] == "not_found"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan, plan


def test_upload_ingestion(spark):
    """UploadLoader analogue: raw bytes → validated clips rows; unknown
    containers / oversized payloads quarantined before the pipeline."""
    import numpy as np

    from imagor_spark.sources.upload import ingest_uploads

    pcm = (0.3 * np.sin(2 * np.pi * 440 * np.arange(8000) / 8000)).astype(np.float32)
    wav = codecs.encode(pcm, 8000, "wav")
    clips, bad = ingest_uploads(
        spark,
        [
            ("up1", wav, "hello"),
            ("up2", b"not audio at all", ""),
            ("up3", wav * 3, ""),  # concatenated garbage still sniffs as wav
        ],
        max_bytes=len(wav) * 2,
    )
    rows = {r["clip_id"]: r for r in clips.collect()}
    assert rows["up1"]["codec"] == "wav" and rows["up1"]["sr_hz"] == 8000
    assert rows["up1"]["dur_ms"] == 1000
    badrows = {r["clip_id"]: r["reason"] for r in bad.collect()}
    assert badrows == {"up2": "unsupported", "up3": "too_large"}
    # ingested rows run through the real pipeline
    out = transform(clips, secret=None)
    assert out.filter(out.status == "ok").count() == 1


def test_session_frame_cache_evicts_stale(spark):
    """SessionFrameCache (the shared lineage caches): entries from a stopped
    session are dropped-and-unpersisted on the next access, and the per-app
    FIFO bound unpersists the oldest same-session entry."""
    from imagor_spark.engine.session import SessionFrameCache

    cache = SessionFrameCache(max_per_app=2)
    app = spark.sparkContext.applicationId
    df1 = cache.get_or_create(spark, "t1", lambda: spark.range(10))
    assert df1.storageLevel.useMemory  # persisted on create
    # simulate a frame left behind by a stopped session
    stale = spark.range(5).persist()
    cache._frames[("app-dead", "old")] = stale
    cache.get_or_create(spark, "t2", lambda: spark.range(20))
    assert ("app-dead", "old") not in cache
    assert not stale.storageLevel.useMemory  # unpersisted, not just dropped
    # same-app FIFO bound: the third entry evicts (and unpersists) t1
    df3 = cache.get_or_create(spark, "t3", lambda: spark.range(30))
    assert (app, "t1") not in cache and not df1.storageLevel.useMemory
    assert (app, "t2") in cache and (app, "t3") in cache
    # cache hit returns the identical frame without invoking the builder
    assert cache.get_or_create(spark, "t3", lambda: 1 / 0) is df3
