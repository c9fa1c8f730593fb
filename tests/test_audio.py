"""Kernel + pipeline semantics tests, mirroring the reference's golden-test
coverage (processor_test.go:101-1370) re-expressed as audio invariants:
decode-level comparison (SNR), exact arithmetic contracts for geometry, and
order-sensitivity of the filter chain."""

from __future__ import annotations

import numpy as np
import pytest

from imagor_spark.audio import codecs, kernels
from imagor_spark.audio.apply import process, apply_transformations, extract_export_opts
from imagor_spark.imagorpath import parse
from imagor_spark.sources.clips import make_row, synth_pcm, watermark_assets


SR = 16000


def tone(freq=440.0, dur_s=1.0, sr=SR, amp=0.5):
    t = np.arange(int(sr * dur_s)) / sr
    return (amp * np.sin(2 * np.pi * freq * t)).astype(np.float32)


# ------------------------------------------------------------------ codecs


@pytest.mark.parametrize("codec,min_snr", [("wav", 80), ("flac", 80), ("ogg", 60), ("mp3", 60)])
def test_codec_roundtrip(codec, min_snr):
    x = tone()
    blob = codecs.encode(x, SR, codec)
    assert codecs.sniff(blob) == codec
    y, sr, c = codecs.decode(blob)
    assert (sr, c) == (SR, codec)
    assert y.shape == (1, len(x))
    assert kernels.snr_db(x, y[0]) >= min_snr


def test_codec_stereo_roundtrip():
    x = np.stack([tone(440), tone(880)])
    y, sr, _ = codecs.decode(codecs.encode(x, SR, "wav"))
    assert y.shape == x.shape
    assert kernels.snr_db(x, y) >= 80


def test_unknown_codec_falls_back_to_wav():
    # ≅ supportedSaveFormat fallback (process.go:869-875)
    blob = codecs.encode(tone(), SR, "avif")
    assert codecs.sniff(blob) == "wav"


def test_real_bitstream_raises_not_implemented():
    # clearly-marked stub: a real FLAC bitstream is not decodable here
    fake_real = b"fLaC" + b"\x01" + b"\x00" * 200
    with pytest.raises((NotImplementedError, Exception)):
        codecs.decode(fake_real)


def test_quality_knob_changes_size():
    x = tone(dur_s=2.0)
    hi = codecs.encode(x, SR, "ogg", quality=95)
    lo = codecs.encode(x, SR, "ogg", quality=10)
    assert len(lo) < len(hi)


# ---------------------------------------------------------------- geometry


def test_crop_fractional_rule():
    # process.go:612-617: <1 ⇒ fraction of original, >=1 ⇒ absolute ms
    assert kernels.resolve_crop_ms(0.1, 0.8, 1000) == (100.0, 800.0)
    assert kernels.resolve_crop_ms(200, 1500, 1000) == (200.0, 1000.0)  # clamped
    assert kernels.resolve_crop_ms(0.5, 300, 1000) == (500.0, 300.0)[0:1] + (500.0,)


def test_crop_pipeline():
    x = tone(dur_s=2.0)
    p = parse("unsafe/500x0:1500x0/img")
    res = apply_transformations(x, SR, p)
    assert res.pcm.shape[1] == SR  # exactly 1000 ms
    expected = x[kernels.ms_to_samples(500, SR) : kernels.ms_to_samples(1500, SR)]
    assert kernels.snr_db(expected, res.pcm[0]) > 100


def test_trim_silence():
    x = np.concatenate([np.zeros(1000), tone(dur_s=0.5), np.zeros(2000)]).astype(np.float32)
    start, end = kernels.find_trim(x, 1, "top-left")
    assert 990 <= start <= 1010
    assert len(x) - 2010 <= end <= len(x) - 1990
    p = parse("unsafe/trim/img")
    res = apply_transformations(x, SR, p)
    assert res.pcm.shape[1] < len(x) - 2500


def test_trim_intersects_crop():
    # process.go:627-642: manual crop intersects the trim region
    x = np.concatenate([np.zeros(SR), tone(dur_s=1.0), np.zeros(SR)]).astype(np.float32)
    p = parse("unsafe/trim/0x0:1500x0/img")  # crop [0,1500ms) ∩ trim [1000,2000)ms
    res = apply_transformations(x, SR, p)
    # intersection = [1000ms, 1500ms) → 500 ms
    assert abs(res.pcm.shape[1] - SR // 2) < 50


def test_resample_length_contract():
    x = tone(dur_s=1.0)
    y = kernels.resample(x, SR, 8000)
    assert y.shape[1] == 8000  # round(16000 * 8000/16000)
    y2 = kernels.resample(x, SR, 44100)
    assert y2.shape[1] == 44100


def test_fit_in_never_upsamples():
    x = tone(dur_s=1.0, sr=8000)
    p = parse("unsafe/fit-in/16000x0/img")
    res = apply_transformations(x, 8000, p)
    assert res.sr == 8000 and res.pcm.shape[1] == 8000


def test_full_fit_in_covers():
    # ceil guarantee (process.go:686-698)
    x = tone(dur_s=1.0, sr=8000)
    p = parse("unsafe/full-fit-in/16000x0/img")
    res = apply_transformations(x, 8000, p)
    assert res.sr == 16000 and res.pcm.shape[1] == 16000


def test_fit_in_budget_preserves_duration():
    x = tone(dur_s=2.0)  # 32000 samples
    p = parse("unsafe/fit-in/8000x1000/img")  # budget = 8000 samples
    res = apply_transformations(x, SR, p)
    assert res.pcm.shape[1] <= 8000
    dur_ms = res.pcm.shape[1] * 1000 / res.sr
    assert abs(dur_ms - 2000) < 5  # duration preserved


def test_stretch_forces_exact():
    x = tone(dur_s=1.0)
    p = parse("unsafe/stretch/8000x500/img")
    res = apply_transformations(x, SR, p)
    assert res.sr == 8000
    assert res.pcm.shape[1] == kernels.ms_to_samples(500, 8000)


def test_fill_crop_anchors():
    x = tone(dur_s=2.0)
    n_target = SR  # 1000 ms
    left = apply_transformations(x, SR, parse("unsafe/0x1000/left/img"))
    right = apply_transformations(x, SR, parse("unsafe/0x1000/right/img"))
    center = apply_transformations(x, SR, parse("unsafe/0x1000/img"))
    assert left.pcm.shape[1] == right.pcm.shape[1] == center.pcm.shape[1] == n_target
    assert kernels.snr_db(x[:n_target], left.pcm[0]) > 100
    assert kernels.snr_db(x[-n_target:], right.pcm[0]) > 100
    assert kernels.snr_db(x[SR // 2 : SR // 2 + n_target], center.pcm[0]) > 100


def test_fill_pad_when_short():
    x = tone(dur_s=0.5)
    res = apply_transformations(x, SR, parse("unsafe/0x1000/left/img"))
    assert res.pcm.shape[1] == SR
    assert np.allclose(res.pcm[0, SR // 2 :], 0)  # padded after


def test_smart_crop_picks_energy_window():
    # quiet, loud, quiet — smart crop must land on the loud second
    x = np.concatenate([0.01 * tone(dur_s=1.0), tone(880, 1.0), 0.01 * tone(dur_s=1.0)])
    res = apply_transformations(x, SR, parse("unsafe/0x1000/smart/img"))
    assert res.pcm.shape[1] == SR
    assert kernels.rms(res.pcm) > 0.2


def test_focal_window():
    # focal(a:b) spans win over smart (process.go:537-587)
    x = np.concatenate([tone(440, 1.0), tone(880, 1.0), tone(1760, 1.0)])
    res = apply_transformations(x, SR, parse("unsafe/0x1000/smart/filters:focal(2000x0:3000x0)/img"))
    expected = x[2 * SR : 3 * SR]
    assert kernels.snr_db(expected, res.pcm[0]) > 60


def test_flips():
    x = tone(dur_s=0.5)
    h = apply_transformations(x, SR, parse("unsafe/-0x0/img"))
    assert kernels.snr_db(x[::-1], h.pcm[0]) > 100
    v = apply_transformations(x, SR, parse("unsafe/0x-0/img"))
    assert kernels.snr_db(-x, v.pcm[0]) > 100


def test_padding():
    x = tone(dur_s=0.5)
    res = apply_transformations(x, SR, parse("unsafe/fit-in/0x0/100x0:200x0/img"))
    n = res.pcm.shape[1]
    assert n == len(x) + kernels.ms_to_samples(100, SR) + kernels.ms_to_samples(200, SR)
    assert np.allclose(res.pcm[0, : kernels.ms_to_samples(100, SR)], 0)


# ---------------------------------------------------------------- filters


def test_filter_chain_order_sensitive():
    x = tone(dur_s=0.5)
    a = apply_transformations(x, SR, parse("unsafe/filters:gain(-6):normalize(-14)/img"))
    b = apply_transformations(x, SR, parse("unsafe/filters:normalize(-14):gain(-6)/img"))
    # normalize-last lands at -14, gain-last at -20
    assert abs(kernels.rms_db(a.pcm) - (-14)) < 0.2
    assert abs(kernels.rms_db(b.pcm) - (-20)) < 0.2


def test_unknown_filter_silently_skipped():
    # process.go:780-790
    x = tone(dur_s=0.2)
    res = apply_transformations(x, SR, parse("unsafe/filters:nonexistent_filter(3)/img"))
    assert kernels.snr_db(x, res.pcm[0]) > 100


def test_grayscale_downmix():
    x = np.stack([tone(440), tone(880)])
    res = apply_transformations(x, SR, parse("unsafe/filters:grayscale()/img"))
    assert res.pcm.shape[0] == 1
    assert kernels.snr_db(x.mean(axis=0), res.pcm[0]) > 100


def test_lowpass_removes_high_freq():
    x = tone(440) + tone(6000)
    res = apply_transformations(x, SR, parse("unsafe/filters:lowpass(0.25)/img"))
    # 0.25 * nyquist(8000) = 2000 Hz cutoff: 6 kHz tone gone, 440 Hz kept
    spec = np.abs(np.fft.rfft(res.pcm[0].astype(np.float64)))
    freqs = np.fft.rfftfreq(res.pcm.shape[1], 1 / SR)
    assert spec[np.argmin(np.abs(freqs - 6000))] < 0.01 * spec[np.argmin(np.abs(freqs - 440))]


def test_fade_envelope():
    x = np.ones(SR, dtype=np.float32) * 0.5
    res = apply_transformations(x, SR, parse("unsafe/filters:fade(100,200)/img"))
    assert abs(res.pcm[0, 0]) < 1e-3
    assert abs(res.pcm[0, -1]) < 1e-3
    assert abs(res.pcm[0, SR // 2] - 0.5) < 1e-3


def test_pixelate_sample_hold():
    x = tone(dur_s=0.1)
    res = apply_transformations(x, SR, parse("unsafe/filters:pixelate(16)/img"))
    blocks = res.pcm[0][: (len(x) // 16) * 16].reshape(-1, 16)
    assert np.allclose(blocks, blocks[:, :1], atol=1e-6)  # constant within block


def test_watermark_mix_and_repeat():
    x = np.zeros(SR, dtype=np.float32)
    assets = watermark_assets()
    res = apply_transformations(x, SR, parse("unsafe/filters:watermark(beep,repeat,,70)/img"),
                                assets=assets)
    assert kernels.rms(res.pcm) > 0.01  # beep audible across the clip
    # alpha=100 → silent
    res2 = apply_transformations(x, SR, parse("unsafe/filters:watermark(beep,0,,100)/img"),
                                 assets=assets)
    assert kernels.rms(res2.pcm) == 0


def test_page_channel_select():
    x = np.stack([tone(440), tone(880)])
    res = apply_transformations(x, SR, parse("unsafe/filters:page(2)/img"))
    assert res.pcm.shape[0] == 1
    assert kernels.snr_db(x[1], res.pcm[0]) > 100


def test_label_appends_transcript():
    x = tone(dur_s=0.1)
    res = apply_transformations(x, SR, parse("unsafe/filters:label(hello,0,0,12)/img"))
    assert res.transcript_suffix == " [hello s12]"  # size annotation honored
    bare = apply_transformations(x, SR, parse("unsafe/filters:label(hello)/img"))
    assert bare.transcript_suffix == " [hello]"
    pos = apply_transformations(x, SR, parse("unsafe/filters:label(hi,500,0,12)/img"))
    assert pos.transcript_suffix == " [hi@500 s12]"


# ----------------------------------------------------------------- export


def test_format_conversion_end_to_end():
    row = make_row(42, 3)
    p = parse("unsafe/filters:format(flac)/" + row["clip_id"])
    out, meta = process(row["bytes"], p)
    assert codecs.sniff(out) == "flac"
    # SNR invariant vs regenerated source PCM
    src = synth_pcm(42, 3, row["sr_hz"], row["dur_ms"])
    got, sr, _ = codecs.decode(out)
    assert sr == row["sr_hz"]
    assert kernels.snr_db(src, got[0]) >= 30


def test_max_bytes_retry_loop():
    # noise is incompressible at high bit depth, so the quality-retry loop
    # (process.go:144-177) must kick in and shrink the payload
    rng = np.random.Generator(np.random.Philox(1))
    x = (0.5 * rng.normal(0, 0.3, SR * 2)).clip(-1, 1).astype(np.float32)
    blob = codecs.encode(x, SR, "wav")
    p_hi = parse("unsafe/filters:format(ogg)/img")
    out_hi, _ = process(blob, p_hi)
    budget = len(out_hi) // 2
    out, meta = process(blob, parse(f"unsafe/filters:format(ogg):max_bytes({budget})/img"))
    assert len(out) < len(out_hi)


def test_meta_mode():
    row = make_row(42, 9)
    p = parse("unsafe/meta/filters:avgpower():fingerprint()/" + row["clip_id"])
    out, meta = process(row["bytes"], p)
    assert out == b""
    assert meta["sr_hz"] == row["sr_hz"]
    assert "rms_db" in meta and "fingerprint" in meta
    assert len(meta["fingerprint"]) == 4


def test_resolution_bomb_guard():
    # ≅ CheckResolution (processor.go:506-516)
    blob = codecs.encode(np.zeros(100, np.float32), 300_000, "wav")
    with pytest.raises(ValueError, match="resolution bomb|sample"):
        process(blob, parse("unsafe/img"))


def test_export_opts_extraction():
    p = parse("unsafe/filters:format(ogg):quality(40):max_bytes(9000):strip_metadata()/img")
    opts = extract_export_opts(p, "wav")
    assert (opts.codec, opts.quality, opts.max_bytes, opts.strip_metadata) == ("ogg", 40, 9000, True)


def test_snr_invariant_over_ops_corpus():
    """Golden-style sweep: every template in the fixtures ops mix applied to
    deterministic clips matches the eagerly-recomputed oracle (same kernels)
    with SNR >= 30 dB — decode-level comparison per processor_test.go:1444-1465."""
    assets = watermark_assets()
    for idx in range(25):
        row = make_row(42, idx)
        p = parse(row["ops"])
        if not p.unsafe:
            continue
        out, meta = process(row["bytes"], p, assets)
        if p.meta:
            assert meta["sr_hz"] > 0
            continue
        got, sr, codec = codecs.decode(out)
        # oracle: regenerate source, run the same pipeline eagerly
        src = synth_pcm(42, idx, row["sr_hz"], row["dur_ms"])
        src_round, _, _ = codecs.decode(codecs.encode(src, row["sr_hz"], row["codec"]))
        oracle = apply_transformations(src_round, row["sr_hz"], p, assets)
        assert got.shape == oracle.pcm.shape, f"shape mismatch idx={idx} ops={row['ops']}"
        assert kernels.snr_db(oracle.pcm, got) >= 30, f"SNR fail idx={idx} ops={row['ops']}"


# --------------------------------------------- new filter coverage (round 1b)


def test_hue_phase_shift_preserves_energy():
    x = tone(dur_s=0.25)
    res = apply_transformations(x, SR, parse("unsafe/filters:hue(90)/img"))
    assert res.pcm.shape == (1, len(x))
    assert abs(kernels.rms(res.pcm) - kernels.rms(x)) < 0.01  # all-pass
    assert kernels.snr_db(x, res.pcm[0]) < 20  # but waveform changed


def test_saturation_stereo_width():
    x = np.stack([tone(440, 0.2), 0.5 * tone(440, 0.2)])
    wide = apply_transformations(x, SR, parse("unsafe/filters:saturation(2)/img"))
    mono_in = apply_transformations(tone(440, 0.2), SR, parse("unsafe/filters:saturation(2)/img"))
    side_in = np.abs(x[0] - x[1]).mean()
    side_out = np.abs(wide.pcm[0] - wide.pcm[1]).mean()
    assert side_out > side_in * 1.5
    assert mono_in.pcm.shape[0] == 1  # mono passthrough


def test_to_colorspace_and_bitdepth_quantize():
    x = tone(dur_s=0.1)
    r8 = apply_transformations(x, SR, parse("unsafe/filters:bitdepth(8)/img"))
    r16 = apply_transformations(x, SR, parse("unsafe/filters:to_colorspace(int16)/img"))
    assert len(np.unique(r8.pcm)) <= 256
    assert kernels.snr_db(x, r16.pcm[0]) > 60  # 16-bit barely audible
    assert kernels.snr_db(x, r8.pcm[0]) < kernels.snr_db(x, r16.pcm[0])


def test_crop_filter_post_resize():
    # crop() filter applies AFTER resize (filter.go:340-382)
    x = tone(dur_s=2.0)
    res = apply_transformations(
        x, SR, parse("unsafe/fit-in/8000x0/filters:crop(100,0,500,0)/img")
    )
    assert res.sr == 8000
    assert res.pcm.shape[1] == kernels.ms_to_samples(600, 8000) - kernels.ms_to_samples(100, 8000)
    # fractional form
    res2 = apply_transformations(x, SR, parse("unsafe/filters:crop(0.25,0,0.5,0)/img"))
    assert abs(res2.pcm.shape[1] - len(x) // 2) <= 2


def test_detector_and_redact():
    quiet = np.zeros(SR // 2, dtype=np.float32)
    loud = tone(440, 1.0)
    x = np.concatenate([quiet, loud, quiet])
    spans = kernels.detect_energy_spans(x, SR, threshold=0.1)
    assert len(spans) == 1
    s, e = spans[0]
    assert 0.2 < s < 0.3 and 0.7 < e < 0.8  # the middle half (normalized)
    muted = apply_transformations(x, SR, parse("unsafe/filters:redact(mute,10)/img"))
    assert kernels.rms(muted.pcm) < 0.01
    bleeped = apply_transformations(x, SR, parse("unsafe/filters:redact(bleep,10)/img"))
    assert kernels.rms(bleeped.pcm) > 0.05  # tone present, original gone
    spec = np.abs(np.fft.rfft(bleeped.pcm[0, SR:SR + SR // 2].astype(np.float64)))
    freqs = np.fft.rfftfreq(SR // 2, 1 / SR)
    assert spec[np.argmin(np.abs(freqs - 1000))] > spec[np.argmin(np.abs(freqs - 440))]


def test_draw_detections_in_meta():
    quiet = np.zeros(SR // 2, dtype=np.float32)
    x = np.concatenate([quiet, tone(440, 1.0), quiet])
    blob = codecs.encode(x, SR, "wav")
    out, meta = process(blob, parse("unsafe/meta/filters:draw_detections()/img"))
    assert len(meta["detections"]) == 1
    assert meta["detections"][0][0] < 0.3 < 0.7 < meta["detections"][0][1] + 0.1


def test_modulate_three_args():
    """modulate(b,s,h) composite (filter.go:204-214): gain ×(1+b/100) +
    stereo width ×(1+s/100) + phase shift h° — the 3-arg form must NOT
    silently no-op (round-1 regression)."""
    x = np.stack([tone(440, 0.2), 0.5 * tone(440, 0.2)])
    out = apply_transformations(x, SR, parse("unsafe/filters:modulate(50,100,0)/img"))
    # brightness component: amplitude ×1.5
    assert abs(kernels.rms(out.pcm) / kernels.rms(kernels.stereo_width(x * np.float32(1.5), 2.0)) - 1) < 1e-3
    side_in = np.abs(x[0] - x[1]).mean()
    side_out = np.abs(out.pcm[0] - out.pcm[1]).mean()
    assert side_out > side_in * 1.2  # saturation widened the stereo image
    # hue component alone: energy preserved, waveform rotated
    rot = apply_transformations(tone(440, 0.2), SR, parse("unsafe/filters:modulate(0,0,90)/img"))
    assert abs(kernels.rms(rot.pcm) - kernels.rms(tone(440, 0.2))) < 0.01
    assert kernels.snr_db(tone(440, 0.2), rot.pcm[0]) < 20
    # 1-arg form = pure amplitude multiply (NOT dB gain)
    one = apply_transformations(tone(440, 0.2, amp=0.4), SR, parse("unsafe/filters:modulate(25)/img"))
    assert abs(kernels.rms(one.pcm) / kernels.rms(tone(440, 0.2, amp=0.4)) - 1.25) < 1e-3


def test_upscale_gates_fit_in_upsampling():
    """fit-in only upsizes when upscale() is present (process.go:684-705)."""
    x = tone(dur_s=0.5)
    plain = apply_transformations(x, SR, parse("unsafe/fit-in/32000x0/img"))
    assert plain.sr == SR  # contain: never upsample by default
    up = apply_transformations(x, SR, parse("unsafe/fit-in/32000x0/filters:upscale()/img"))
    assert up.sr == 32000
    assert up.pcm.shape[1] == kernels.ms_to_samples(500, 32000)


def test_fill_letterbox_modes():
    """fill() letterboxes fit-in to the requested duration with a pad bed
    (filteroverlay.go:129-211): silence / hum at color level / noise-floor
    'auto' / low-passed 'blur' copy."""
    x = tone(dur_s=1.0)
    # none → silence bed, exact duration, original centered
    none = apply_transformations(x, SR, parse("unsafe/fit-in/16000x2000/filters:fill(none)/img"))
    n_t = kernels.ms_to_samples(2000, SR)
    assert none.pcm.shape[1] == n_t
    lead = none.pcm[:, : (n_t - len(x)) // 2]
    assert kernels.rms(lead) == 0.0
    # white → -26 dBFS hum bed
    white = apply_transformations(x, SR, parse("unsafe/fit-in/16000x2000/filters:fill(white)/img"))
    lead_w = white.pcm[:, : (n_t - len(x)) // 2]
    assert 0.03 < kernels.rms(lead_w) < 0.07
    # blur → low-passed copy: bed energy present but less than the clip's
    blur = apply_transformations(x, SR, parse("unsafe/fit-in/16000x2000/filters:fill(blur)/img"))
    lead_b = blur.pcm[:, : (n_t - len(x)) // 2]
    assert 0.0 < kernels.rms(lead_b) < kernels.rms(x)
    # auto → noise-floor hum (pure tone: floor ≈ tone RMS window min)
    auto = apply_transformations(x, SR, parse("unsafe/fit-in/16000x2000/filters:fill(auto)/img"))
    lead_a = auto.pcm[:, : (n_t - len(x)) // 2]
    assert kernels.rms(lead_a) > 0.0
    # left align → bed goes after the clip
    left = apply_transformations(x, SR, parse("unsafe/fit-in/16000x2000/left/filters:fill(white)/img"))
    assert kernels.rms(left.pcm[:, : len(x)]) > 0.3  # clip first
    assert 0.03 < kernels.rms(left.pcm[:, len(x):]) < 0.07  # bed after


def test_background_color_flattens_silence():
    x = np.concatenate([np.zeros(SR // 4, np.float32), tone(440, 0.5), np.zeros(SR // 4, np.float32)])
    out = apply_transformations(x, SR, parse("unsafe/filters:background_color(white)/img"))
    head = out.pcm[:, : SR // 4]
    assert 0.03 < kernels.rms(head) < 0.07  # silent region now carries the bed
    # the signal region is untouched
    assert kernels.snr_db(x[SR // 4 : SR // 4 + SR // 2], out.pcm[0, SR // 4 : SR // 4 + SR // 2]) > 60
    black = apply_transformations(x, SR, parse("unsafe/filters:background_color(000)/img"))
    assert kernels.rms(black.pcm[:, : SR // 4]) == 0.0


def test_orient_rotates_channels():
    x = np.stack([tone(440, 0.2), 0.2 * tone(880, 0.2)])
    rot = apply_transformations(x, SR, parse("unsafe/filters:rotate(90)/img"))
    assert np.allclose(rot.pcm[0], x[1]) and np.allclose(rot.pcm[1], x[0])
    # 180° on stereo rolls by 2 ≡ identity; mono is a no-op
    same = apply_transformations(x, SR, parse("unsafe/filters:orient(180)/img"))
    assert np.allclose(same.pcm, x)
    mono = apply_transformations(tone(440, 0.1), SR, parse("unsafe/filters:rotate(90)/img"))
    assert mono.pcm.shape[0] == 1


def test_image_nested_subpipeline_and_blends():
    """image(spec,x,y,alpha,blend) renders a FULL nested ops-spec overlay
    (filteroverlay.go:15-64, overlay.go:127-170) and composites with blend
    modes (over/add = mix, multiply = ring-mod, mask = gate)."""
    base = tone(440, 0.5)
    assets = watermark_assets()  # beep @16k, 0.25s

    # plain over == the watermark mix path
    over = apply_transformations(base, SR, parse("unsafe/filters:image(beep,0,0,0)/img"), assets)
    wm = apply_transformations(base, SR, parse("unsafe/filters:watermark(beep,0,0,0)/img"), assets)
    assert np.allclose(over.pcm, wm.pcm)

    # nested sub-pipeline: beep stretched to exactly 500 ms before the mix
    nested = apply_transformations(
        base, SR, parse("unsafe/filters:image(stretch/16000x500/beep,0,0,0)/img"), assets
    )
    assert nested.pcm.shape[1] == len(base)
    assert not np.allclose(nested.pcm, wm.pcm)  # stretched overlay ≠ raw beep
    # eager oracle: render the sub-spec then mix
    sub = apply_transformations(assets["beep"][0], 16000, parse("stretch/16000x500/beep"), assets)
    expect = kernels.mix(base, sub.pcm, 0, 0.0)
    assert kernels.snr_db(expect, nested.pcm) > 60

    # multiply = ring modulation: 440 Hz x 880 Hz beep → energy moves to
    # 440±880 sidebands, the 440 fundamental collapses
    mul = apply_transformations(base, SR, parse("unsafe/filters:image(beep,repeat,0,0,multiply)/img"), assets)
    # repeat+multiply: repeat falls back to mix; use offset 0 over the beep span
    mul = apply_transformations(base, SR, parse("unsafe/filters:image(beep,0,0,0,multiply)/img"), assets)
    n_over = assets["beep"][0].shape[0] if assets["beep"][0].ndim == 1 else assets["beep"][0].shape[1]
    seg = mul.pcm[0, :n_over].astype(np.float64)
    spec = np.abs(np.fft.rfft(seg))
    freqs = np.fft.rfftfreq(len(seg), 1 / SR)
    def bin_at(f):
        return spec[np.argmin(np.abs(freqs - f))]
    assert bin_at(1320) > bin_at(440)  # 440+880 sideband dominates fundamental

    # mask = gate: silent overlay region mutes the base
    gate_overlay = {"gate": (np.concatenate([np.zeros(SR // 8, np.float32), 0.5 * np.ones(SR // 8, np.float32)]), SR)}
    msk = apply_transformations(base, SR, parse("unsafe/filters:image(gate,0,0,0,mask)/img"), gate_overlay)
    assert kernels.rms(msk.pcm[:, : SR // 8]) < 1e-6  # gated to silence
    assert kernels.rms(msk.pcm[:, SR // 8 : SR // 4]) > 0.2  # passes where active

    # bounded depth: self-referencing nested image() terminates
    deep = apply_transformations(
        base, SR,
        parse("unsafe/filters:image(filters:image(filters:image(beep)/beep)/beep)/img"),
        assets,
    )
    assert deep.pcm.shape[1] == len(base)


def test_blend_mode_map_full():
    """All 15 blendModeMap names (overlay.go:154-170) are real mix ops:
    each matches an independently-written formula oracle; alpha=100 is a
    no-op crossfade; unknown names fall back to over semantics."""
    b = kernels._as_2d(tone(440, 0.25))
    o = kernels._as_2d(tone(880, 0.25, amp=0.3))
    ab, ao = np.abs(b), np.abs(o)
    sg = np.where(b >= 0, 1.0, -1.0)
    eps = 1e-6
    oracles = {
        "screen": sg * (1 - (1 - ab) * (1 - ao)),
        "darken": np.where(ao < ab, o, b),
        "lighten": np.where(ao > ab, o, b),
        "difference": b - o,
        "exclusion": b + o - 2 * b * o,
        "color-dodge": sg * np.minimum(ab / np.maximum(1 - ao, eps), 1.0),
        "color-burn": sg * (1 - np.minimum((1 - ab) / np.maximum(ao, eps), 1.0)),
        "overlay": sg * np.where(ab < 0.5, 2 * ab * ao, 1 - 2 * (1 - ab) * (1 - ao)),
        "hard-light": sg * np.where(ao < 0.5, 2 * ab * ao, 1 - 2 * (1 - ab) * (1 - ao)),
        "soft-light": sg * ((1 - 2 * ao) * ab * ab + 2 * ao * ab),
        "multiply": b * o,
        "mask": b * (ao > 0.01),
        "mask-out": b * (ao <= 0.01),
    }
    for mode, expect in oracles.items():
        out = kernels.blend_overlay(b, o, 0, 0.0, mode)
        expect = np.clip(expect, -1.0, 1.0).astype(np.float32)
        assert kernels.snr_db(expect, out) > 60, mode
        # alpha=100 → dry signal untouched
        dry = kernels.blend_overlay(b, o, 0, 100.0, mode)
        assert np.allclose(dry, b), mode
    # normal/add/over route through mix; unknown name falls back to over
    assert np.allclose(
        kernels.blend_overlay(b, o, 0, 0.0, "normal"), kernels.mix(b, o, 0, 0.0)
    )
    assert np.allclose(
        kernels.blend_overlay(b, o, 0, 0.0, "no-such-mode"), kernels.mix(b, o, 0, 0.0)
    )


def test_image_repeat_composes_with_blend():
    """image(spec,repeat,0,a,blend) must loop-tile AND apply the blend —
    previously the repeat path silently fell back to over semantics."""
    base = tone(440, 0.5)
    assets = watermark_assets()  # beep @16k, 0.25 s
    rep_mul = apply_transformations(
        base, SR, parse("unsafe/filters:image(beep,repeat,0,0,multiply)/img"), assets
    )
    rep_over = apply_transformations(
        base, SR, parse("unsafe/filters:image(beep,repeat,0,0)/img"), assets
    )
    assert not np.allclose(rep_mul.pcm, rep_over.pcm)  # blend no longer lost
    # oracle: tiled multiply via blend_overlay's repeat
    expect = kernels.blend_overlay(base, assets["beep"][0], 0, 0.0, "multiply", repeat=True)
    assert kernels.snr_db(expect, rep_mul.pcm) > 60
    # and the tiling actually covers past the first overlay length:
    # the second 0.25 s window is ring-modulated too (energy at sidebands)
    n_over = len(assets["beep"][0])
    seg = rep_mul.pcm[0, n_over : 2 * n_over].astype(np.float64)
    spec = np.abs(np.fft.rfft(seg))
    freqs = np.fft.rfftfreq(len(seg), 1 / SR)
    assert spec[np.argmin(np.abs(freqs - 1320))] > spec[np.argmin(np.abs(freqs - 440))]


def test_strip_metadata_effect():
    """strip_metadata() must actually strip (process.go:884-992 opts.Keep):
    filter-emitted meta tags vanish and the transcript carry is nulled."""
    x = tone(dur_s=0.2)
    blob = codecs.encode(x, SR, "wav")
    _, meta = process(blob, parse("unsafe/meta/filters:avgpower():fingerprint()/img"))
    assert "rms" in meta and "fingerprint" in meta
    _, stripped = process(
        blob, parse("unsafe/meta/filters:avgpower():fingerprint():strip_metadata()/img")
    )
    assert "rms" not in stripped and "fingerprint" not in stripped
    assert stripped["_strip_transcript"] is True
    assert stripped["sr_hz"] == SR  # structural fields survive


def test_shrink_on_load_bit_exact():
    """Shrink-on-load (process.go:325-507 analogue): when the predicate
    allows it and stride exactness holds, process() decodes WAV directly at
    the target rate and the output is BIT-IDENTICAL to full-decode +
    resample."""
    sr = 48000
    x = tone(220, 1.0, sr=sr)  # 48000 samples, divisible by 3
    blob = codecs.encode(x, sr, "wav")
    p = parse("unsafe/fit-in/16000x0/img")
    # decoder-side: strided decode equals full decode + resample exactly
    dec, dsr, _ = codecs.decode(blob, target_sr=16000)
    full, fsr, _ = codecs.decode(blob)
    assert dsr == 16000 and dec.shape[1] == 16000
    assert np.array_equal(dec, kernels.resample(full, fsr, 16000))
    # end-to-end: process() output identical with and without the fast path
    out, meta = process(blob, p)
    oracle = apply_transformations(full, fsr, p)
    got, gsr, _ = codecs.decode(out)
    assert gsr == oracle.sr
    assert np.array_equal(got, codecs.decode(codecs.encode(oracle.pcm, oracle.sr, "wav"))[0])
    # non-divisible length falls back to the exact slow path
    y = tone(220, 1.0, sr=44100)
    blob2 = codecs.encode(y, 44100, "wav")
    dec2, dsr2, _ = codecs.decode(blob2, target_sr=16000)
    assert dsr2 == 44100  # 44100 % 16000 != 0 → full decode
    out2, _ = process(blob2, p)
    oracle2 = apply_transformations(dec2, 44100, p)
    assert np.array_equal(codecs.decode(out2)[0], codecs.decode(codecs.encode(oracle2.pcm, oracle2.sr, "wav"))[0])


def test_shrink_predicate_analysis():
    """The thumbnailNotSupported-style flag analysis: orig-timeline ops
    disable the decoder-side downsample."""
    from imagor_spark.audio.apply import shrink_target_sr

    assert shrink_target_sr(parse("unsafe/fit-in/16000x0/i"), 48000) == 16000
    assert shrink_target_sr(parse("unsafe/stretch/8000x500/i"), 48000) == 8000
    assert shrink_target_sr(parse("unsafe/16000x500/smart/i"), 48000) == 16000
    assert shrink_target_sr(parse("unsafe/trim/fit-in/16000x0/i"), 48000) is None
    assert shrink_target_sr(parse("unsafe/100x0:900x0/fit-in/16000x0/i"), 48000) is None
    assert shrink_target_sr(parse("unsafe/full-fit-in/16000x0/i"), 48000) is None
    assert shrink_target_sr(parse("unsafe/fit-in/96000x0/i"), 48000) is None  # upsample
    assert shrink_target_sr(parse("unsafe/i"), 48000) is None  # no resize


def test_decoded_source_cache_and_bypass():
    """Executor-local decoded-source cache (≅ cache.go:37-163): identical
    payloads decode once; HasCacheBypass ops (crop/trim plane) never read
    or populate it; cached hits produce identical output."""
    from imagor_spark.audio.apply import DecodeCache

    x = tone(440, 0.5)
    blob = codecs.encode(x, SR, "wav")
    cache = DecodeCache()
    p = parse("unsafe/fit-in/8000x0/img")
    out1, _ = process(blob, p, decode_cache=cache)
    assert len(cache) == 1
    calls = {"n": 0}
    orig = codecs.decode

    def counting(b, target_sr=None):
        calls["n"] += 1
        return orig(b, target_sr=target_sr)

    codecs.decode = counting
    try:
        out2, _ = process(blob, p, decode_cache=cache)
        assert calls["n"] == 0  # cache hit: no decode
        assert out2 == out1
        # bypassing ops (manual crop ⇒ HasCacheBypass) skip the cache
        pc = parse("unsafe/100x0:400x0/img")
        process(blob, pc, decode_cache=cache)
        assert calls["n"] == 1 and len(cache) == 1
    finally:
        codecs.decode = orig


def test_decode_cache_byte_budget():
    """DecodeCache evicts on cumulative PCM bytes (≅ ristretto MaxCacheMem,
    cache.go:37-163), not entry count: a few large entries must trigger
    eviction, oldest first, and an oversized single payload is never
    admitted."""
    from imagor_spark.audio.apply import DecodeCache

    p = parse("unsafe/fit-in/8000x0/img")
    blobs = [codecs.encode(tone(440 + 10 * i, 1.0), SR, "wav") for i in range(5)]
    # probe the per-entry cached size (shrink-on-load may decode below SR)
    probe = DecodeCache()
    process(blobs[0], p, decode_cache=probe)
    enb = next(iter(probe.values()))[0].nbytes
    cache = DecodeCache(max_bytes=int(3.5 * enb), entry_cap=2 * enb)
    for b in blobs:
        process(b, p, decode_cache=cache)
    # 5 admissions × 64 KB against a 3.5-entry byte budget → oldest evicted
    assert len(cache) == 3
    assert cache.nbytes <= cache.max_bytes
    # newest three survive: re-processing blob 0 must decode again
    calls = {"n": 0}
    orig = codecs.decode

    def counting(b, target_sr=None):
        calls["n"] += 1
        return orig(b, target_sr=target_sr)

    codecs.decode = counting
    try:
        process(blobs[0], p, decode_cache=cache)
        assert calls["n"] == 1
        process(blobs[4], p, decode_cache=cache)  # newest: still cached
        assert calls["n"] == 1
    finally:
        codecs.decode = orig
    # oversized payload (> entry_cap) is never admitted
    big = codecs.encode(tone(220, 3.0), SR, "wav")  # 3 s ≈ 192 KB > 128 KB cap
    n_before, nbytes_before = len(cache), cache.nbytes
    process(big, p, decode_cache=cache)
    assert (len(cache), cache.nbytes) == (n_before, nbytes_before)
    assert all(v[0].nbytes <= cache.entry_cap for v in cache.values())


def test_watermark_ratio_resize():
    """watermark(asset,x,y,alpha,w%) scales the overlay to w% of the base
    duration before the mix (the reference's ratio resize against parent
    dims, filteroverlay.go:66-127)."""
    base = tone(440, 1.0)
    assets = watermark_assets()  # beep: 0.25 s @ 16 kHz
    half = apply_transformations(base, SR, parse("unsafe/filters:watermark(beep,0,0,0,50)/img"), assets)
    plain = apply_transformations(base, SR, parse("unsafe/filters:watermark(beep,0,0,0)/img"), assets)
    n_beep = assets["beep"][0].shape[0]
    # plain: overlay ends at 0.25 s; scaled: audible through 0.5 s
    seg = slice(int(0.3 * SR), int(0.45 * SR))
    assert not np.allclose(half.pcm[0, seg], base[seg])  # overlay present
    assert np.allclose(plain.pcm[0, seg], base[seg])  # plain overlay ended
    assert half.pcm.shape[1] == len(base)


def test_attachment_disposition():
    """attachment() hoisted like the reference (imagor.go:312-338,927-946):
    Content-Disposition analogue in meta — explicit filename, derived
    filename + output-codec extension, quote escaping, and survival under
    strip_metadata (it is response plumbing, not embedded metadata)."""
    from imagor_spark.audio.apply import ExportOpts, content_disposition

    pcm = synth_pcm(1, 1, 8000, 300)
    blob = codecs.encode(pcm, 8000, "wav")
    _, meta = process(blob, parse("unsafe/filters:attachment(my_talk.wav)/clip1"))
    assert meta["disposition"] == 'attachment; filename="my_talk.wav"'
    # no arg → base name of the image path + extension of the output codec
    _, meta = process(blob, parse("unsafe/filters:attachment():format(flac)/some/dir/clip7"))
    assert meta["disposition"] == 'attachment; filename="clip7.flac"'
    # double quotes escape as %22 (imagor.go:1078) — backslashes pass through
    opts = ExportOpts(codec="wav", attachment='a"b\\c.wav')
    assert content_disposition(parse("unsafe/x"), opts) == (
        'attachment; filename="a%22b\\c.wav"'
    )
    # the output extension is ALWAYS trim-suffix+appended (imagor.go:1081-1084):
    # a name carrying a DIFFERENT extension gains the output one
    opts = ExportOpts(codec="flac", attachment="song.wav")
    assert content_disposition(parse("unsafe/x"), opts) == (
        'attachment; filename="song.wav.flac"'
    )
    # survives strip_metadata; absent entirely without the filter
    _, meta = process(blob, parse("unsafe/filters:attachment():strip_metadata()/clip9"))
    assert "disposition" in meta
    _, meta = process(blob, parse("unsafe/clip10"))
    assert "disposition" not in meta


def test_attachment_meta_column_through_transform(spark):
    """The disposition analogue reaches the engine's meta COLUMN even for
    payload (non-meta) renders — one JSON field, empty otherwise."""
    import json

    import pandas as pd

    from imagor_spark.engine.transform import transform
    from imagor_spark.sources.clips import CLIPS_SCHEMA

    row = make_row(42, 3, "unsafe")
    out_ext = codecs.supported_save_codec(row["codec"])  # source codec passes through
    plain = dict(row)
    att = dict(row)
    att["clip_id"] = "att0001"
    att["ops"] = "unsafe/filters:attachment(take.wav)/" + row["clip_id"]
    df = spark.createDataFrame(pd.DataFrame([plain, att]), schema=CLIPS_SCHEMA)
    out = {r["clip_id"]: r for r in transform(df, secret=None).collect()}
    assert out[row["clip_id"]]["meta"] == ""
    # the OUTPUT extension is appended per imagor.go:1081-1084
    assert json.loads(out["att0001"]["meta"]) == {
        "disposition": f'attachment; filename="take.wav.{out_ext}"'
    }
    assert out["att0001"]["status"] == "ok"  # still a payload render


def test_flac_standin_discriminator():
    """The stand-in/real-FLAC container discriminator: stand-in payloads
    are positively identified; real FLAC headers (byte 4 = STREAMINFO
    block header) are not — so the soundfile route, when available, only
    ever sees real bitstreams."""
    from imagor_spark.audio.codecs import _is_standin_flac

    pcm = synth_pcm(1, 2, 8000, 250)
    standin = codecs.encode(pcm, 8000, "flac")
    assert _is_standin_flac(standin)
    # minimal real-FLAC prefix: fLaC + last-block STREAMINFO header (0x80)
    real_prefix = b"fLaC" + bytes([0x80, 0x00, 0x00, 0x22]) + b"\x00" * 34
    assert not _is_standin_flac(real_prefix)
    assert codecs.sniff(real_prefix) == "flac"
    # without soundfile, a real bitstream must raise the documented stub
    if not codecs.HAVE_SOUNDFILE:
        with pytest.raises((NotImplementedError, ValueError)):
            codecs.decode(real_prefix)


@pytest.mark.skipif(not codecs.HAVE_SOUNDFILE, reason="soundfile not installed")
def test_flac_real_codec_roundtrip():
    """With soundfile present, FLAC encode/decode is a REAL lossless
    bitstream: round trip preserves shape/rate and SNR >= 30 dB."""
    pcm = synth_pcm(1, 3, 16000, 500)
    blob = codecs.encode(pcm, 16000, "flac")
    assert codecs.sniff(blob) == "flac"
    assert not codecs.__dict__["_is_standin_flac"](blob)
    out, sr, codec = codecs.decode(blob)
    assert codec == "flac" and sr == 16000
    assert out.shape[1] == len(pcm)
    noise = out[0] - pcm
    snr = 10 * np.log10(np.sum(pcm**2) / max(np.sum(noise**2), 1e-20))
    assert snr >= 30


def test_ogg_standin_vs_real_discriminator():
    """Stand-in OGG (version byte 1) vs a real Ogg page (byte 4 =
    stream_structure_version = 0x00): existing stand-in payloads must keep
    decoding whether or not soundfile is importable."""
    from imagor_spark.audio.codecs import _is_standin_ogg

    pcm = synth_pcm(1, 5, 8000, 300)
    standin = codecs._encode_standin(codecs._MAGIC_OGG, pcm, 8000, 12, compress=True)
    assert _is_standin_ogg(standin)
    out, sr = codecs._decode_standin(standin, codecs._MAGIC_OGG, compress=True)
    assert sr == 8000 and out.shape[1] == len(pcm)
    # minimal real-Ogg page prefix: OggS + version 0 + header_type + granule
    real_prefix = b"OggS" + b"\x00" * 23
    assert not _is_standin_ogg(real_prefix)
    assert codecs.sniff(real_prefix) == "ogg"
    if not codecs.HAVE_SOUNDFILE:
        with pytest.raises((NotImplementedError, ValueError)):
            codecs.decode(real_prefix)


@pytest.mark.skipif(not codecs.HAVE_SOUNDFILE, reason="soundfile not installed")
def test_ogg_real_codec_roundtrip():
    """With soundfile present (libsndfile ≥ 1.0.18 ships Vorbis), OGG
    encode/decode is a REAL lossy bitstream: round trip preserves
    shape/rate with tolerable quantization noise."""
    pcm = synth_pcm(1, 6, 16000, 500)
    blob = codecs.encode(pcm, 16000, "ogg")
    assert codecs.sniff(blob) == "ogg"
    assert not codecs.__dict__["_is_standin_ogg"](blob)
    out, sr, codec = codecs.decode(blob)
    assert codec == "ogg" and sr == 16000
    # vorbis may pad a few frames; compare the overlapping region
    n = min(out.shape[1], len(pcm))
    noise = out[0, :n] - pcm[:n]
    snr = 10 * np.log10(np.sum(pcm[:n] ** 2) / max(np.sum(noise**2), 1e-20))
    assert snr >= 10  # lossy codec at default quality


def test_mp3_standin_vs_real_discriminator():
    """Stand-in MP3 (magic ``ID3\\x04`` + version tag 1 at byte 4) vs real
    MPEG streams: an ID3v2.4 header carries revision 0x00 at byte 4, an
    ID3v2.3 header never matches the stand-in magic, and a bare frame-sync
    stream starts 0xFFEx — existing stand-in payloads keep decoding whether
    or not an MP3-capable libsndfile is importable."""
    from imagor_spark.audio.codecs import _is_standin_mp3, _soundfile_mp3

    pcm = synth_pcm(1, 7, 8000, 300)
    standin = codecs._encode_standin(codecs._MAGIC_MP3, pcm, 8000, 12, compress=True)
    assert _is_standin_mp3(standin)
    out, sr = codecs._decode_standin(standin, codecs._MAGIC_MP3, compress=True)
    assert sr == 8000 and out.shape[1] == len(pcm)
    # real ID3v2.4 prefix: "ID3" + major 4 + REVISION 0 + flags + size
    real_24 = b"ID3\x04\x00\x00\x00\x00\x02\x01" + b"\x00" * 32
    assert not _is_standin_mp3(real_24)
    assert codecs.sniff(real_24) == "mp3"
    # ID3v2.3 and bare frame-sync sniff as mp3 but are never stand-ins
    assert codecs.sniff(b"ID3\x03\x00" + b"\x00" * 16) == "mp3"
    assert codecs.sniff(b"\xff\xfb\x90\x00" + b"\x00" * 16) == "mp3"
    assert not _is_standin_mp3(b"\xff\xfb\x90\x00" + b"\x00" * 16)
    if not _soundfile_mp3():
        with pytest.raises((NotImplementedError, ValueError)):
            codecs.decode(real_24)


@pytest.mark.skipif(
    not codecs.HAVE_SOUNDFILE or not codecs._soundfile_mp3(),
    reason="MP3-capable libsndfile not installed",
)
def test_mp3_real_codec_roundtrip():
    """With an MPEG-capable libsndfile (≥ 1.1.0), mp3 encode/decode is a
    REAL lossy bitstream: round trip preserves shape/rate with tolerable
    quantization noise."""
    pcm = synth_pcm(1, 8, 16000, 500)
    blob = codecs.encode(pcm, 16000, "mp3")
    assert codecs.sniff(blob) == "mp3"
    assert not codecs.__dict__["_is_standin_mp3"](blob)
    out, sr, codec = codecs.decode(blob)
    assert codec == "mp3" and sr == 16000
    # the encoder may pad frames; compare the overlapping region
    n = min(out.shape[1], len(pcm))
    noise = out[0, :n] - pcm[:n]
    snr = 10 * np.log10(np.sum(pcm[:n] ** 2) / max(np.sum(noise**2), 1e-20))
    assert snr >= 10
