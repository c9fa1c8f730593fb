"""The ordered per-row transform pipeline: Params → PCM ops → encode opts.

Mirrors the reference's ``loadAndProcess``/``applyTransformations`` fixed
order (/root/reference/processor/vipsprocessor/process.go:274-798):

    crop ∩ trim  →  resize (fit-in | full-fit-in | stretch | fill-crop,
    smart/focal aware)  →  flips  →  ordered filter chain  →  export.

This module is pure Python+numpy — it is executed inside the Spark
``mapInPandas`` stage AND eagerly as the pytest oracle, so Spark results and
oracle results come from the same semantics by construction; Spark-vs-oracle
tests then pin the *plumbing* (Arrow round-trip, batching, schema), while
kernel-level tests in ``tests/test_audio.py`` pin the math itself.

Audio semantics of the imagor grammar (SURVEY §1.3/§2.2):
  - time axis ≅ image X; ``W`` in ``WxH`` = target sample rate (Hz),
    ``H`` = target duration (ms); 0 = unconstrained (imagor's 0-dim rule)
  - crop ``AxB:CxD`` → time slice [A, C) ms; <1 ⇒ fraction of duration
    (process.go:612-617); the degenerate Y coords (B, D) are ignored
  - trim → silence trim, anchor per trim_by (process.go:627-642)
  - fill-crop (default) → resample to W then cut/pad to H ms anchored by
    h_align; ``smart`` picks the max-RMS window, ``focal(a:b)`` spans win
  - fit-in → never upsample: cap sr at W; with H>0 also cap the total
    sample budget W*H/1000 by lowering sr (duration preserved)
  - full-fit-in → cover: sr raised to at least W (ceil guarantee,
    process.go:686-698)
  - adaptive-(full-)fit-in → swap W/H when the request orientation
    disagrees with the source (process.go:662-668): here "orientation"
    is whether sr-per-ms exceeds 1k samples/ms × aspect; degenerate for
    audio, applied only when both W and H are set
  - stretch → force exact: sr := W and duration := H (SizeForce)
  - ``-W``/``-H`` flips → time reversal / polarity inversion
  - padding ``GxH:IxJ`` → G=leading silence ms, I=trailing silence ms
    (the Y paddings H/J are accepted and ignored)
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import numpy as np

from ..imagorpath import Params, has_cache_bypass, parse, split_args
from . import codecs, kernels

# ≅ vips processor limits (processor.go:70-73): MaxResolution 81e6 pixels
# → max total samples per clip; MaxWidth/MaxHeight 9999 → sr/dur caps.
MAX_SAMPLES = 81_000_000
MAX_SR_HZ = 192_000
MAX_DUR_MS = 3_600_000
MAX_FILTER_OPS = 64  # ≅ MaxFilterOps cap (process.go:761-796)
# byte budget per Python worker process — the reference cache is memory-
# bounded (ristretto MaxCacheMem, cache.go:37-163), not entry-bounded:
# 128 entries × up to MAX_SAMPLES float32 samples is tens of GB unbounded
DECODE_CACHE_MAX_BYTES = 256 * 1024 * 1024
DECODE_CACHE_ENTRY_CAP_BYTES = 32 * 1024 * 1024  # oversized PCM never admitted


class DecodeCache(dict):
    """Byte-budgeted decoded-source cache (≅ ristretto's byte budget,
    cache.go:37-163): insertion-ordered dict of
    ``(payload-md5, shrink-target) → (pcm, sr, codec)`` whose eviction is
    driven by cumulative ``pcm.nbytes`` against ``max_bytes``, oldest first.
    Payloads above ``entry_cap`` bypass admission entirely so one giant clip
    cannot monopolize (or repeatedly flush) the budget."""

    def __init__(
        self,
        max_bytes: int = DECODE_CACHE_MAX_BYTES,
        entry_cap: int = DECODE_CACHE_ENTRY_CAP_BYTES,
    ):
        super().__init__()
        self.max_bytes = max_bytes
        self.entry_cap = min(entry_cap, max_bytes)
        self.nbytes = 0

    def admit(self, key, value) -> None:
        nb = int(value[0].nbytes)
        if nb > self.entry_cap or key in self:
            return
        self[key] = value
        self.nbytes += nb
        while self.nbytes > self.max_bytes and len(self) > 1:
            evicted = self.pop(next(iter(self)))
            self.nbytes -= int(evicted[0].nbytes)


@dataclass
class ExportOpts:
    """≅ extractExportParams (process.go:187-258)."""

    codec: str = ""  # format() target; "" = keep source codec
    quality: int | None = None
    max_bytes: int = 0
    strip_metadata: bool = False
    # attachment(filename) hoisted like the reference (imagor.go:312-338):
    # None = no attachment filter; "" = present with derived filename
    attachment: str | None = None


@dataclass
class TransformResult:
    pcm: np.ndarray = field(default_factory=lambda: np.zeros((1, 0), np.float32))
    sr: int = 0
    out_codec: str = ""
    meta: dict = field(default_factory=dict)
    transcript_suffix: str = ""  # label()/text() analogue appends here
    request: Params | None = None  # the driving Params (fill/image need W/H)
    depth: int = 0  # overlay nesting depth (image() recursion guard)


def _f(s: str, default: float = 0.0) -> float:
    try:
        return float(s)
    except (TypeError, ValueError):
        return default


def _i(s: str, default: int = 0) -> int:
    try:
        return int(float(s))
    except (TypeError, ValueError):
        return default


def extract_export_opts(p: Params, source_codec: str) -> ExportOpts:
    """Scan the filter chain for encoder options (process.go:187-258)."""
    opts = ExportOpts()
    for flt in p.filters:
        if flt.name == "format":
            opts.codec = codecs.supported_save_codec(flt.args)
        elif flt.name == "autojpg":
            opts.codec = codecs.CODEC_WAV  # force-wav ≅ force-JPEG
        elif flt.name == "quality":
            opts.quality = _i(flt.args, 75)
        elif flt.name == "max_bytes":
            opts.max_bytes = _i(flt.args, 0)
        elif flt.name in ("strip_metadata", "strip_exif", "strip_icc"):
            opts.strip_metadata = True
        elif flt.name == "attachment":
            opts.attachment = flt.args or ""
    if not opts.codec:
        opts.codec = codecs.supported_save_codec(source_codec)
    return opts


def content_disposition(p: Params, opts: ExportOpts) -> str:
    """Content-Disposition analogue for attachment() — byte-identical with
    getContentDisposition (imagor.go:1071-1087): filename = the filter arg,
    else the base name of the source image path; double quotes escape as
    %22; the OUTPUT extension is always trim-suffixed then appended, so
    ``attachment(song.wav)`` + ``format(flac)`` → ``song.wav.flac`` while
    ``attachment(song.flac)`` stays ``song.flac``."""
    name = opts.attachment or (p.image or "").rsplit("/", 1)[-1]
    name = name.replace('"', "%22")
    if opts.codec:
        ext = "." + opts.codec
        name = name.removesuffix(ext) + ext
    return f'attachment; filename="{name}"'


def _parse_focal_spans(args: str, dur_ms: float, sr: int) -> list[tuple[float, float]]:
    """focal(AxB:CxD) → time spans in samples; fractional < 1 ⇒ fraction of
    duration (≅ parseFocalPoint, process.go:537-587, 1007-1018)."""
    spans = []
    try:
        left_part, right_part = args.split(":", 1)
        a = _f(left_part.split("x")[0])
        c = _f(right_part.split("x")[0])
        t0, t1 = kernels.resolve_crop_ms(a, c, dur_ms)
        spans.append((t0 * sr / 1000.0, t1 * sr / 1000.0))
    except (ValueError, IndexError):
        pass
    return spans


MAX_OVERLAY_DEPTH = 2  # bounded image() nesting (≅ the reference resolves
# one overlay layer per filter; we allow one level of sub-pipeline nesting)


def apply_transformations(
    pcm: np.ndarray,
    sr: int,
    p: Params,
    assets: dict[str, tuple[np.ndarray, int]] | None = None,
    depth: int = 0,
) -> TransformResult:
    """The fixed-order transform pipeline (process.go:596-798)."""
    pcm = kernels._as_2d(pcm)
    res = TransformResult()
    res.request = p
    res.depth = depth

    # ---- crop ∩ trim against the original timeline (process.go:607-649)
    n0 = pcm.shape[1]
    dur0_ms = n0 * 1000.0 / sr if sr else 0.0
    start, end = 0, n0
    if p.trim:
        t_start, t_end = kernels.find_trim(pcm, p.trim_tolerance, p.trim_by)
        start, end = max(start, t_start), min(end, t_end)
    if p.crop_left > 0 or p.crop_top > 0 or p.crop_right > 0 or p.crop_bottom > 0:
        t0, t1 = kernels.resolve_crop_ms(p.crop_left, p.crop_right, dur0_ms)
        c_start = kernels.ms_to_samples(t0, sr)
        c_end = kernels.ms_to_samples(t1, sr)
        # intersect with trim region (process.go:627-642)
        start, end = max(start, c_start), min(end, c_end)
    if start > 0 or end < n0:
        pcm = kernels.crop_samples(pcm, start, end)

    # focal spans are recorded against the ORIGINAL timeline, shifted by crop
    focal_spans: list[tuple[float, float]] = []
    for flt in p.filters:
        if flt.name == "focal":
            for s0, s1 in _parse_focal_spans(flt.args, dur0_ms, sr):
                focal_spans.append((max(s0 - start, 0.0), max(s1 - start, 0.0)))

    # ---- resize plane (process.go:662-749)
    w, h = p.width, p.height
    if p.fit_in and p.adaptive_fit_in and w > 0 and h > 0:
        # swap W/H when request orientation disagrees with source
        # (process.go:662-668); "orientation" for audio: landscape ⇔
        # sr (Hz) >= dur (ms), mirroring width>=height
        cur_dur_ms = pcm.shape[1] * 1000.0 / max(sr, 1)
        src_landscape = sr >= cur_dur_ms
        req_landscape = w >= h
        if src_landscape != req_landscape:
            w, h = h, w
    if p.stretch:
        # SizeForce: exact sr AND exact duration (process.go:706-713)
        if w > 0 and w != sr:
            pcm = kernels.resample(pcm, sr, w)
            sr = w
        if h > 0:
            pcm = kernels.stretch_to_samples(pcm, kernels.ms_to_samples(h, sr))
    elif p.fit_in:
        if p.full_fit_in:
            # cover: guarantee at least the box (math.Ceil, process.go:686-698)
            if w > 0 and sr < w:
                pcm = kernels.resample(pcm, sr, w)
                sr = w
        else:
            # contain: never upsample — UNLESS the upscale() filter is
            # present (process.go:684-705 + the Upscale param: fit-in only
            # upsizes when explicitly asked)
            if w > 0 and sr < w and any(f.name == "upscale" for f in p.filters):
                pcm = kernels.resample(pcm, sr, w)
                sr = w
            if w > 0 and sr > w:
                pcm = kernels.resample(pcm, sr, w)
                sr = w
            if w > 0 and h > 0:
                budget = int(w * h / 1000.0)
                if budget > 0 and pcm.shape[1] > budget:
                    sr2 = max(1, int(budget * sr / pcm.shape[1]))
                    pcm = kernels.resample(pcm, sr, sr2)
                    sr = sr2
    elif w > 0 or h > 0:
        # default fill-crop (process.go:714-749)
        if w > 0 and w != sr:
            scale = w / sr
            focal_spans = [(s0 * scale, s1 * scale) for s0, s1 in focal_spans]
            pcm = kernels.resample(pcm, sr, w)
            sr = w
        if h > 0:
            n_target = kernels.ms_to_samples(h, sr)
            smart_start = None
            if focal_spans:
                smart_start = kernels.focal_window_start(focal_spans, pcm.shape[1], n_target)
            elif p.smart:
                smart_start = kernels.smart_window_start(pcm, n_target)
            pcm = kernels.cut_or_pad(pcm, n_target, p.h_align, smart_start)

    # ---- padding (filteroverlay.go:129-211 embed analogue)
    if p.padding_left > 0 or p.padding_right > 0:
        pcm = kernels.pad(
            pcm,
            kernels.ms_to_samples(p.padding_left, sr),
            kernels.ms_to_samples(p.padding_right, sr),
        )

    # ---- flips (process.go:751-760)
    if p.h_flip:
        pcm = kernels.reverse(pcm)
    if p.v_flip:
        pcm = kernels.invert_polarity(pcm)

    # ---- ordered filter chain (process.go:761-796); unknown names skipped
    # silently (dispatch only when fn registered, process.go:780-790)
    meta: dict = {}
    n_ops = 0
    for flt in p.filters:
        if n_ops >= MAX_FILTER_OPS:
            break
        fn = FILTER_MAP.get(flt.name)
        if fn is None:
            continue
        n_ops += 1
        pcm, sr = fn(pcm, sr, flt.args, assets or {}, meta, res)

    res.pcm = np.ascontiguousarray(pcm, dtype=np.float32)
    res.sr = int(sr)
    res.meta = meta
    return res


# ---------------------------------------------------------------------------
# FilterMap — ≅ processor/vipsprocessor/processor.go:83-111 registration.
# Each entry: (pcm, sr, args, assets, meta, res) -> (pcm, sr).
# ---------------------------------------------------------------------------


def _flt_normalize(pcm, sr, args, assets, meta, res):
    return kernels.normalize_rms(pcm, _f(args, -14.0)), sr


def _flt_gain(pcm, sr, args, assets, meta, res):
    return kernels.gain_db(pcm, _f(args)), sr


def _flt_brightness(pcm, sr, args, assets, meta, res):
    return kernels.brightness(pcm, _f(args)), sr


def _flt_contrast(pcm, sr, args, assets, meta, res):
    return kernels.contrast(pcm, _f(args)), sr


def _flt_grayscale(pcm, sr, args, assets, meta, res):
    return kernels.grayscale(pcm), sr


def _flt_rgb(pcm, sr, args, assets, meta, res):
    gains = [_f(a) for a in split_args(args)]
    return kernels.channel_gains(pcm, gains), sr


def _flt_blur(pcm, sr, args, assets, meta, res):
    parts = split_args(args)
    radius = _f(parts[0]) if parts else 1.0
    sigma = _f(parts[1]) if len(parts) > 1 else radius / 2.0  # filter.go:216-235
    return kernels.gaussian_lowpass(pcm, max(sigma, 0.01), sr), sr


def _flt_lowpass(pcm, sr, args, assets, meta, res):
    return kernels.lowpass_fft(pcm, max(0.0, min(1.0, _f(args, 0.5)))), sr


def _flt_sharpen(pcm, sr, args, assets, meta, res):
    return kernels.sharpen(pcm, _f(args, 1.0), sr), sr


def _flt_pixelate(pcm, sr, args, assets, meta, res):
    return kernels.pixelate(pcm, _i(args, 1)), sr


def _flt_round_corner(pcm, sr, args, assets, meta, res):
    parts = split_args(args)
    rx = _f(parts[0]) if parts else 0.0
    ry = _f(parts[1]) if len(parts) > 1 and parts[1] else rx  # filter.go:20-70
    return kernels.fade(pcm, rx, ry, sr), sr


def _flt_fade(pcm, sr, args, assets, meta, res):
    parts = split_args(args)
    fin = _f(parts[0]) if parts else 0.0
    fout = _f(parts[1]) if len(parts) > 1 else fin
    return kernels.fade(pcm, fin, fout, sr), sr


def _flt_proportion(pcm, sr, args, assets, meta, res):
    """Scale duration by percentage (≅ filter.go:124-147; 0-1 also accepted)."""
    pct = _f(args, 100.0)
    if 0 < pct <= 1:
        pct *= 100.0
    pct = max(0.0, min(100.0, pct))
    n_target = int(round(pcm.shape[1] * pct / 100.0))
    return kernels.stretch_to_samples(pcm, n_target), sr


def _flt_watermark(pcm, sr, args, assets, meta, res):
    """watermark(asset,x,y,alpha[,w%,h%]) → mix-add overlay clip
    (filteroverlay.go:66-127). x: offset ms | 'repeat' | keywords
    left/center/right; alpha: 0 opaque … 100 silent; w% scales the overlay
    to that percentage of the BASE duration (the reference's ratio-resize
    of the watermark against the parent dims). Asset is resolved from the
    broadcast asset map (≅ the loader callback, imagor.go:399-402)."""
    parts = split_args(args)
    if not parts:
        return pcm, sr
    asset = assets.get(parts[0])
    if asset is None:
        return pcm, sr  # missing watermark asset → skip (loader miss)
    over_pcm, over_sr = asset
    if over_sr != sr:
        over_pcm = kernels.resample(over_pcm, over_sr, sr)
    x = parts[1] if len(parts) > 1 else "0"
    alpha = _f(parts[3]) if len(parts) > 3 else 0.0
    w_pct = _f(parts[4]) if len(parts) > 4 else 0.0
    if w_pct > 0:
        n_target = int(round(pcm.shape[1] * min(w_pct, 100.0) / 100.0))
        over_pcm = kernels.stretch_to_samples(kernels._as_2d(over_pcm), n_target)
    repeat = x == "repeat"
    if x == "left":
        offset = 0
    elif x == "right":
        offset = max(pcm.shape[1] - kernels._as_2d(over_pcm).shape[1], 0)
    elif x == "center":
        offset = max((pcm.shape[1] - kernels._as_2d(over_pcm).shape[1]) // 2, 0)
    elif repeat:
        offset = 0
    else:
        offset = kernels.ms_to_samples(_f(x), sr)
    return kernels.mix(pcm, over_pcm, offset, alpha, repeat=repeat), sr


def _resolve_offset(x: str, base_n: int, over_n: int, sr: int) -> tuple[int, bool]:
    """Shared watermark/image offset grammar: ms | keywords | 'repeat'."""
    repeat = x == "repeat"
    if x == "left" or repeat:
        return 0, repeat
    if x == "right":
        return max(base_n - over_n, 0), False
    if x == "center":
        return max((base_n - over_n) // 2, 0), False
    return kernels.ms_to_samples(_f(x), sr), False


def _flt_image(pcm, sr, args, assets, meta, res):
    """image(spec,x,y,alpha[,blend]) → FULL nested sub-pipeline overlay
    (filteroverlay.go:15-64 + overlay.go:127-170): ``spec`` is itself an
    imagor ops path (e.g. ``fit-in/8000x500/beep``) whose image token is
    resolved from the broadcast asset map, rendered through this very
    pipeline (bounded depth), then composited with a blend mode
    (blendModeMap overlay.go:154-170 → mix ops: over/add, multiply≅ring-mod,
    mask≅gate)."""
    parts = split_args(args)
    if not parts or res.depth >= MAX_OVERLAY_DEPTH:
        return pcm, sr
    sub = parse(parts[0])
    asset = assets.get(sub.image)
    if asset is None:
        return pcm, sr  # loader miss → skip (imagor.go:399-402 semantics)
    over_pcm, over_sr = asset
    sub_res = apply_transformations(over_pcm, over_sr, sub, assets, depth=res.depth + 1)
    over_pcm, over_sr = sub_res.pcm, sub_res.sr or over_sr
    if over_sr != sr:
        over_pcm = kernels.resample(over_pcm, over_sr, sr)
    x = parts[1] if len(parts) > 1 else "0"
    alpha = _f(parts[3]) if len(parts) > 3 else 0.0
    blend = parts[4] if len(parts) > 4 else "over"
    offset, repeat = _resolve_offset(x, pcm.shape[1], kernels._as_2d(over_pcm).shape[1], sr)
    # repeat composes WITH the blend mode (loop-tiled inside blend_overlay)
    # rather than bypassing it through the plain mix path
    return kernels.blend_overlay(
        pcm, over_pcm, 0 if repeat else offset, alpha, blend, repeat=repeat
    ), sr


def _flt_page(pcm, sr, args, assets, meta, res):
    return kernels.select_channel(pcm, _i(args, 1)), sr


def _flt_max_frames(pcm, sr, args, assets, meta, res):
    return kernels.limit_channels(pcm, _i(args, 1)), sr


def _flt_label(pcm, sr, args, assets, meta, res):
    """label(text,x,y,size,...) → transcript-stamp analogue
    (filteroverlay.go:213-282): text ops act on the transcript column, not
    the waveform. Positional args are honored as stamp annotations —
    x (position: ms or keyword) as ``@x``, size as ``s{n}`` — so
    ``label(hi,500,0,12)`` stamps `` [hi@500 s12]`` while the bare form
    stays `` [hi]``."""
    parts = split_args(args)
    if not parts:
        return pcm, sr
    stamp = parts[0]
    x = parts[1] if len(parts) > 1 else ""
    size = parts[3] if len(parts) > 3 else ""
    if x not in ("", "0"):
        stamp += f"@{x}"
    if size not in ("", "0"):
        stamp += f" s{size}"
    res.transcript_suffix += " [" + stamp + "]"
    return pcm, sr


def _flt_avgpower(pcm, sr, args, assets, meta, res):
    meta["rms"] = round(kernels.rms(pcm), 6)
    meta["rms_db"] = round(kernels.rms_db(pcm), 2)
    return pcm, sr


def _flt_fingerprint(pcm, sr, args, assets, meta, res):
    meta["fingerprint"] = kernels.fingerprint(pcm)
    return pcm, sr


def _flt_modulate(pcm, sr, args, assets, meta, res):
    """modulate(brightness,saturation,hue) → gain × width × phase composite
    (filter.go:204-214: exactly 3 percentage/degree args). Audio mapping
    (SURVEY §2.3): amplitude ×(1+b/100), stereo width ×(1+s/100), uniform
    spectral phase rotation h°. Missing args default to 0 (identity)."""
    parts = split_args(args)
    b = _f(parts[0]) if len(parts) > 0 else 0.0
    s = _f(parts[1]) if len(parts) > 1 else 0.0
    h = _f(parts[2]) if len(parts) > 2 else 0.0
    if b != 0.0:
        pcm = np.clip(
            kernels._as_2d(pcm) * np.float32(1.0 + b / 100.0), -1.0, 1.0
        ).astype(np.float32)
    if s != 0.0:
        pcm = kernels.stereo_width(pcm, 1.0 + s / 100.0)
    if h != 0.0:
        pcm = kernels.phase_shift(pcm, h)
    return pcm, sr


def _flt_hue(pcm, sr, args, assets, meta, res):
    """hue(deg) → uniform spectral phase rotation (filter.go:174-180)."""
    return kernels.phase_shift(pcm, _f(args)), sr


def _flt_saturation(pcm, sr, args, assets, meta, res):
    """saturation(s) → stereo width multiplier (filter.go:182-189)."""
    return kernels.stereo_width(pcm, _f(args, 1.0)), sr


def _flt_to_colorspace(pcm, sr, args, assets, meta, res):
    """to_colorspace(fmt) → sample-format convert (filter.go:301-316):
    'int16'/'pcm16' quantizes through a 16-bit grid; 'int8' through 8."""
    fmt = (args or "int16").lower()
    bits = 8 if "8" in fmt else 16
    return kernels.quantize_bits(pcm, bits), sr


def _flt_bitdepth(pcm, sr, args, assets, meta, res):
    """bitdepth(n) → encoder bit-depth quantization (process.go:187-258)."""
    return kernels.quantize_bits(pcm, _i(args, 16)), sr


def _flt_crop(pcm, sr, args, assets, meta, res):
    """crop(left,top,width,height) — POST-resize crop (filter.go:340-382):
    left = start (ms, or fraction <1 of current duration), width = length
    (ms or fraction). top/height are the degenerate Y axis (ignored)."""
    parts = split_args(args)
    if len(parts) < 3:
        return pcm, sr
    dur_ms = pcm.shape[1] * 1000.0 / sr if sr else 0.0
    left = _f(parts[0])
    width = _f(parts[2])
    t0 = left * dur_ms if 0 < left < 1 else left
    w = width * dur_ms if 0 < width < 1 else width
    start = kernels.ms_to_samples(max(t0, 0.0), sr)
    end = kernels.ms_to_samples(max(t0, 0.0) + max(w, 0.0), sr)
    return kernels.crop_samples(pcm, start, end), sr


def _flt_redact(pcm, sr, args, assets, meta, res):
    """redact([mode[,strength]]) → overwrite detector spans
    (filterdetection.go:226-285). mode ∈ {mute, bleep, blur}; strength =
    detector RMS threshold × 100 (default 10 → 0.1)."""
    parts = split_args(args)
    mode = parts[0] if parts and parts[0] else "mute"
    strength = _f(parts[1], 10.0) / 100.0 if len(parts) > 1 else 0.1
    spans = kernels.detect_energy_spans(pcm, sr, threshold=strength)
    return kernels.redact_spans(pcm, sr, spans, mode), sr


def _flt_draw_detections(pcm, sr, args, assets, meta, res):
    """draw_detections() → annotate detected spans into meta
    (filterdetection.go:46-90): spans land in the meta JSON, waveform
    untouched."""
    spans = kernels.detect_energy_spans(pcm, sr)
    meta["detections"] = [[round(s, 4), round(e, 4)] for s, e in spans]
    return pcm, sr


def _flt_fill(pcm, sr, args, assets, meta, res):
    """fill(color|auto|blur|transparent|none) → letterbox the clip to the
    requested duration box with a pad bed (filteroverlay.go:129-211):
    silence for colors≅black/none, 100 Hz hum at luminance/-noise-floor
    level, or a low-passed loop-tiled copy for 'blur'. Runs at its chain
    position like the reference's FilterMap entry; without a requested
    duration (H=0) there is no box to fill → no-op."""
    p = res.request
    if p is None or p.height <= 0:
        return pcm, sr
    mode = split_args(args)[0] if args else ""
    n_target = kernels.ms_to_samples(p.height, sr)
    return kernels.letterbox(pcm, n_target, p.h_align, mode, sr), sr


def _flt_background_color(pcm, sr, args, assets, meta, res):
    """background_color(c) → flatten near-silence onto the bed level
    (filter.go:95-106 flattens alpha onto a color)."""
    return kernels.flatten_silence(pcm, sr, args or ""), sr


def _flt_orient(pcm, sr, args, assets, meta, res):
    """orient/rotate(deg) → channel permutation for multichannel clips
    (process.go:514-523, filter.go:108-122; SURVEY §2.2 mapping — mono is
    the documented no-op degenerate)."""
    return kernels.rotate_channels(pcm, _f(args)), sr


def _noop(pcm, sr, args, assets, meta, res):
    return pcm, sr


FILTER_MAP = {
    # signal filters (≅ FilterMap registration, processor.go:83-111)
    "normalize": _flt_normalize,
    "gain": _flt_gain,
    "brightness": _flt_brightness,
    "contrast": _flt_contrast,
    "grayscale": _flt_grayscale,
    "rgb": _flt_rgb,
    "modulate": _flt_modulate,
    "hue": _flt_hue,
    "saturation": _flt_saturation,
    "to_colorspace": _flt_to_colorspace,
    "bitdepth": _flt_bitdepth,
    "crop": _flt_crop,
    "redact": _flt_redact,
    "redact_oval": _flt_redact,  # oval mask degenerate for 1-D audio
    "draw_detections": _flt_draw_detections,
    "blur": _flt_blur,
    "lowpass": _flt_lowpass,
    "sharpen": _flt_sharpen,
    "pixelate": _flt_pixelate,
    "round_corner": _flt_round_corner,
    "fade": _flt_fade,
    "proportion": _flt_proportion,
    "watermark": _flt_watermark,
    "mix": _flt_watermark,  # audio-native alias
    "image": _flt_image,  # nested sub-pipeline overlay + blend modes
    "page": _flt_page,
    "max_frames": _flt_max_frames,
    "label": _flt_label,
    "text": _flt_label,
    "avgpower": _flt_avgpower,
    "avgcolor": _flt_avgpower,
    "fingerprint": _flt_fingerprint,
    "blurhash": _flt_fingerprint,
    "thumbhash": _flt_fingerprint,
    # export/utility filters handled elsewhere → registered no-ops so they
    # don't count as unknown (mirrors imagor hoisting, imagor.go:312-338)
    "format": _noop,
    "quality": _noop,
    "max_bytes": _noop,
    "autojpg": _noop,
    "strip_metadata": _noop,
    "strip_exif": _noop,
    "strip_icc": _noop,
    "expire": _noop,
    "attachment": _noop,
    "focal": _noop,
    "upscale": _noop,  # consumed by the fit-in resize plane (upsample gate)
    "fill": _flt_fill,
    "background_color": _flt_background_color,
    "orient": _flt_orient,
    "rotate": _flt_orient,
    "dpi": _noop,
}


def shrink_target_sr(p: Params, src_sr: int) -> int | None:
    """Shrink-on-load predicate analysis (≅ thumbnailNotSupported,
    process.go:325-400): when NO op depends on the original-rate timeline,
    every resize path begins by resampling to exactly ``p.width`` < src_sr —
    so the decoder may produce that rate directly.

    Disabling conditions (the reference's flag analysis, audio mapping):
    trim (sample-value dependent at source rate), any crop (boundaries
    resolved against the pre-resize timeline), full/adaptive fit-in (may
    upsample / swap dims). smart/focal are SAFE here: they run on the
    post-resample waveform, which is identical either way."""
    if p.trim:
        return None
    if p.crop_left > 0 or p.crop_top > 0 or p.crop_right > 0 or p.crop_bottom > 0:
        return None
    if p.fit_in and (p.full_fit_in or p.adaptive_fit_in):
        return None
    w = p.width
    if w <= 0 or w >= src_sr:
        return None
    return w


def process(
    blob: bytes,
    p: Params,
    assets: dict[str, tuple[np.ndarray, int]] | None = None,
    decode_cache: DecodeCache | None = None,
) -> tuple[bytes, dict]:
    """Full decode → transform → encode for one row (≅ vipsprocessor.Process,
    process.go:52-184). Returns (out_bytes, meta_dict). Meta mode returns
    b"" bytes + rich meta (process.go:84-133).

    ``decode_cache``: optional executor-local decoded-source cache keyed by
    (payload md5, shrink target) — ≅ the reference's in-memory source cache
    (cache.go:37-163) with the HasCacheBypass rules (params.go:87-106):
    bypassing ops never read or populate it. Cached arrays are marked
    read-only; every kernel copies before mutating."""
    blob = bytes(blob)
    target = None
    if codecs.sniff(blob) == codecs.CODEC_WAV:
        info = codecs.wav_header_info(blob)
        if info is not None:
            hdr_sr, _hdr_ch, hdr_n = info
            # bomb guard on SOURCE dims (≅ CheckResolution before decode,
            # processor.go:506-516) so a shrunk decode can't mask a bomb
            if hdr_n > MAX_SAMPLES or hdr_sr > MAX_SR_HZ:
                raise ValueError("resolution bomb: clip exceeds sample/rate limits")
            target = shrink_target_sr(p, hdr_sr)
    cache_key = None
    if decode_cache is not None and not has_cache_bypass(p):
        import hashlib

        cache_key = (hashlib.md5(blob).digest(), target or 0)
    hit = decode_cache.get(cache_key) if cache_key is not None else None
    if hit is not None:
        pcm, sr, src_codec = hit
    else:
        pcm, sr, src_codec = codecs.decode(blob, target_sr=target)
        if cache_key is not None:
            pcm.setflags(write=False)
            decode_cache.admit(cache_key, (pcm, sr, src_codec))

    # resolution-bomb guard (≅ CheckResolution, processor.go:506-516)
    if pcm.shape[1] > MAX_SAMPLES or sr > MAX_SR_HZ:
        raise ValueError("resolution bomb: clip exceeds sample/rate limits")

    res = apply_transformations(pcm, sr, p, assets)
    opts = extract_export_opts(p, src_codec)

    # strip_metadata/strip_exif/strip_icc (process.go:884-992 opts.Keep):
    # drop filter-emitted tags (rms/fingerprint/detections) and the
    # transcript carry-through; only the structural fields survive
    meta = {} if opts.strip_metadata else dict(res.meta)
    meta.update(
        {
            "codec": opts.codec,
            "sr_hz": res.sr,
            "dur_ms": kernels.samples_to_ms(res.pcm.shape[1], res.sr) if res.sr else 0,
            "channels": int(res.pcm.shape[0]),
            "n_samples": int(res.pcm.shape[1]),
            "source_codec": src_codec,
        }
    )
    if opts.attachment is not None:
        # disposition survives strip_metadata: it is response plumbing, not
        # embedded metadata (the reference sets the header regardless)
        meta["disposition"] = content_disposition(p, opts)
    if res.transcript_suffix and not opts.strip_metadata:
        meta["transcript_suffix"] = res.transcript_suffix
    if opts.strip_metadata:
        # signal the engine row-plane to null the transcript column (the
        # audio analogue of stripping embedded text metadata)
        meta["_strip_transcript"] = True

    if p.meta:
        # meta endpoint: JSON row instead of payload (process.go:84-133)
        return b"", meta

    out = codecs.encode(res.pcm, res.sr, opts.codec, opts.quality)
    # max_bytes quality-retry loop (process.go:144-177): reduce quality by
    # delta-scaled steps until under budget; lossless codecs are exempt
    if opts.max_bytes > 0 and opts.codec in (codecs.CODEC_OGG, codecs.CODEC_MP3):
        quality = opts.quality if opts.quality is not None else 75
        for _ in range(8):
            if len(out) <= opts.max_bytes or quality <= 5:
                break
            delta = max(len(out) - opts.max_bytes, 0) / max(len(out), 1)
            if delta > 0.5:
                quality = int(quality * 0.25)
            elif delta > 0.25:
                quality = int(quality * 0.5)
            else:
                quality = int(quality * 0.75)
            quality = max(quality, 5)
            out = codecs.encode(res.pcm, res.sr, opts.codec, quality)
    meta["bytes_len"] = len(out)
    return out, meta


def meta_json(meta: dict) -> str:
    return json.dumps(meta, sort_keys=True, separators=(",", ":"))
