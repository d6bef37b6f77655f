"""Decoded-PCM feature extraction, spectral fingerprinting, transcoding,
and audio near-duplicate detection — the training-data-pipeline surface
for the audio payload (graft cell: pyspark × audio).

A 100 TB audio corpus needs exactly what a text corpus needs — QC
features, dedup, drift — but computed from the decoded waveform, not the
string column. This module keeps the reference engine's discipline
(reference repo has zero UDFs — SURVEY.md §2.10): Python appears only as
vectorized numpy inside per-clip kernels run by the one zero-copy Arrow
pass, functions/payload.map_payloads, and everything after
feature extraction — blocking joins, Hamming distance, cosine verify —
is JVM-side DataFrame ops on slim (id, long, array<double>) frames. The
payload bytes never cross an exchange.

Per-clip features (float64, deterministic — the same numpy ops drive the
pure-pandas oracle twin in sources/synth.audio_features_pandas, so the
driver hash-compares them exactly):

- n_samples, rms, peak            — level / integrity QC
- zcr                             — zero-crossing rate (spectral proxy)
- silence_ratio, clip_ratio       — dead-air and hard-clipping fractions
- centroid_hz                     — spectral centroid from the rfft
- fingerprint (int64)             — spectral-support hash: bit b set iff
  log-band b's energy DENSITY stands 10 dB above the clip's flat
  average. Sparse and transcode-stable: mu-law quantization noise sits
  ~30 dB below signal and cannot push a band across a 10 dB margin,
  while clips with different spectral support differ in their support
  bits.
- peak_band / rms_bucket(+_hi)    — exactly-stable discrete block keys:
  the argmax-density band (a ~20 dB spectral peak cannot move under
  30 dB-down quantization noise) and a numpy-quantized log-RMS bucket
  emitted at TWO probe offsets (floor(k) and floor(k+1/2)) so a true
  pair straddling a bucket edge still shares a key — standard LSH
  multi-probe; quantization cliffs therefore cost recall 0.
- bands (array<double>, 64)       — the raw band-energy vector backing
  the exact verify of candidate pairs

Near-dup shape at scale: candidates = equi-join on the packed
(peak_band, rms_bucket, n_samples) probe keys — ids + int64s only; the
64-double band vectors stay out of the candidate shuffle and join back
for the verify (band cosine + centroid/RMS ratio gates) — the
embed_neardup_lsh discipline (ids-only shuffle, exact verify). All
quantization happens ONCE in numpy at extraction; blocking and probing
are pure integer ops, so the DuckDB oracle reproduces them exactly
(no cross-engine libm boundary to disagree on).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
)

from .audio import CLIP_ABS, DECODERS, SILENCE_ABS, mulaw_encode, pcm16_wav_encode

# ---------------------------------------------------------------------------
# band grid + per-clip feature math (shared with the pandas oracle twin)
# ---------------------------------------------------------------------------

N_BANDS = 64
# log-spaced edges, capped below the 8 kHz Nyquist so one grid serves
# every sr the corpus carries (8000/16000/44100)
BAND_EDGES = np.geomspace(50.0, 3800.0, N_BANDS + 1)
_BAND_WIDTHS = BAND_EDGES[1:] - BAND_EDGES[:-1]
_GRID_WIDTH = float(BAND_EDGES[-1] - BAND_EDGES[0])

# SILENCE_ABS / CLIP_ABS are re-exported from .audio (the import above)
# so the QC thresholds have one home shared with AudioQcRule's checks.
SUPPORT_MARGIN = 10.0  # fingerprint bit ⇔ band density > 10x flat average
RMS_BUCKETS_PER_DECADE = 50  # log-RMS block-key quantization

FEATURE_FIELDS = [
    StructField("n_samples", LongType()),
    StructField("rms", DoubleType()),
    StructField("peak", DoubleType()),
    StructField("zcr", DoubleType()),
    StructField("silence_ratio", DoubleType()),
    StructField("clip_ratio", DoubleType()),
    StructField("centroid_hz", DoubleType()),
    StructField("fingerprint", LongType()),
    StructField("peak_band", LongType()),
    StructField("rms_bucket", LongType()),
    StructField("rms_bucket_hi", LongType()),
    StructField("bands", ArrayType(DoubleType())),
]
# with_audio_features / clip_pipeline output: decode verdict + features
_FEATURE_OUT = [
    StructField("ok", BooleanType()),
    StructField("err", StringType()),
    *FEATURE_FIELDS,
]


def band_energies(sig: np.ndarray, sr_hz: int) -> tuple[np.ndarray, float]:
    """(64 log-band energies, spectral centroid in Hz) from one rfft.

    Deterministic: fixed float64 op order, fixed edges; a band narrower
    than the clip's frequency resolution contributes energy 0.0.
    """
    x = sig.astype(np.float64)
    spec = np.abs(np.fft.rfft(x)) ** 2
    n = len(x)
    freqs = np.arange(len(spec), dtype=np.float64) * (float(sr_hz) / max(n, 1))
    total = float(np.sum(spec))
    centroid = float(np.sum(freqs * spec) / total) if total > 0.0 else 0.0
    idx = np.searchsorted(freqs, BAND_EDGES, side="left")
    csum = np.concatenate(([0.0], np.cumsum(spec)))
    e = csum[np.minimum(idx[1:], len(spec))] - csum[np.minimum(idx[:-1], len(spec))]
    return e, centroid


def pack_fingerprint(e: np.ndarray) -> int:
    """Spectral-support hash → signed int64: bit b set iff band b's
    energy density exceeds SUPPORT_MARGIN x the clip's flat average
    density. Sparse (only bands carrying real signal), and stable under
    transcoding because quantization noise is ~30 dB below the margin.
    """
    density = e / _BAND_WIDTHS
    avg = float(np.sum(e)) / _GRID_WIDTH
    bits = (density > SUPPORT_MARGIN * avg).astype(np.uint64)
    fp = int(np.sum(bits << np.arange(N_BANDS, dtype=np.uint64)))
    return fp - (1 << 64) if fp >= (1 << 63) else fp


def clip_features(payload, codec, sr_hz, dur_ms) -> dict:
    """All features for one clip; decode failures yield ok=False + nulls.

    Single source of truth for the Spark mapInArrow path AND the
    pure-pandas oracle twin — identical numpy on identical bytes gives
    bit-identical doubles, which is what lets the driver hash-compare.
    """
    out = {"ok": False, "err": None}
    out.update({f.name: None for f in FEATURE_FIELDS})
    try:
        dec_fn = DECODERS.get(codec)
        if dec_fn is None:
            raise ValueError(f"no decoder for codec {codec!r}")
        if payload is None or len(payload) == 0:
            raise ValueError("empty payload")
        sr = int(sr_hz) if sr_hz is not None else 0
        sig = dec_fn(payload, sr)
        out.update(ok=True, **signal_features(sig, sr))
    except Exception as exc:  # decode failures are data, not bugs
        out["err"] = str(exc)[:120]
    return out


ENCODERS = {
    "mulaw": lambda sig, sr: mulaw_encode(sig),
    "pcm16": lambda sig, sr: pcm16_wav_encode(sig, sr),
}


def resample_signal(sig: np.ndarray, sr_from: int, sr_to: int) -> np.ndarray:
    """Linear-interpolation resample (float32 out), duration-preserving:
    n_out = round(n * sr_to / sr_from). Deterministic fixed-op-order
    numpy — the same function drives the Spark operator AND the pandas
    oracle twin. Linear interp is exact enough for this corpus's
    sub-Nyquist content (error ~(πf/sr)²/8 of amplitude); a production
    deployment would swap in a windowed-sinc/polyphase kernel behind the
    same signature without touching the operator plumbing.
    """
    if sr_from == sr_to:
        return sig.astype(np.float32)
    n = len(sig)
    n_out = max(1, int(round(n * sr_to / sr_from)))
    pos = np.arange(n_out, dtype=np.float64) * (float(sr_from) / float(sr_to))
    out = np.interp(pos, np.arange(n, dtype=np.float64), sig.astype(np.float64))
    return np.clip(out, -1.0, 1.0).astype(np.float32)


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def with_audio_features(
    df: DataFrame,
    *,
    key_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    sr_col: str = "sr_hz",
    dur_col: str = "dur_ms",
) -> DataFrame:
    """clips → per-clip feature frame; the payload column is DROPPED
    (nothing downstream needs `bytes`, and dropping it here is what
    keeps every later exchange slim). One zero-copy `map_payloads` pass.
    """
    from .payload import map_payloads

    names = [f.name for f in _FEATURE_OUT]

    def kernel(payload, codec, sr, dur):
        row = clip_features(payload, codec, sr, dur)
        return tuple(row[k] for k in names)

    return map_payloads(df, bytes_col, [codec_col, sr_col, dur_col], kernel, _FEATURE_OUT)


def _same_fields(df: DataFrame, *names: str) -> list:
    """The input's own fields for the columns a rewrite replaces in place."""
    return [df.schema[n] for n in names]


def reencode_clips(df: DataFrame, *, to_codec: str = "mulaw") -> DataFrame:
    """Transcode: decode each payload and re-encode it as `to_codec`,
    replacing (bytes, codec) in place. Undecodable rows pass through
    unchanged — a transcoding pipeline must not drop its rejects.

    Same-schema-out means the operator composes with every clip consumer
    (validation, features, ingest gate) with no plan changes.
    """
    from .payload import map_payloads

    if to_codec not in ENCODERS:
        raise ValueError(f"no encoder for codec {to_codec!r}")
    enc = ENCODERS[to_codec]

    def kernel(payload, codec, sr):
        dec_fn = DECODERS.get(codec)
        try:
            if dec_fn is None or payload is None or len(payload) == 0:
                raise ValueError("undecodable")
            sr = int(sr or 0)
            return enc(dec_fn(payload, sr), sr), to_codec
        except Exception:
            return payload, codec

    return map_payloads(
        df, "bytes", ["codec", "sr_hz"], kernel, _same_fields(df, "bytes", "codec")
    )


def resample_clips(df: DataFrame, to_sr: int) -> DataFrame:
    """Normalize the corpus sample rate: decode each payload, linear-interp
    resample to `to_sr` (duration-preserving), re-encode with the SAME
    codec, and update sr_hz. Rows already at `to_sr` are re-emitted
    untouched (no decode cost beyond the batch scan); undecodable rows
    pass through unchanged with their original sr_hz.

    This is the sr_hz-skew normalizer the north rule's drift checks pair
    with: a mixed-rate corpus (the c002 sr-flip injection) collapses to
    one rate, so downstream n_samples/rate-derived drift reflects real
    content shifts only (tested end-to-end in tests/test_audio_features).
    Same-schema-out ⇒ composes with every clip consumer unchanged.
    """
    return _map_signal(
        df, [("resample", {"to_sr": to_sr})], _same_fields(df, "bytes", "sr_hz")
    )


def trim_signal(sig: np.ndarray, thresh: float = SILENCE_ABS) -> np.ndarray:
    """Strip leading/trailing samples with |x| < thresh (dead air). The
    interior is untouched, so trim(pad_with_zeros(x)) == trim(x) exactly
    — the invariant tests/test_audio_features pins. An all-silent signal
    trims to length 0."""
    idx = np.nonzero(np.abs(sig) >= thresh)[0]
    if len(idx) == 0:
        return sig[:0]
    return sig[idx[0] : idx[-1] + 1]


def trim_silence_clips(
    df: DataFrame, *, thresh: float = SILENCE_ABS
) -> DataFrame:
    """Dead-air trim: decode, strip leading/trailing silence, re-encode
    with the same codec, and recompute dur_ms from the trimmed length.
    Fully-silent clips become 0-length payloads with dur_ms 0 (they are
    data for the validation rules, not errors); undecodable rows pass
    through unchanged. Same-schema-out.

    The corpus-prep counterpart of the text pipeline's whitespace
    normalization: padding differences between capture chains otherwise
    defeat exact and near-dup detection (two recordings of the same
    content with different lead-in silence hash and block differently;
    after trim they collide exactly).
    """
    return _map_signal(
        df, [("trim", {"thresh": thresh})], _same_fields(df, "bytes", "dur_ms")
    )


def normalize_gain(sig: np.ndarray, target_rms: float, peak_ceiling: float) -> float:
    """Peak-safe RMS gain: min(target_rms / rms, peak_ceiling / peak).
    Never clips (the ceiling binds first on high-crest signals); an
    all-silent signal gets gain 1.0 (nothing to normalize). Fixed float64
    op order — shared by the Spark operator and the pandas oracle twin."""
    x = sig.astype(np.float64)
    rms = float(np.sqrt(np.mean(x * x))) if len(x) else 0.0
    if rms <= 0.0:
        return 1.0
    peak = float(np.max(np.abs(x)))
    return min(target_rms / rms, peak_ceiling / peak)


def normalize_loudness_clips(
    df: DataFrame, *, target_rms: float = 0.45, peak_ceiling: float = 0.999
) -> DataFrame:
    """Loudness normalization: scale each clip toward `target_rms`,
    peak-limited so no sample ever clips, re-encoded with the same
    codec. All-silent and undecodable rows pass through unchanged.
    Same-schema-out.

    A uniform gain scales every band energy by g² — the spectral-support
    fingerprint and peak_band compare DENSITY RATIOS, so they are
    invariant under normalization (pinned by test): level-normalizing a
    corpus does not perturb its near-dup structure, while making
    rms-based QC comparable across capture chains.
    """
    ops = [("normalize", {"target_rms": target_rms, "peak_ceiling": peak_ceiling})]
    return _map_signal(df, ops, _same_fields(df, "bytes"))


def segment_signal(
    sig: np.ndarray,
    sr: int,
    *,
    window_ms: int | None = None,
    hop_ms: int | None = None,
    gap_ms: int | None = None,
    thresh: float = SILENCE_ABS,
    min_ms: int = 0,
) -> list[tuple[int, np.ndarray]]:
    """Cut one decoded signal into segments; returns [(start_sample, seg)].

    Exactly one mode must be selected:
    - fixed windows (``window_ms`` given): cuts of round(window_ms·sr/1000)
      samples every round(hop_ms·sr/1000) samples (hop defaults to the
      window — non-overlapping); the trailing remainder is kept as a
      shorter final segment.
    - silence splits (``gap_ms`` given): maximal voiced runs
      (|x| ≥ thresh), where runs separated by silence SHORTER than
      gap_ms merge into one segment (the silence is kept inside it) —
      the multi-segment generalization of trim_signal, which is the
      degenerate gap_ms = ∞ case.

    Segments shorter than ``min_ms`` are dropped in both modes. Fixed
    float64-free integer boundary math — shared verbatim by the Spark
    operator and the pandas oracle twin.
    """
    if (window_ms is None) == (gap_ms is None):
        raise ValueError("segment_signal: give exactly one of window_ms/gap_ms")
    if sr <= 0 or len(sig) == 0:
        return []
    min_n = int(round(min_ms * sr / 1000.0))
    out: list[tuple[int, np.ndarray]] = []
    if window_ms is not None:
        win_n = max(1, int(round(window_ms * sr / 1000.0)))
        hop_n = max(
            1, int(round((window_ms if hop_ms is None else hop_ms) * sr / 1000.0))
        )
        for start in range(0, len(sig), hop_n):
            seg = sig[start : start + win_n]
            if len(seg) >= max(1, min_n):
                out.append((start, seg))
    else:
        gap_n = max(1, int(round(gap_ms * sr / 1000.0)))
        voiced = np.flatnonzero(np.abs(sig) >= thresh)
        if len(voiced) == 0:
            return []
        # split where consecutive voiced samples are >= gap_n apart
        cuts = np.flatnonzero(np.diff(voiced) >= gap_n) + 1
        for run in np.split(voiced, cuts):
            seg = sig[run[0] : run[-1] + 1]
            if len(seg) >= max(1, min_n):
                out.append((int(run[0]), seg))
    return out


def segment_clips(
    df: DataFrame,
    *,
    window_ms: int | None = None,
    hop_ms: int | None = None,
    gap_ms: int | None = None,
    thresh: float = SILENCE_ABS,
    min_ms: int = 0,
    id_col: str = "clip_id",
) -> DataFrame:
    """Segment the corpus into training-sized pieces: one output row per
    segment, payload re-encoded with the clip's own codec — the audio
    analog of the text pipeline's sequence chunking (functions/packing):
    long-form captures become uniform windows (``window_ms``/``hop_ms``)
    or utterance-like silence-split pieces (``gap_ms``/``thresh``), the
    shape ASR/audio-LM training consumes.

    Output schema: (clip_id, segment_id, seg_index, start_ms, dur_ms,
    sr_hz, codec, bytes) with segment_id = "<clip_id>#<seg_index:04d>" —
    itself a valid corpus key, so every downstream operator (dedup, QC
    rules, features, ingest gates) composes over segments unchanged.

    Scale shape: ONE mapInArrow decode pass; the 1→N explode happens
    INSIDE the Arrow batch, so the parent payload is decoded once and
    never crosses an exchange; output size ≈ input size (fixed
    non-overlapping) or less (silence mode drops dead air). Undecodable
    payloads emit zero segments — they are the decode rule's violations,
    not this operator's (same ownership split as trim/resample).
    """
    import pyarrow as pa

    from pyspark.sql import types as T

    if (window_ms is None) == (gap_ms is None):
        # ≙ {{ error(...) }}: config-time, before any Spark job exists
        raise ValueError("segment_clips: give exactly one of window_ms/gap_ms")

    need = [id_col, "bytes", "codec", "sr_hz"]
    src = df.select(*need)
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.StringType()),
            T.StructField("segment_id", T.StringType()),
            T.StructField("seg_index", T.IntegerType()),
            T.StructField("start_ms", T.IntegerType()),
            T.StructField("dur_ms", T.IntegerType()),
            T.StructField("sr_hz", T.IntegerType()),
            T.StructField("codec", T.StringType()),
            T.StructField("bytes", T.BinaryType()),
        ]
    )

    def run(batches):
        for b in batches:
            names = b.schema.names
            ids = b.column(names.index(id_col)).to_pylist()
            barr = b.column(names.index("bytes"))
            codecs = b.column(names.index("codec")).to_pylist()
            srs = b.column(names.index("sr_hz")).to_pylist()
            rows = {f.name: [] for f in out_schema.fields}
            for i in range(len(barr)):
                sc = barr[i]
                mv = memoryview(sc.as_buffer()) if sc.is_valid else None
                dec_fn = DECODERS.get(codecs[i])
                enc_fn = ENCODERS.get(codecs[i])
                sr = int(srs[i] or 0)
                try:
                    if dec_fn is None or enc_fn is None or mv is None or len(mv) == 0:
                        raise ValueError("undecodable")
                    segs = segment_signal(
                        dec_fn(mv, sr),
                        sr,
                        window_ms=window_ms,
                        hop_ms=hop_ms,
                        gap_ms=gap_ms,
                        thresh=thresh,
                        min_ms=min_ms,
                    )
                except Exception:
                    continue  # undecodable: the decode rule's violation
                for j, (start, seg) in enumerate(segs):
                    rows[id_col].append(ids[i])
                    rows["segment_id"].append(f"{ids[i]}#{j:04d}")
                    rows["seg_index"].append(j)
                    rows["start_ms"].append(int(round(start * 1000.0 / sr)))
                    rows["dur_ms"].append(int(round(len(seg) * 1000.0 / sr)))
                    rows["sr_hz"].append(sr)
                    rows["codec"].append(codecs[i])
                    rows["bytes"].append(enc_fn(seg, sr))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(rows[id_col], type=pa.string()),
                    pa.array(rows["segment_id"], type=pa.string()),
                    pa.array(rows["seg_index"], type=pa.int32()),
                    pa.array(rows["start_ms"], type=pa.int32()),
                    pa.array(rows["dur_ms"], type=pa.int32()),
                    pa.array(rows["sr_hz"], type=pa.int32()),
                    pa.array(rows["codec"], type=pa.string()),
                    pa.array(rows["bytes"], type=pa.binary()),
                ],
                names=[f.name for f in out_schema.fields],
            )

    return src.mapInArrow(run, out_schema)


# Signal-level op dispatch for the fused pipeline: each op maps
# (sig, sr, dur_ms, kwargs) -> (sig, sr, dur_ms), with the SAME
# semantics as its standalone operator. Adding a case here makes the op
# chainable in clip_pipeline without another decode pass.
def _apply_signal_op(name: str, sig, sr, dur, kw):
    if name == "trim":
        out = trim_signal(sig, kw.get("thresh", SILENCE_ABS))
        return out, sr, int(round(len(out) * 1000.0 / sr)) if sr > 0 else 0
    if name == "resample":
        to_sr = kw["to_sr"]
        return resample_signal(sig, sr, to_sr), to_sr, dur
    if name == "normalize":
        g = normalize_gain(
            sig, kw.get("target_rms", 0.45), kw.get("peak_ceiling", 0.999)
        )
        return (sig.astype(np.float64) * g).astype(np.float32), sr, dur
    raise ValueError(f"unknown signal op {name!r}")


def clip_pipeline(
    df: DataFrame,
    ops: list,
    *,
    emit_bytes: bool = False,
    features: bool = True,
) -> DataFrame:
    """Fused corpus-prep pipeline: decode ONCE, chain signal-level ops
    (``[("trim", {}), ("resample", {"to_sr": 8000}), ("normalize", {})]``),
    then compute features directly from the final float signal — all in
    ONE mapInArrow pass.

    Why this exists: composing the standalone operators
    (``with_audio_features(normalize(resample(trim(df))))``) is correct
    but decodes and re-encodes the payload at every stage — at corpus
    scale the codec work is the dominant cost, so an N-stage chain pays
    ~N× the decode bill and moves the full payload through N Arrow
    hops. The fused pipeline pays for one decode and (optionally) one
    final encode, and the intermediate signal never leaves the numpy
    buffer. Features computed here skip the final encode→decode
    round-trip, so they differ from the chained formulation by at most
    one codec quantization step (asserted in tests).

    ``emit_bytes=False`` (default) drops the payload column — the
    features-only output is the slim frame every downstream consumer
    (dedup, drift, QC filters) wants; ``emit_bytes=True`` re-encodes the
    final signal with the row's codec for sink-bound corpus rewrites.
    Undecodable rows pass through (ok=False, err set, original payload
    if emitted). Per-op semantics match the standalone operators: trim
    recomputes dur_ms, resample updates sr_hz, normalize touches
    neither.
    """
    ops = [(name, dict(kw)) for name, kw in ops]
    for name, _ in ops:
        if name not in ("trim", "resample", "normalize"):
            raise ValueError(f"unknown signal op {name!r}")
    names = (["bytes"] if emit_bytes else []) + ["sr_hz", "dur_ms"]
    fields = _same_fields(df, *names) + (_FEATURE_OUT if features else [])
    return _map_signal(df, ops, fields, features=features)


def _map_signal(df: DataFrame, ops: list, fields: list, *, features: bool = False):
    """The decode → _apply_signal_op chain → re-encode → features kernel
    shared by clip_pipeline and the standalone signal operators, as one
    `map_payloads` pass emitting ``fields`` (a subset of bytes / sr_hz /
    dur_ms, then ok / err / FEATURE_FIELDS when ``features``).

    The rewrite (bytes, sr_hz, dur_ms) commits once decode, op chain and
    re-encode succeed; a row failing before that (no decoder or encoder
    for its codec, empty or undecodable payload, an op that cannot apply)
    passes through untouched. A feature failure after the commit (zero
    samples left) keeps the rewrite; either way ok=False and err is set.
    Without features, a row no op changes (a resample to its own rate)
    is emitted untouched without a decode.
    """
    from .payload import map_payloads

    names = [f.name for f in fields]
    emit_bytes = "bytes" in names

    def kernel(payload, codec, sr_in, dur_in):
        sr, dur = int(sr_in or 0), dur_in
        row = {"bytes": payload, "sr_hz": sr_in, "dur_ms": dur_in, "ok": False, "err": None}
        if not features and all(n == "resample" and kw["to_sr"] == sr for n, kw in ops):
            return tuple(row[k] for k in names)
        try:
            dec_fn, enc_fn = DECODERS.get(codec), ENCODERS.get(codec)
            if dec_fn is None or payload is None or len(payload) == 0:
                raise ValueError("undecodable")
            if emit_bytes and enc_fn is None:
                raise ValueError("no encoder")
            sig = dec_fn(payload, sr)
            for name, kw in ops:
                sig, sr, dur = _apply_signal_op(name, sig, sr, dur, kw)
            if emit_bytes:
                row["bytes"] = enc_fn(sig, sr)
            row["sr_hz"], row["dur_ms"] = sr, dur
            if features:
                row.update(signal_features(sig, sr), ok=True)
        except Exception as exc:  # decode failures are data, not bugs
            row["err"] = str(exc)[:120]
        return tuple(row.get(k) for k in names)

    return map_payloads(df, "bytes", ["codec", "sr_hz", "dur_ms"], kernel, fields)


def signal_features(sig: np.ndarray, sr: int) -> dict:
    """clip_features' math applied to an already-decoded float signal
    (the fused-pipeline path: no encode→decode round trip). Shares every
    constant and op with clip_features; a zero-length signal raises."""
    n = len(sig)
    if n == 0:
        raise ValueError("decoded to zero samples")
    x = sig.astype(np.float64)
    ax = np.abs(x)
    e, centroid = band_energies(sig, sr)
    rms = float(np.sqrt(np.mean(x * x)))
    if rms > 0.0:
        k = float(np.log10(rms)) * RMS_BUCKETS_PER_DECADE
        b_lo, b_hi = int(np.floor(k)), int(np.floor(k + 0.5))
    else:
        b_lo = b_hi = -(1 << 20)
    return dict(
        n_samples=int(n),
        rms=rms,
        peak=float(np.max(ax)),
        zcr=float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))) if n > 1 else 0.0,
        silence_ratio=float(np.mean(ax < SILENCE_ABS)),
        clip_ratio=float(np.mean(ax >= CLIP_ABS)),
        centroid_hz=centroid,
        fingerprint=pack_fingerprint(e),
        peak_band=int(np.argmax(e / _BAND_WIDTHS)),
        rms_bucket=b_lo,
        rms_bucket_hi=b_hi,
        bands=e.tolist(),
    )


# block-key packing constants (shared with the DuckDB oracle SQL):
# key = (peak_band * 2^21 + (rms_bucket + 2^20)) * 2^21 + n_samples.
# n_samples < 2^21 holds for dur <= 2 s at 44.1 kHz with headroom x10.
_KEY_SHIFT = 1 << 21
_BUCKET_OFFSET = 1 << 20
# the feature columns near-duplicate blocking (_block_keys) and the exact
# verify (_verify_pairs) read
_GATE_FEATURES = ("n_samples", "peak_band", "rms_bucket", "rms_bucket_hi",
                  "rms", "centroid_hz", "bands")


def audio_dup_pairs(
    features: DataFrame,
    *,
    id_col: str = "clip_id",
    min_cosine: float = 0.99,
    max_centroid_ratio: float = 0.005,
    max_rms_ratio: float = 0.02,
) -> DataFrame:
    """Audio near-duplicate pairs from the feature frame: multi-probe
    blocking on packed (peak_band, rms_bucket, n_samples) keys → exact
    verify (band-energy cosine + centroid and RMS ratio gates). Returns
    (clip_id_a, clip_id_b, hamming) with hamming = support-fingerprint
    distance (reported, not filtered — the verify is exact already).

    Scale shape: the blocked frame carries (id, key, fingerprint) only —
    int64s; the 64-double band vectors stay out of the candidate shuffle
    and join back for the verify on the (tiny) candidate set. The slim
    frames are pinned (localCheckpoint) so the Arrow feature extraction
    runs exactly once (the dedup-family discipline — functions/dedup._pin).

    Fan-out honesty: candidates collide only on identical
    (peak-spectral-band, ~2 % RMS bucket, exact sample count) — a
    degenerate corpus (all clips same tone/level/length) blocks into one
    bucket and degrades toward all-pairs; the same caveat ngram_jaccard
    documents for its frequency cap, and the reason verify is mandatory.
    """
    from .dedup import _pin, bucket_pairs

    slim = _pin(
        features.where(F.col("fingerprint").isNotNull()).select(
            F.col(id_col).alias("doc"), "fingerprint", *_GATE_FEATURES
        )
    )
    cand = bucket_pairs(
        _block_keys(slim, "doc", "fingerprint"), ["bkey"], carry=["fingerprint"]
    )
    side = slim.select("doc", "rms", "centroid_hz", "bands")
    verified = _verify_pairs(
        cand, side, side, min_cosine, max_centroid_ratio, max_rms_ratio
    )
    return verified.select(
        F.col("id_a").alias("clip_id_a"),
        F.col("id_b").alias("clip_id_b"),
        F.bit_count(
            F.col("fingerprint_a").bitwiseXOR(F.col("fingerprint_b"))
        ).alias("hamming"),
    )


class AudioIndex:
    """Slim per-clip dedup index of an existing audio corpus — the audio
    twin of incremental.SignatureIndex: payload hashes for the exact
    gate, packed block keys + verify features for the near gate. All
    O(corpus)-row narrow relations (the widest carries the 64-double
    band vector); at scale they live as bucketed tables the ingest sink
    appends to — the corpus payload itself is never re-decoded per
    batch."""

    def __init__(self, hashes: DataFrame, blocks: DataFrame, verify: DataFrame):
        self.hashes = hashes  # (clip_id, payload_md5)
        self.blocks = blocks  # (doc, bkey)
        self.verify = verify  # (doc, rms, centroid_hz, bands)


def _block_keys(features: DataFrame, id_col: str, *keep: str) -> DataFrame:
    """(doc, *keep, bkey) multi-probe block keys from a feature frame —
    the packing audio_dup_pairs and the ingest gate block on (shared
    with the DuckDB oracle)."""
    key = lambda bucket: (  # noqa: E731
        F.col("peak_band") * F.lit(_KEY_SHIFT)
        + (F.col(bucket) + F.lit(_BUCKET_OFFSET))
    ) * F.lit(_KEY_SHIFT) + F.col("n_samples")
    return features.select(
        F.col(id_col).alias("doc"),
        *keep,
        F.explode(
            F.array_distinct(F.array(key("rms_bucket"), key("rms_bucket_hi")))
        ).alias("bkey"),
    )


def build_audio_index(corpus: DataFrame, *, id_col: str = "clip_id") -> AudioIndex:
    """One decode pass over the corpus → the three slim AudioIndex
    relations, each pinned (consumed by per-batch gate joins)."""
    from .dedup import _pin

    hashes = _pin(
        corpus.select(F.col(id_col), F.md5("bytes").alias("payload_md5"))
    )
    feats = _pin(
        with_audio_features(corpus)
        .where(F.col("fingerprint").isNotNull())
        .select(id_col, *_GATE_FEATURES)
    )
    blocks = _pin(_block_keys(feats, id_col))
    verify = _pin(
        feats.select(
            F.col(id_col).alias("doc"), "rms", "centroid_hz", "bands"
        )
    )
    return AudioIndex(hashes, blocks, verify)


def _verify_pairs(
    cand: DataFrame,
    side_a: DataFrame,
    side_b: DataFrame,
    min_cosine: float,
    max_centroid_ratio: float,
    max_rms_ratio: float,
) -> DataFrame:
    """Exact verify of (id_a, id_b, ...) candidates against two (doc, rms,
    centroid_hz, bands) frames — the near-duplicate gates of
    audio_dup_pairs and the ingest gate. Keeps the candidate columns."""
    ren = lambda df, tag: df.select(  # noqa: E731
        F.col("doc").alias(f"id_{tag}"),
        F.col("rms").alias(f"rms_{tag}"),
        F.col("centroid_hz").alias(f"cent_{tag}"),
        F.col("bands").alias(f"bands_{tag}"),
    )
    dot = lambda x, y: F.aggregate(  # noqa: E731
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )
    return (
        cand.join(ren(side_a, "a"), "id_a")
        .join(ren(side_b, "b"), "id_b")
        .withColumn(
            "cosine",
            dot(F.col("bands_a"), F.col("bands_b"))
            / (
                F.sqrt(dot(F.col("bands_a"), F.col("bands_a")))
                * F.sqrt(dot(F.col("bands_b"), F.col("bands_b")))
            ),
        )
        .where(
            (F.col("cosine") >= F.lit(min_cosine))
            & (
                F.abs(F.col("cent_a") / F.col("cent_b") - 1.0)
                <= F.lit(max_centroid_ratio)
            )
            & (F.abs(F.col("rms_a") / F.col("rms_b") - 1.0) <= F.lit(max_rms_ratio))
        )
        .select(*cand.columns)
    )


def audio_ingest_gate(
    batch: DataFrame,
    corpus: DataFrame | None = None,
    *,
    index: AudioIndex | None = None,
    id_col: str = "clip_id",
    min_cosine: float = 0.99,
    max_centroid_ratio: float = 0.005,
    max_rms_ratio: float = 0.02,
) -> DataFrame:
    """Dedup-before-append gate for audio clip ingestion — the audio
    twin of incremental.dedup_gate (≙ the reference's dedup-before-
    visible copy contract, tinybird/pipes/dedup_log.pipe:4-6). Returns
    (clip_id, admitted, reason); sequential gates, first match names
    the rejection:

    1. ``exact-batch``  — not the min-id clip of its payload-md5 group
       within the batch (byte-identical re-uploads).
    2. ``exact-corpus`` — payload md5 already present in the corpus.
    3. ``near-corpus``  — blocked + verified audio near-dup of a corpus
       clip (a transcoded/re-encoded copy of already-ingested content).
    4. ``near-batch``   — verified near-dup of a LOWER-id surviving
       batch clip (greedy pairwise, min id wins — same convention as
       the text gate).

    Scale shape: the batch (a daily increment — always the small side)
    is decoded ONCE and broadcast into every corpus-side join; corpus
    relations stream from the prebuilt AudioIndex (pass ``index`` to
    skip recomputing it, the production path). The exact gates are pure
    JVM md5 — no decode at all for byte-identical rejects.
    """
    from .dedup import _pin, bucket_pairs
    from .incremental import annotate_gate, exact_gates

    bid = F.col(id_col)
    if corpus is not None and index is None:
        index = build_audio_index(corpus, id_col=id_col)
    rejects, survivors = exact_gates(
        batch.select(bid, F.md5("bytes").alias("payload_md5")),
        None if index is None else index.hashes,
        id_col=id_col,
    )

    # one decode pass over the exact-gate survivors only
    feats_b = _pin(
        with_audio_features(batch.join(F.broadcast(survivors), id_col))
        .where(F.col("fingerprint").isNotNull())
        .select(id_col, *_GATE_FEATURES)
    )
    blocks_b = _pin(_block_keys(feats_b, id_col))
    verify_b = feats_b.select(
        F.col(id_col).alias("doc"), "rms", "centroid_hz", "bands"
    )

    if index is not None:
        # -- gate 3: near vs corpus ------------------------------------
        cand_c = (
            index.blocks.alias("c")
            .join(F.broadcast(blocks_b.alias("n")), F.col("c.bkey") == F.col("n.bkey"))
            .select(F.col("n.doc").alias("id_a"), F.col("c.doc").alias("id_b"))
            .distinct()
        )
        near_corpus = (
            _verify_pairs(
                cand_c, verify_b, index.verify,
                min_cosine, max_centroid_ratio, max_rms_ratio,
            )
            .select(F.col("id_a").alias(id_col))
            .distinct()
            .select(bid, F.lit("near-corpus").alias("reason"))
        )
        rejects.append(near_corpus)
        survivors = survivors.join(
            F.broadcast(near_corpus.select(id_col)), id_col, "left_anti"
        )
        blocks_b = blocks_b.join(
            F.broadcast(survivors.select(F.col(id_col).alias("doc"))), "doc"
        )

    # -- gate 4: near within batch (greedy pairwise, min id wins) ------
    cand_b = bucket_pairs(blocks_b, ["bkey"], broadcast=True)
    near_batch = (
        _verify_pairs(
            cand_b, verify_b, verify_b,
            min_cosine, max_centroid_ratio, max_rms_ratio,
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .select(bid, F.lit("near-batch").alias("reason"))
    )
    rejects.append(near_batch)

    return annotate_gate(batch, rejects, id_col=id_col)


def audio_drift(
    features: DataFrame,
    *,
    feature_cols: tuple[str, ...] = ("rms", "centroid_hz", "n_samples"),
    partition_col: str = "partition_key",
    id_col: str = "clip_id",
    bins: int = 20,
) -> DataFrame:
    """KS/PSI distribution drift of DECODED-PCM features per corpus
    partition — the audio-domain extension of the metadata drift rule
    (north rule: KS/PSI on dur_ms/sr_hz per partition; a corrupted
    encoder or a mis-set capture chain shifts rms/centroid/n_samples
    even when the metadata columns still look plausible).

    Composes functions/stats.drift_scores (same binning, Laplace
    smoothing, robust per-bin-median baseline) once per feature over ONE
    pinned slim (pk, features...) frame, so the Arrow decode pass runs
    exactly once no matter how many features are scored. If `features`
    lacks `partition_col` it is derived as the clip_id's partition tag
    (chars before the '-', the synth/partition layout key).

    Returns (feature, partition_key, psi, ks) for every partition ×
    feature; thresholding is the caller's policy (DriftRule's contract).
    """
    from .dedup import _pin
    from .stats import drift_scores

    f = features.where(F.col("ok"))
    if partition_col not in f.columns:
        f = f.withColumn(
            partition_col, F.substring_index(F.col(id_col), "-", 1)
        )
    slim = _pin(
        f.select(
            F.col(partition_col).alias("pk"),
            *[F.col(c).cast("double").alias(c) for c in feature_cols],
        )
    )
    scored = None
    for c in feature_cols:
        s = drift_scores(slim, c, partition_col="pk", bins=bins).select(
            F.lit(c).alias("feature"), "partition_key", "psi", "ks"
        )
        scored = s if scored is None else scored.unionByName(s)
    return scored


def audio_topk(
    features: DataFrame,
    query_clip_id: str,
    *,
    k: int = 10,
    method: str = "brute",
    n_planes: int = 6,
    multi_probe: int = 1,
) -> DataFrame:
    """Acoustic similarity search: top-k nearest clips to
    ``query_clip_id`` by cosine over the 64-dim band-energy vectors
    (``bands``, produced by with_audio_features) — "find clips that
    sound like this one" over a decoded-feature index, the audio twin
    of the embedding ANN stack (functions/similarity).

    ``method='brute'`` is the exact baseline: one scan + an ordered
    k-row take (TakeOrderedAndProject — no full sort). ``method='lsh'``
    is the scale path: sign-bit hyperplane buckets over the SAME
    deterministic md5 plane family the embedding ANN uses, multi-probe
    Hamming filter, brute-force only inside the probed buckets — at
    corpus scale `bucket` is the write-time cluster key so the probe
    prunes files instead of scanning 10^12 clips.

    Degenerate clips (decode failures, all-silence: ``ok`` false or
    ``peak`` = 0) carry no usable spectrum and are excluded from both
    the index and the query side — a zero band vector has no cosine.
    The query vector is fetched with one driver ``first()`` (it is a
    scalar parameter of the search, same contract as similarity.
    brute_force_topk's ``qvec``).

    Returns (clip_id, cosine) with cosine rounded to 4 — ties broken by
    clip_id for cross-engine determinism.
    """
    from .similarity import brute_force_topk, lsh_topk

    base = features.where(F.col("ok") & (F.col("peak") > 0)).select(
        "clip_id", "bands"
    )
    row = base.where(F.col("clip_id") == query_clip_id).select("bands").first()
    if row is None:
        raise ValueError(
            f"audio_topk: query clip {query_clip_id!r} not in the usable "
            "corpus (missing, decode-failed, or silent)"
        )
    qvec = [float(x) for x in row[0]]
    if method == "brute":
        return brute_force_topk(
            base, qvec, k=k, id_col="clip_id", vec_col="bands",
            exclude_id=query_clip_id,
        )
    if method == "lsh":
        return lsh_topk(
            base, qvec, k=k, n_planes=n_planes, multi_probe=multi_probe,
            id_col="clip_id", vec_col="bands", exclude_id=query_clip_id,
        )
    raise ValueError(f"audio_topk: unknown method {method!r}")
