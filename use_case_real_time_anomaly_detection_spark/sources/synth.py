"""Deterministic clip + manifest synthesizer with prescribed violations.

Transposes the reference's generator-as-oracle strategy
(SURVEY.md §5.1: sensors 2/3 trend, sensor 5 stops at a known iteration —
reference: data-generator/anomaly-dataset-live.py:67-105,179-180;
knobs in data-generator/settings.yaml:1-35) from sensors to audio clips
(FIXTURES.md §1). Two design rules make it scale- and test-friendly:

1. **Distributed generation**: clips are generated per-partition inside
   ``mapInPandas`` over ``spark.range(partitions)`` — the same code path
   would synthesize 10^12 clips on a cluster; nothing materializes on the
   driver.
2. **Index-arithmetic injections**: every prescribed violation is decided
   by pure arithmetic on (partition, seq) — e.g. ``seq % 97 == 13`` ⇒
   out-of-range — never by RNG draws, so the pytest oracle recomputes the
   exact violating clip_ids without running Spark.

clip_id = ``c{part:03d}-{seq:09d}``: the partition tag + a dense,
monotone per-partition sequence. The sequence carries ordering for
rate-of-change / gap / rolling-z rules because the mandated input shape
has no timestamp column (SURVEY.md §7.3).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions.audio import (
    mulaw_encode,
    pcm16_wav_encode,
    reference_waveform,
    stable_hash,
)

CLIPS_SCHEMA = StructType(
    [
        StructField("clip_id", StringType(), False),
        StructField("bytes", BinaryType(), True),
        StructField("sr_hz", IntegerType(), True),
        StructField("dur_ms", IntegerType(), True),
        StructField("codec", StringType(), True),
        StructField("transcript", StringType(), True),
    ]
)

MANIFEST_SCHEMA = StructType(
    [
        StructField("clip_id", StringType(), False),
        StructField("expected_codec", StringType(), True),
        StructField("expected_sr_hz", IntegerType(), True),
        StructField("expected_transcript", StringType(), True),
    ]
)

_VOCAB = (
    "the quick brown fox jumps over lazy dog audio clip sample "
    "speech signal noise test data stream valid check sound wave"
).split()

# Injection moduli — pure (partition, seq) arithmetic, shared with the
# pytest oracle. Rates roughly mirror settings.yaml's percentages.
MOD_OOR = (97, 13)  # dur_ms excursion outside [200, 2000]
MOD_STEP = (89, 7)  # transient dur spike (rate-of-change + z-score)
MOD_GAP = (101, 50)  # seq not emitted → gap at the next emitted seq
MOD_DUP = (127, 40)  # clip_id emitted twice
MOD_ORPHAN = (131, 17)  # clip absent from the manifest
MOD_BADAUDIO = (109, 21)  # payload encoded from a distorted waveform
MOD_BADSR = (151, 99)  # sr_hz = 44100 (outside allowed {8000, 16000})
MOD_BADCODEC = (163, 77)  # codec = 'opus', undecodable junk payload
MOD_BADTRANSCRIPT = (113, 31)  # transcript corrupted vs manifest
MOD_BADMETA = (139, 58)  # manifest's expected_codec diverges from the table


def _hit(seq: int, mod: tuple[int, int]) -> bool:
    return seq % mod[0] == mod[1]


@dataclass(frozen=True)
class SynthSpec:
    seed: int = 42
    partitions: int = 8
    clips_per_partition: int = 400
    sr_hz: int = 16000
    base_dur_ms: int = 1000
    valid_dur = (200, 2000)  # ≙ settings.yaml valid_min/valid_max transposed
    stopped_partition: int = -1  # last partition "stops" ≙ sensor 5
    stop_fraction: float = 0.6
    drift_partition: int = 1  # dur distribution shifted ⇒ drift must flag
    drift_offset: int = 300
    sr_drift_partition: int = 2  # sr_hz mix flipped ⇒ sr-drift must flag
    sr_drift_pct: int = 50  # % of the partition's clips at the "other" rate
    # audio synth cost knob: sr for payload generation can be decimated in
    # tests (payload sr == sr_hz column value; keep real for correctness)


def partition_tag(p: int) -> str:
    return f"c{p:03d}"


def make_clip_id(p: int, seq: int) -> str:
    return f"{partition_tag(p)}-{seq:09d}"


def expected_transcript(clip_id: str, seed: int) -> str:
    h = stable_hash(f"t:{seed}:{clip_id}")
    n = 3 + h % 6
    return " ".join(_VOCAB[(h >> (i % 16)) % len(_VOCAB)] for i in range(n))


def plan_partition(p: int, spec: SynthSpec) -> pd.DataFrame:
    """Metadata plan for one partition (no audio bytes yet) — pure numpy.

    Also serves as the pytest oracle's ground truth (same arithmetic).
    """
    n = spec.clips_per_partition
    stopped = p == (spec.stopped_partition % spec.partitions)
    last = int(n * spec.stop_fraction) if stopped else n
    rng = np.random.default_rng((spec.seed << 8) ^ p)

    seqs = [s for s in range(last) if not _hit(s, MOD_GAP)]
    # never drop the final seq of a healthy partition (keeps frontier math
    # exact: staleness must come only from the stopped partition)
    if not stopped and (last - 1) not in seqs:
        seqs.append(last - 1)
    seqs = sorted(seqs)
    m = len(seqs)

    # mean-reverting dur walk ≙ random walk ±2 (settings.yaml:16-18).
    # Bounded uniform steps (not gaussian): |Δdur| ≤ 2 so the walk itself
    # can never trip max_slope=3 — only injected spikes do, exactly like
    # the reference generator's ±change_value steps.
    dur = np.empty(m, dtype=np.float64)
    cur = float(spec.base_dur_ms)
    noise = rng.uniform(-2.0, 2.0, m)
    for i in range(m):
        cur = float(np.clip(cur + noise[i], 700.0, 1300.0))
        dur[i] = cur
    if p == spec.drift_partition:
        dur = dur + spec.drift_offset  # distribution shift ⇒ KS/PSI flags

    rows = []
    for i, s in enumerate(seqs):
        d = dur[i]
        if _hit(s, MOD_STEP):  # transient spike of 20-50 (max_slope=3 trips)
            d = d + (20 + (s * 7) % 31) * (1 if s % 2 == 0 else -1)
        if _hit(s, MOD_OOR):  # excursion beyond valid range (settings.yaml:9-12)
            d = float(spec.valid_dur[1] + 20 + (s * 11) % 980) if s % 2 == 0 else float(
                max(0, spec.valid_dur[0] - 20 - (s * 11) % 180)
            )
        sr = spec.sr_hz
        if (
            p == spec.sr_drift_partition
            and stable_hash(f"srd:{spec.seed}:{p}:{s}") % 100 < spec.sr_drift_pct
        ):
            # distribution drift on sr_hz (north rule: KS/PSI on dur_ms AND
            # sr_hz): flip a fraction of one partition to the other valid
            # rate — individually legal values, collectively a mix shift
            sr = 8000 if spec.sr_hz != 8000 else 16000
        if _hit(s, MOD_BADSR):
            sr = 44100
        codec = "pcm16" if (stable_hash(f"c:{spec.seed}:{p}:{s}") % 100) < 80 else "mulaw"
        if _hit(s, MOD_BADCODEC):
            codec = "opus"
        cid = make_clip_id(p, s)
        rows.append(
            {
                "clip_id": cid,
                "seq": s,
                "sr_hz": int(sr),
                "dur_ms": int(round(d)),
                "codec": codec,
                "bad_audio": _hit(s, MOD_BADAUDIO),
                "bad_transcript": _hit(s, MOD_BADTRANSCRIPT),
                "dup": _hit(s, MOD_DUP),
                "orphan": _hit(s, MOD_ORPHAN),
            }
        )
    return pd.DataFrame(rows)


def _render_rows(p: int, spec: SynthSpec) -> pd.DataFrame:
    """Materialize one partition's clips (bytes + transcript) from its plan."""
    plan = plan_partition(p, spec)
    out = []
    for row in plan.itertuples(index=False):
        ref = reference_waveform(row.clip_id, row.sr_hz, row.dur_ms, seed=spec.seed)
        sig = ref
        if row.bad_audio:  # corrupt payload ⇒ SNR ≪ 30 dB
            rng = np.random.default_rng(stable_hash("bad:" + row.clip_id))
            sig = np.clip(ref + rng.normal(0.0, 0.3, len(ref)), -1, 1).astype(np.float32)
        if row.codec == "pcm16":
            payload = pcm16_wav_encode(sig, row.sr_hz)
        elif row.codec == "mulaw":
            payload = mulaw_encode(sig)
        else:  # invalid codec: junk bytes no decoder accepts
            payload = b"OggS" + bytes((stable_hash(row.clip_id) % 251,)) * 64
        ts = expected_transcript(row.clip_id, spec.seed)
        if row.bad_transcript:
            ts = " ".join(reversed(ts.split())) + " [corrupted]"
        rec = {
            "clip_id": row.clip_id,
            "bytes": payload,
            "sr_hz": int(row.sr_hz),
            "dur_ms": int(row.dur_ms),
            "codec": row.codec,
            "transcript": ts,
        }
        out.append(rec)
        if row.dup:
            out.append(dict(rec))  # exact duplicate row
    return pd.DataFrame(out, columns=[f.name for f in CLIPS_SCHEMA.fields])


def metadata_pandas(spec: SynthSpec = SynthSpec()) -> pd.DataFrame:
    """The clip table MINUS the audio payload, as one pandas frame —
    exactly ``generate_clips(...).drop("bytes")`` plus the derived
    (partition_key, seq) columns (equality asserted in
    tests/test_clips_engine.py). Pure pandas so oracle harnesses can
    materialize the fixture without a SparkSession."""
    frames = []
    for p in range(spec.partitions):
        plan = plan_partition(p, spec)
        rows = []
        for row in plan.itertuples(index=False):
            ts = expected_transcript(row.clip_id, spec.seed)
            if row.bad_transcript:
                ts = " ".join(reversed(ts.split())) + " [corrupted]"
            rec = {
                "clip_id": row.clip_id,
                "sr_hz": int(row.sr_hz),
                "dur_ms": int(row.dur_ms),
                "codec": row.codec,
                "transcript": ts,
                "partition_key": partition_tag(p),
                "seq": int(row.seq),
            }
            rows.append(rec)
            if row.dup:
                rows.append(dict(rec))
        frames.append(pd.DataFrame(rows))
    out = pd.concat(frames, ignore_index=True)
    out["sr_hz"] = out["sr_hz"].astype("int32")
    out["dur_ms"] = out["dur_ms"].astype("int32")
    out["seq"] = out["seq"].astype("int64")
    return out


def _manifest_codec(plan: pd.DataFrame) -> pd.Series:
    """The manifest's expected_codec: the plan's codec, except the
    MOD_BADMETA subset where the manifest records the INTENDED codec and
    the table diverged (a mis-transcoded delivery) — the planted
    violation set for RefMatchRule. Invalid codecs (opus) are left
    matching: those rows are ValueSetRule/decode territory."""
    flip = (plan["seq"] % MOD_BADMETA[0] == MOD_BADMETA[1]) & plan["codec"].isin(
        ["pcm16", "mulaw"]
    )
    out = plan["codec"].where(
        ~flip, plan["codec"].map({"pcm16": "mulaw", "mulaw": "pcm16"})
    )
    return out


def manifest_pandas(spec: SynthSpec = SynthSpec()) -> pd.DataFrame:
    """``generate_manifest`` as one pandas frame (pure python)."""
    frames = []
    for p in range(spec.partitions):
        plan = plan_partition(p, spec)
        plan = plan[~plan["orphan"]]
        frames.append(
            pd.DataFrame(
                {
                    "clip_id": plan["clip_id"],
                    "expected_codec": _manifest_codec(plan),
                    "expected_sr_hz": plan["sr_hz"].astype("int32"),
                    "expected_transcript": [
                        expected_transcript(c, spec.seed) for c in plan["clip_id"]
                    ],
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


def _spark_round_str(x, d: int = 2) -> str | None:
    """Mirror of the engine's note-number idiom toString(ROUND(x, d)):
    Spark rounds the double's SHORTEST DECIMAL REPR half-up
    (BigDecimal.valueOf → setScale(HALF_UP)) and casts via
    Double.toString. Python's repr is the same shortest-roundtrip
    decimal, so Decimal(repr(x)) + ROUND_HALF_UP + repr(float) produces
    the identical bytes for the magnitudes SNR values take."""
    if x is None:
        return None
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(repr(float(x))).quantize(Decimal(1).scaleb(-d), rounding=ROUND_HALF_UP)
    return repr(float(q))


def audio_violations_pandas(
    spec: SynthSpec = SynthSpec(),
    *,
    min_snr_db: float = 30.0,
    detector: str = "audio-decode",
) -> pd.DataFrame:
    """Expected audio-decode violation rows, pure pandas/numpy — the
    oracle twin of the engine's AudioDecodeRule output (VIOLATION_COLUMNS
    shape). Runs the SAME check_clip numpy path over the SAME rendered
    payload bytes, so snr_db doubles (and their note strings) are
    bit-identical to the Spark mapInArrow result; the driver can
    therefore hash-compare the full audio violation set, closing the one
    `no_oracle` gap of rounds 1-2. Deduped per (partition, clip,
    detector) by min (observed, note) — the engine's limit_by order."""
    from ..functions.audio import check_clip

    rows = []
    for p in range(spec.partitions):
        rendered = _render_rows(p, spec)
        for row in rendered.itertuples(index=False):
            ok, db, err = check_clip(
                row.clip_id,
                row.bytes,
                row.codec,
                row.sr_hz,
                row.dur_ms,
                min_snr_db=min_snr_db,
                ref_seed=spec.seed,
            )
            if ok:
                continue
            snr_s = _spark_round_str(db) or "nan"
            rows.append(
                {
                    "partition_key": partition_tag(p),
                    "clip_id": row.clip_id,
                    "detector": detector,
                    "observed": snr_s,
                    "note": (
                        f"snr_db:{snr_s}| min_snr_db:{min_snr_db:g}"
                        f"| decode_error:{err or ''}"
                    ),
                }
            )
    out = pd.DataFrame(
        rows, columns=["partition_key", "clip_id", "detector", "observed", "note"]
    )
    return (
        out.sort_values(["observed", "note"], kind="mergesort")
        .drop_duplicates(["partition_key", "clip_id", "detector"], keep="first")
        .sort_values(["partition_key", "clip_id"], kind="mergesort")
        .reset_index(drop=True)
    )


def audio_qc_violations_pandas(
    spec: SynthSpec = SynthSpec(),
    *,
    max_clip_ratio: float | None = 0.05,
    max_silence_ratio: float | None = 0.9,
    min_rms: float | None = None,
    max_rms: float | None = None,
    detector: str = "audio-qc",
) -> pd.DataFrame:
    """Expected AudioQcRule violation rows, pure pandas/numpy — oracle
    twin of the engine's decoded-signal QC fences. Same check_clip_qc
    numpy path over the same rendered bytes ⇒ bit-identical metric
    doubles ⇒ the formatted observed/note strings hash-compare. Decode
    failures (NULL metrics) are never flagged, mirroring the engine's
    NULL-condition drop."""
    from ..functions.audio import check_clip_qc

    bound_bits = []
    if max_clip_ratio is not None:
        bound_bits.append(f"max_clip_ratio:{max_clip_ratio:g}")
    if max_silence_ratio is not None:
        bound_bits.append(f"max_silence_ratio:{max_silence_ratio:g}")
    if min_rms is not None:
        bound_bits.append(f"min_rms:{min_rms:g}")
    if max_rms is not None:
        bound_bits.append(f"max_rms:{max_rms:g}")
    note = "| ".join(bound_bits)

    rows = []
    for p in range(spec.partitions):
        rendered = _render_rows(p, spec)
        for row in rendered.itertuples(index=False):
            _ok, _db, _err, sil, cr, rms = check_clip_qc(
                row.clip_id,
                row.bytes,
                row.codec,
                row.sr_hz,
                row.dur_ms,
                min_snr_db=30.0,
                ref_seed=spec.seed,
            )
            if sil is None:  # decode failure: QC never fires
                continue
            breach = (
                (max_clip_ratio is not None and cr > max_clip_ratio)
                or (max_silence_ratio is not None and sil > max_silence_ratio)
                or (min_rms is not None and rms < min_rms)
                or (max_rms is not None and rms > max_rms)
            )
            if not breach:
                continue
            rows.append(
                {
                    "partition_key": partition_tag(p),
                    "clip_id": row.clip_id,
                    "detector": detector,
                    "observed": (
                        f"clip_ratio:{_spark_round_str(cr, 4)}"
                        f"| silence_ratio:{_spark_round_str(sil, 4)}"
                        f"| rms:{_spark_round_str(rms, 4)}"
                    ),
                    "note": note,
                }
            )
    out = pd.DataFrame(
        rows, columns=["partition_key", "clip_id", "detector", "observed", "note"]
    )
    return (
        out.sort_values(["observed", "note"], kind="mergesort")
        .drop_duplicates(["partition_key", "clip_id", "detector"], keep="first")
        .sort_values(["partition_key", "clip_id"], kind="mergesort")
        .reset_index(drop=True)
    )


REENCODE_MOD = (50, 3)  # seq arithmetic picking the transcoded-twin subset


def reencoded_subset_pandas(rendered: pd.DataFrame) -> pd.DataFrame:
    """μ-law transcoded twins of the pcm16 clips hit by REENCODE_MOD —
    the pandas mirror of `reencode_clips(clips.filter(...))` with
    clip_id suffixed '~re'. Decode→re-encode runs on the RENDERED bytes
    (decode(encode(sig)) ≠ sig), exactly like the Spark operator."""
    from ..functions.audio import DECODERS

    out = []
    for row in rendered.itertuples(index=False):
        seq = int(row.clip_id.split("-")[1])
        if row.codec != "pcm16" or seq % REENCODE_MOD[0] != REENCODE_MOD[1]:
            continue
        sig = DECODERS["pcm16"](row.bytes, int(row.sr_hz))
        rec = {
            "clip_id": row.clip_id + "~re",
            "bytes": mulaw_encode(sig),
            "sr_hz": int(row.sr_hz),
            "dur_ms": int(row.dur_ms),
            "codec": "mulaw",
            "transcript": row.transcript,
        }
        out.append(rec)
    return pd.DataFrame(out, columns=[f.name for f in CLIPS_SCHEMA.fields])


def _transformed_features_pandas(spec: SynthSpec, transform) -> pd.DataFrame:
    """Shared oracle-twin loop: render the base corpus, apply
    ``transform(payload, codec, sr, dur) -> (payload, sr, dur)`` (the
    pure-pandas mirror of a clip transform operator; raise inside to
    pass the row through unchanged), then clip_features — every double
    bit-identical to the Spark operator chain."""
    from ..functions.audio_features import FEATURE_FIELDS, clip_features

    rows = []
    for p in range(spec.partitions):
        for row in _render_rows(p, spec).itertuples(index=False):
            sr, payload, dur = int(row.sr_hz), row.bytes, int(row.dur_ms)
            try:
                payload, sr, dur = transform(payload, row.codec, sr, dur)
            except Exception:
                pass  # pass-through, original payload/sr/dur kept
            rec = {
                "clip_id": row.clip_id,
                "codec": row.codec,
                "sr_hz": sr,
                "dur_ms": dur,
            }
            rec.update(clip_features(payload, row.codec, sr, dur))
            rows.append(rec)
    cols = ["clip_id", "codec", "sr_hz", "dur_ms", "ok", "err"] + [
        f.name for f in FEATURE_FIELDS
    ]
    out = pd.DataFrame(rows, columns=cols)
    out = out.drop_duplicates(["clip_id"], keep="first")  # MOD_DUP twin rows
    out["sr_hz"] = out["sr_hz"].astype("int32")
    out["dur_ms"] = out["dur_ms"].astype("int32")
    out["n_samples"] = out["n_samples"].astype("Int64")
    out["fingerprint"] = out["fingerprint"].astype("Int64")
    return out.sort_values("clip_id", kind="mergesort").reset_index(drop=True)


def audio_resample_features_pandas(
    spec: SynthSpec = SynthSpec(), to_sr: int = 8000
) -> pd.DataFrame:
    """Oracle twin of the `audio_resample` query: features of the base
    corpus AFTER sr normalization — the exact operator chain
    (decode → resample_signal → re-encode → clip_features) in pure
    pandas, so every double is bit-identical to the Spark path."""
    from ..functions.audio import DECODERS
    from ..functions.audio_features import ENCODERS, resample_signal

    def transform(payload, codec, sr, dur):
        if sr == to_sr:
            return payload, sr, dur
        dec_fn, enc_fn = DECODERS.get(codec), ENCODERS.get(codec)
        if dec_fn is None or enc_fn is None or not payload:
            raise ValueError("undecodable")
        sig = dec_fn(payload, sr)
        return enc_fn(resample_signal(sig, sr, to_sr), to_sr), to_sr, dur

    return _transformed_features_pandas(spec, transform)


def audio_trim_features_pandas(spec: SynthSpec = SynthSpec()) -> pd.DataFrame:
    """Oracle twin of the `audio_trim` query: features of the base corpus
    AFTER dead-air trimming — the exact operator chain
    (decode → trim_signal → re-encode → recompute dur_ms → clip_features)
    in pure pandas, bit-identical to the Spark path."""
    from ..functions.audio import DECODERS
    from ..functions.audio_features import ENCODERS, trim_signal

    def transform(payload, codec, sr, dur):
        dec_fn, enc_fn = DECODERS.get(codec), ENCODERS.get(codec)
        if dec_fn is None or enc_fn is None or not payload:
            raise ValueError("undecodable")
        trimmed = trim_signal(dec_fn(payload, sr))
        new_dur = int(round(len(trimmed) * 1000.0 / sr)) if sr > 0 else 0
        return enc_fn(trimmed, sr), sr, new_dur

    return _transformed_features_pandas(spec, transform)


def audio_segments_pandas(
    spec: SynthSpec = SynthSpec(),
    *,
    window_ms: int | None = None,
    hop_ms: int | None = None,
    gap_ms: int | None = None,
    min_ms: int = 0,
) -> pd.DataFrame:
    """Oracle twin of the `audio_segments` query: the corpus segmented
    in pure pandas — decode → segment_signal → re-encode per segment —
    with each segment payload reduced to its md5 (byte-exact identity;
    the parquet twin stays slim). One row per segment."""
    import hashlib

    from ..functions.audio import DECODERS
    from ..functions.audio_features import ENCODERS, segment_signal

    rows = []
    for p in range(spec.partitions):
        seen = set()
        for row in _render_rows(p, spec).itertuples(index=False):
            if row.clip_id in seen:  # MOD_DUP twin rows
                continue
            seen.add(row.clip_id)
            dec_fn = DECODERS.get(row.codec)
            enc_fn = ENCODERS.get(row.codec)
            sr = int(row.sr_hz)
            try:
                if dec_fn is None or enc_fn is None or not row.bytes:
                    raise ValueError("undecodable")
                segs = segment_signal(
                    dec_fn(row.bytes, sr),
                    sr,
                    window_ms=window_ms,
                    hop_ms=hop_ms,
                    gap_ms=gap_ms,
                    min_ms=min_ms,
                )
            except Exception:
                continue  # undecodable: zero segments, like the operator
            for j, (start, seg) in enumerate(segs):
                rows.append(
                    {
                        "clip_id": row.clip_id,
                        "segment_id": f"{row.clip_id}#{j:04d}",
                        "seg_index": j,
                        "start_ms": int(round(start * 1000.0 / sr)),
                        "dur_ms": int(round(len(seg) * 1000.0 / sr)),
                        "sr_hz": sr,
                        "codec": row.codec,
                        "payload_md5": hashlib.md5(enc_fn(seg, sr)).hexdigest(),
                    }
                )
    out = pd.DataFrame(
        rows,
        columns=[
            "clip_id", "segment_id", "seg_index", "start_ms",
            "dur_ms", "sr_hz", "codec", "payload_md5",
        ],
    )
    for c in ("seg_index", "start_ms", "dur_ms", "sr_hz"):
        out[c] = out[c].astype("int32")
    return out.sort_values("segment_id", kind="mergesort").reset_index(drop=True)


def audio_normalize_features_pandas(
    spec: SynthSpec = SynthSpec(),
    target_rms: float = 0.45,
    peak_ceiling: float = 0.999,
) -> pd.DataFrame:
    """Oracle twin of the `audio_normalize` query: features after
    peak-safe loudness normalization — exact operator chain in pure
    pandas, bit-identical to the Spark path."""
    import numpy as np

    from ..functions.audio import DECODERS
    from ..functions.audio_features import ENCODERS, normalize_gain

    def transform(payload, codec, sr, dur):
        dec_fn, enc_fn = DECODERS.get(codec), ENCODERS.get(codec)
        if dec_fn is None or enc_fn is None or not payload:
            raise ValueError("undecodable")
        sig = dec_fn(payload, sr)
        g = normalize_gain(sig, target_rms, peak_ceiling)
        return enc_fn((sig.astype(np.float64) * g).astype(np.float32), sr), sr, dur

    return _transformed_features_pandas(spec, transform)


def audio_pipeline_features_pandas(
    spec: SynthSpec = SynthSpec(),
    ops: tuple = (("trim", {}), ("resample", {"to_sr": 8000}), ("normalize", {})),
) -> pd.DataFrame:
    """Oracle twin of the `audio_pipeline` query: the FUSED prep chain
    (decode once → trim → resample → normalize → features straight from
    the float signal, no intermediate encode) in pure pandas —
    bit-identical doubles to functions/audio_features.clip_pipeline."""
    from ..functions.audio import DECODERS
    from ..functions.audio_features import (
        FEATURE_FIELDS,
        _apply_signal_op,
        signal_features,
    )

    rows = []
    for p in range(spec.partitions):
        for row in _render_rows(p, spec).itertuples(index=False):
            sr, dur = int(row.sr_hz), int(row.dur_ms)
            rec = {"clip_id": row.clip_id, "codec": row.codec}
            feat = {"ok": False, "err": None}
            feat.update({f.name: None for f in FEATURE_FIELDS})
            # EXACTLY clip_pipeline's commit discipline: sr/dur commit iff
            # the decode+op chain succeeds; a later feature failure keeps
            # the committed values, an op-chain failure keeps the input
            # ones. (Both cases exist: a fully-silent clip whose trim
            # empties the signal fails IN the resample when to_sr != sr —
            # original metadata — but fails only at signal_features when
            # to_sr == sr — committed dur_ms 0.)
            try:
                dec_fn = DECODERS.get(row.codec)
                if dec_fn is None or not row.bytes:
                    raise ValueError("undecodable")
                sig = dec_fn(row.bytes, sr)
                for name, kw in ops:
                    sig, sr, dur = _apply_signal_op(name, sig, sr, dur, kw)
            except Exception as exc:
                sr, dur = int(row.sr_hz), int(row.dur_ms)
                feat["err"] = str(exc)[:120]
            else:
                try:
                    feat.update(ok=True, **signal_features(sig, sr))
                except Exception as exc:
                    feat.update(ok=False, err=str(exc)[:120])
            rec.update(sr_hz=sr, dur_ms=dur, **feat)
            rows.append(rec)
    cols = ["clip_id", "codec", "sr_hz", "dur_ms", "ok", "err"] + [
        f.name for f in FEATURE_FIELDS
    ]
    out = pd.DataFrame(rows, columns=cols)
    out = out.drop_duplicates(["clip_id"], keep="first")  # MOD_DUP twin rows
    out["sr_hz"] = out["sr_hz"].astype("int32")
    out["dur_ms"] = out["dur_ms"].astype("int32")
    out["n_samples"] = out["n_samples"].astype("Int64")
    out["fingerprint"] = out["fingerprint"].astype("Int64")
    return out.sort_values("clip_id", kind="mergesort").reset_index(drop=True)


def audio_features_pandas(spec: SynthSpec = SynthSpec()) -> pd.DataFrame:
    """Oracle twin of the `audio_features` query: per-clip decoded-PCM
    features over base corpus + transcoded twins, pure pandas/numpy.
    Same clip_features numpy path over the same rendered bytes ⇒
    bit-identical doubles (the clips_audio_violations discipline)."""
    from ..functions.audio_features import FEATURE_FIELDS, clip_features

    rows = []
    for p in range(spec.partitions):
        rendered = _render_rows(p, spec)
        rendered = pd.concat(
            [rendered, reencoded_subset_pandas(rendered)], ignore_index=True
        )
        for row in rendered.itertuples(index=False):
            rec = {
                "clip_id": row.clip_id,
                "codec": row.codec,
                "sr_hz": int(row.sr_hz),
                "dur_ms": int(row.dur_ms),
                # hex md5 of the raw payload (== Spark F.md5("bytes"));
                # backs the audio_ingest_gate oracle's exact gates
                "payload_md5": hashlib.md5(row.bytes).hexdigest()
                if row.bytes
                else None,
            }
            rec.update(clip_features(row.bytes, row.codec, row.sr_hz, row.dur_ms))
            rows.append(rec)
    cols = ["clip_id", "codec", "sr_hz", "dur_ms", "payload_md5", "ok", "err"] + [
        f.name for f in FEATURE_FIELDS
    ]
    out = pd.DataFrame(rows, columns=cols)
    out = out.drop_duplicates(["clip_id"], keep="first")  # MOD_DUP twin rows
    out["sr_hz"] = out["sr_hz"].astype("int32")
    out["dur_ms"] = out["dur_ms"].astype("int32")
    out["n_samples"] = out["n_samples"].astype("Int64")
    out["fingerprint"] = out["fingerprint"].astype("Int64")
    return out.sort_values("clip_id", kind="mergesort").reset_index(drop=True)


# ---------------------------------------------------------------------------
# Image fixture — REAL PNG/BMP payload bytes (functions/multimodal.py
# codecs) with prescribed violations, same grammar as the audio clips:
# content is a pure function of (partition, seq), defects land at fixed
# seq moduli so a correct decoder MUST flag exactly those items.
# ---------------------------------------------------------------------------

IMG_W, IMG_H = 16, 12
_IMG_TRUNC = (17, 5)  # seq % 17 == 5  → payload truncated (decode fails)
_IMG_DIMS = (23, 7)  # seq % 23 == 7  → declared dims off by +2 (mismatch)
_IMG_BADCODEC = (29, 11)  # seq % 29 == 11 → declared codec jpeg (unsupported)


def image_pixels(p: int, seq: int) -> np.ndarray:
    """Deterministic pixel grid for one item: index-arithmetic gradients,
    gray every 5th item, RGB otherwise — pre-encode ground truth for the
    round-trip features (the codecs are lossless, so decoded mean MUST
    equal this array's mean bit-for-bit)."""
    c = 1 if seq % 5 == 2 else 3
    yy = np.arange(IMG_H)[:, None, None]
    xx = np.arange(IMG_W)[None, :, None]
    ch = np.arange(c)[None, None, :]
    return ((xx * 7 + yy * 13 + ch * 29 + p * 31 + seq * 17) % 256).astype(np.uint8)


def images_pandas(spec: SynthSpec = SynthSpec()) -> pd.DataFrame:
    """The image table: (partition_key, item_id, seq, payload, codec,
    width, height) with REAL encoded bytes. RGB items alternate PNG/BMP;
    PNG rows cycle the scanline filter type (0–4) so the fixture
    exercises every decoder unfilter branch, not just the fast path."""
    from ..functions.multimodal import bmp_encode, png_encode

    rows = []
    for p in range(spec.partitions):
        for seq in range(spec.clips_per_partition):
            img = image_pixels(p, seq)
            use_bmp = seq % 4 == 3 and img.shape[2] == 3
            codec = "bmp" if use_bmp else "png"
            payload = (
                bmp_encode(img) if use_bmp else png_encode(img, filter_type=seq % 5)
            )
            w, h = IMG_W, IMG_H
            if _hit(seq, _IMG_TRUNC):
                payload = payload[: max(16, int(len(payload) * 0.6))]
            if _hit(seq, _IMG_DIMS):
                w, h = w + 2, h + 2
            if _hit(seq, _IMG_BADCODEC):
                codec = "jpeg"
            rows.append(
                {
                    "partition_key": partition_tag(p),
                    "item_id": make_clip_id(p, seq),
                    "seq": seq,
                    "payload": payload,
                    "codec": codec,
                    "width": w,
                    "height": h,
                }
            )
    out = pd.DataFrame(
        rows,
        columns=[
            "partition_key", "item_id", "seq", "payload", "codec", "width", "height",
        ],
    )
    out["seq"] = out["seq"].astype("int64")
    out["width"] = out["width"].astype("int32")
    out["height"] = out["height"].astype("int32")
    return out


def image_features_expected_pandas(spec: SynthSpec = SynthSpec()) -> pd.DataFrame:
    """Oracle twin of the image_features query: the SAME check_image
    kernel over the SAME payload bytes (the audio_violations_pandas
    discipline ⇒ bit-identical feature doubles and error strings).
    Clean rows additionally ASSERT the independent pre-encode ground
    truth — dims and mean must round-trip the codec exactly — so the
    twin is not a tautology: a lossy or dimension-mangling decoder
    fails fixture generation itself."""
    from ..functions.multimodal import check_image

    imgs = images_pandas(spec)
    rows = []
    for row in imgs.itertuples(index=False):
        ok, err, w, h, c, luma = check_image(row.payload, row.codec)
        seq = int(row.seq)
        p = int(row.partition_key[1:])
        if ok:
            truth = image_pixels(p, seq)
            assert (w, h, c) == (truth.shape[1], truth.shape[0], truth.shape[2])
            assert luma == float(truth.mean())
        rows.append(
            {
                "item_id": row.item_id,
                "width": w,
                "height": h,
                "channels": c,
                "mean_luma": luma,
                "decode_error": err,
            }
        )
    out = pd.DataFrame(
        rows,
        columns=["item_id", "width", "height", "channels", "mean_luma", "decode_error"],
    )
    for col in ("width", "height", "channels"):
        out[col] = out[col].astype("Int32")
    return out


def image_violations_pandas(
    spec: SynthSpec = SynthSpec(), *, detector: str = "image-decode"
) -> pd.DataFrame:
    """Expected ImageDecodeRule violation rows (VIOLATION_COLUMNS shape):
    decode failure OR decoded-vs-declared dimension mismatch, with the
    compiler's exact observed/note formatting."""
    from ..functions.multimodal import check_image

    imgs = images_pandas(spec)
    rows = []
    for row in imgs.itertuples(index=False):
        ok, err, w, h, _c, _luma = check_image(row.payload, row.codec)
        mismatch = ok and (w != int(row.width) or h != int(row.height))
        if ok and not mismatch:
            continue
        decoded = f"{w if w is not None else '?'}x{h if h is not None else '?'}"
        rows.append(
            {
                "partition_key": row.partition_key,
                "clip_id": row.item_id,
                "detector": detector,
                "observed": decoded,
                "note": (
                    f"decoded:{decoded}| declared:{int(row.width)}x{int(row.height)}"
                    f"| decode_error:{err or ''}"
                ),
            }
        )
    return pd.DataFrame(
        rows, columns=["partition_key", "clip_id", "detector", "observed", "note"]
    ).reset_index(drop=True)


def dup_image_pixels(p: int, seq: int) -> np.ndarray:
    """Deterministic TEXTURED pixels for the near-dup corpus: nonlinear
    index arithmetic (xy cross terms) so distinct items land far apart
    in dHash space (597/600 distinct hashes, ~0.05% incidental close
    pairs at hamming ≤ 6) — unlike image_pixels' linear gradients,
    which are all perceptually alike by construction."""
    yy = np.arange(IMG_H)[:, None, None]
    xx = np.arange(IMG_W)[None, :, None]
    ch = np.arange(3)[None, None, :]
    v = (
        (xx * yy * 37 + (xx + p) * (yy + seq) * 101 + ch * 29 + seq * seq * 13)
        // 3
    ) % 256
    return v.astype(np.uint8)


def image_dup_corpus_pandas(spec: SynthSpec = SynthSpec()) -> pd.DataFrame:
    """Near-dup image corpus: one textured item per (partition, seq),
    codec alternating PNG/BMP, plus planted duplicates — every 15th
    item re-encoded in the OTHER codec with identical pixels (``~re``:
    exact perceptual dup, hamming 0 — the cross-codec re-delivery no
    byte hash can match), and every item with seq % 10 == 5 perturbed
    by one strong pixel flip (``~v``: near-dup, tiny hamming).
    Columns (partition_key, item_id, payload, codec)."""
    from ..functions.multimodal import bmp_encode, png_encode

    def enc(img: np.ndarray, codec: str) -> bytes:
        return bmp_encode(img) if codec == "bmp" else png_encode(img)

    rows = []
    for p in range(spec.partitions):
        for seq in range(spec.clips_per_partition):
            img = dup_image_pixels(p, seq)
            codec = "bmp" if seq % 4 == 3 else "png"
            iid = make_clip_id(p, seq)
            rows.append(
                {
                    "partition_key": partition_tag(p),
                    "item_id": iid,
                    "payload": enc(img, codec),
                    "codec": codec,
                }
            )
            if seq % 15 == 0:
                other = "png" if codec == "bmp" else "bmp"
                rows.append(
                    {
                        "partition_key": partition_tag(p),
                        "item_id": f"{iid}~re",
                        "payload": enc(img, other),
                        "codec": other,
                    }
                )
            if seq % 10 == 5:
                img2 = img.copy()
                img2[0, 0] = img2[0, 0] ^ 255
                rows.append(
                    {
                        "partition_key": partition_tag(p),
                        "item_id": f"{iid}~v",
                        "payload": enc(img2, codec),
                        "codec": codec,
                    }
                )
    return pd.DataFrame(
        rows, columns=["partition_key", "item_id", "payload", "codec"]
    )


def image_dhash_expected_pandas(spec: SynthSpec = SynthSpec()) -> pd.DataFrame:
    """Oracle twin of the image_dhash operator: the SAME
    image_dhash_value kernel over the SAME corpus bytes."""
    from ..functions.multimodal import IMAGE_DECODERS, image_dhash_value

    corpus = image_dup_corpus_pandas(spec)
    rows = []
    for row in corpus.itertuples(index=False):
        try:
            img = IMAGE_DECODERS[row.codec](bytes(row.payload))
            rows.append(
                {"item_id": row.item_id,
                 "dhash": image_dhash_value(img), "decode_error": None}
            )
        except Exception as exc:  # mirror the operator's degrade path
            rows.append(
                {"item_id": row.item_id, "dhash": None,
                 "decode_error": str(exc)[:120]}
            )
    out = pd.DataFrame(rows, columns=["item_id", "dhash", "decode_error"])
    out["dhash"] = out["dhash"].astype("Int64")
    return out


VID_W, VID_H, VID_FRAMES = 16, 12, 6
_VID_TRUNC = (19, 4)  # seq % 19 == 4  → payload truncated (demux fails)
_VID_BADCODEC = (23, 9)  # seq % 23 == 9 → declared codec mp4 (unsupported)
_VID_DIMS = (29, 12)  # seq % 29 == 12 → declared dims off by +2 (mismatch)
_VID_NFRAMES = (31, 15)  # seq % 31 == 15 → declared frame count +1 (mismatch)


def video_pixels(p: int, seq: int, frame_idx: int) -> np.ndarray:
    """Deterministic pixels for one video frame — index-arithmetic
    gradients animated by the frame term; gray every 7th video (the
    muxer broadcasts gray to RGB, so the demuxed ground truth is the
    3-channel repeat)."""
    c = 1 if seq % 7 == 3 else 3
    yy = np.arange(VID_H)[:, None, None]
    xx = np.arange(VID_W)[None, :, None]
    ch = np.arange(c)[None, None, :]
    img = ((xx * 7 + yy * 13 + ch * 29 + p * 31 + seq * 17 + frame_idx * 41) % 256)
    img = img.astype(np.uint8)
    return np.repeat(img, 3, axis=2) if c == 1 else img


def videos_pandas(spec: SynthSpec = SynthSpec()) -> pd.DataFrame:
    """The video table: (partition_key, item_id, seq, payload, codec,
    n_frames, width, height) with REAL AVI (RIFF/DIB) container bytes.
    One video per 3 clips (videos are heavier than images); prescribed
    defects: truncated payload, mp4-declared codec (unsupported stub)."""
    from ..functions.multimodal import avi_encode

    rows = []
    for p in range(spec.partitions):
        for seq in range(0, spec.clips_per_partition, 3):
            frames = [video_pixels(p, seq, i) for i in range(VID_FRAMES)]
            payload = avi_encode(frames, fps=5)
            codec = "avi"
            w, h, nf = VID_W, VID_H, VID_FRAMES
            if _hit(seq, _VID_TRUNC):
                payload = payload[: max(16, int(len(payload) * 0.5))]
            if _hit(seq, _VID_BADCODEC):
                codec = "mp4"
            if _hit(seq, _VID_DIMS):
                w, h = w + 2, h + 2
            if _hit(seq, _VID_NFRAMES):
                nf = nf + 1
            rows.append(
                {
                    "partition_key": partition_tag(p),
                    "item_id": make_clip_id(p, seq),
                    "seq": seq,
                    "payload": payload,
                    "codec": codec,
                    "n_frames": nf,
                    "width": w,
                    "height": h,
                }
            )
    out = pd.DataFrame(
        rows,
        columns=[
            "partition_key", "item_id", "seq", "payload", "codec",
            "n_frames", "width", "height",
        ],
    )
    out["seq"] = out["seq"].astype("int64")
    for col in ("n_frames", "width", "height"):
        out[col] = out[col].astype("int32")
    return out


def video_frames_expected_pandas(
    spec: SynthSpec = SynthSpec(), *, every_n: int = 2
) -> pd.DataFrame:
    """Oracle twin of the video_frames query: the SAME demuxer registry
    over the SAME container bytes, frames re-encoded as BMP and hashed
    (the image_features_expected_pandas discipline). Clean frames
    additionally ASSERT the pre-mux ground truth — demuxed pixels must
    equal video_pixels bit-for-bit — so the twin is not a tautology."""
    import hashlib

    from ..functions.multimodal import VIDEO_DEMUXERS, bmp_encode

    vids = videos_pandas(spec)
    rows = []
    for row in vids.itertuples(index=False):
        p = int(row.partition_key[1:])
        try:
            demux = VIDEO_DEMUXERS.get(row.codec)
            if demux is None:
                raise ValueError(f"unknown video codec {row.codec!r}")
            w, h, frames = demux(bytes(row.payload))
            for i in range(0, len(frames), every_n):
                truth = video_pixels(p, int(row.seq), i)
                assert np.array_equal(frames[i], truth)
                bmp = bmp_encode(frames[i])
                rows.append(
                    {
                        "item_id": row.item_id,
                        "frame_idx": i,
                        "width": w,
                        "height": h,
                        "mean_luma": float(frames[i].mean()),
                        "frame_md5": hashlib.md5(bmp).hexdigest(),
                        "demux_error": None,
                    }
                )
        except (ValueError, NotImplementedError) as exc:
            rows.append(
                {
                    "item_id": row.item_id,
                    "frame_idx": None,
                    "width": None,
                    "height": None,
                    "mean_luma": None,
                    "frame_md5": None,
                    "demux_error": str(exc),
                }
            )
    out = pd.DataFrame(
        rows,
        columns=[
            "item_id", "frame_idx", "width", "height",
            "mean_luma", "frame_md5", "demux_error",
        ],
    )
    for col in ("frame_idx", "width", "height"):
        out[col] = out[col].astype("Int32")
    return out


def video_violations_pandas(
    spec: SynthSpec = SynthSpec(), *, detector: str = "video-decode"
) -> pd.DataFrame:
    """Expected VideoDecodeRule violation rows (VIOLATION_COLUMNS shape):
    demux failure OR demuxed-vs-declared dims/frame-count mismatch, with
    the compiler's exact observed/note formatting (the
    image_violations_pandas discipline)."""
    from ..functions.multimodal import check_video

    vids = videos_pandas(spec)
    rows = []
    for row in vids.itertuples(index=False):
        ok, err, w, h, n = check_video(row.payload, row.codec)
        mismatch = ok and (
            w != int(row.width) or h != int(row.height) or n != int(row.n_frames)
        )
        if ok and not mismatch:
            continue
        decoded = (
            f"{w if w is not None else '?'}x{h if h is not None else '?'}"
            f"@{n if n is not None else '?'}"
        )
        rows.append(
            {
                "partition_key": row.partition_key,
                "clip_id": row.item_id,
                "detector": detector,
                "observed": decoded,
                "note": (
                    f"decoded:{decoded}"
                    f"| declared:{int(row.width)}x{int(row.height)}@{int(row.n_frames)}"
                    f"| demux_error:{err or ''}"
                ),
            }
        )
    return pd.DataFrame(
        rows, columns=["partition_key", "clip_id", "detector", "observed", "note"]
    ).reset_index(drop=True)


def generate_clips(spark: SparkSession, spec: SynthSpec = SynthSpec()) -> DataFrame:
    """Distributed clip generation: one task per partition tag.

    Output is yielded in bounded chunks — a whole partition as one pandas
    frame becomes one giant Arrow batch (30k clips ≈ 450 MB) and blows the
    executor's direct-memory pool at high task concurrency.
    """
    chunk = 2000

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for p in b["id"].tolist():
                rows = _render_rows(int(p), spec)
                for i in range(0, len(rows), chunk):
                    yield rows.iloc[i : i + chunk]

    return (
        spark.range(spec.partitions)
        .repartition(spec.partitions, "id")
        .mapInPandas(gen, CLIPS_SCHEMA)
    )


def generate_manifest(spark: SparkSession, spec: SynthSpec = SynthSpec()) -> DataFrame:
    """Manifest = every non-orphan clip with its expected fields."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for p in b["id"].tolist():
                plan = plan_partition(int(p), spec)
                plan = plan[~plan["orphan"]]
                yield pd.DataFrame(
                    {
                        "clip_id": plan["clip_id"],
                        "expected_codec": _manifest_codec(plan),
                        "expected_sr_hz": plan["sr_hz"],
                        "expected_transcript": [
                            expected_transcript(c, spec.seed) for c in plan["clip_id"]
                        ],
                    }
                )

    return (
        spark.range(spec.partitions)
        .repartition(spec.partitions, "id")
        .mapInPandas(gen, MANIFEST_SCHEMA)
    )


def frontier_of(spec: SynthSpec) -> int:
    """Run frontier = the max seq any healthy partition reaches."""
    return spec.clips_per_partition - 1
