"""Audio feature extraction over an opaque binary column (multimodal op).

Decode + per-clip features run as row kernels behind `rowmap.map_rows`
(one Arrow-batched mapInArrow stage) — the per-clip work is inherently
per-row, but everything around it (schema, partitioning, batch shape) is
plain DataFrame machinery, and the kernels are vectorized numpy per clip
(no Python sample loops):

- duration_s:  n_samples / sr  (from the decoded stream, not the metadata)
- rms:         sqrt(mean(x^2))
- zcr:         sign-change fraction (voiced/unvoiced proxy)
- dom_freq_hz: argmax |rFFT| bin excluding DC, scaled to Hz — recovers the
  synthesized fundamental (pytest asserts it lands on the id-derived tone)
- clip_ratio:  fraction of samples at the PCM rails (quality screen)

A 100 TB audio corpus processes exactly like the image path: bytes never
enter joins or shuffles; features project out early and the binary column
is pruned from downstream scans.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from fs2_osm_spark.rowmap import map_rows
from fs2_osm_spark.synth.audio import decode_wav

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.StringType(), False),
        T.StructField("duration_s", T.DoubleType(), False),
        T.StructField("rms", T.DoubleType(), False),
        T.StructField("zcr", T.DoubleType(), False),
        T.StructField("dom_freq_hz", T.DoubleType(), False),
        T.StructField("clip_ratio", T.DoubleType(), False),
    ]
)


def clip_features(raw: bytes) -> tuple[float, float, float, float, float]:
    """-> (rms, zcr, dom_freq_hz, clip_ratio, duration_s) for one clip."""
    x, sr = decode_wav(bytes(raw))
    return clip_features_from_samples(x, sr)


def clip_features_from_samples(
    x: np.ndarray, sr: int
) -> tuple[float, float, float, float, float]:
    """Kernel over already-decoded samples (lets a caller that also needs
    the fingerprint decode each clip once)."""
    n = len(x)
    rms = float(np.sqrt(np.mean(x * x)))
    signs = np.signbit(x)
    zcr = float(np.mean(signs[1:] != signs[:-1]))
    mag = np.abs(np.fft.rfft(x))
    mag[0] = 0.0  # exclude DC
    dom = float(np.argmax(mag) * sr / n)
    clip_ratio = float(np.mean(np.abs(x) >= 32766.0 / 32767.0))
    return rms, zcr, dom, clip_ratio, n / sr


def audio_features(clips: DataFrame) -> DataFrame:
    def kernel(audio_id, data):
        rms, zcr, dom, clip_ratio, dur = clip_features(data)
        yield (audio_id, dur, rms, zcr, dom, clip_ratio)

    return map_rows(clips, ["audio_id", "bytes"], kernel, AUDIO_FEATURES_SCHEMA)


N_FP_BANDS = 64


def spectral_fingerprint(x: np.ndarray, sr: int) -> int:
    """64-bit spectral-shape fingerprint: rFFT energy in 64 equal
    FREQUENCY bands over [0, sr/2] (DC excluded; band edges are in Hz via
    sr, so fingerprints stay comparable across clip lengths and sample
    rates), bit k set when band k's energy exceeds the MEAN band energy.
    The mean threshold keys the bits to energy CONCENTRATION: tonal bands
    (fundamental + harmonics) sit far above it, the spread noise floor far
    below, so re-recordings of the same tone structure under different
    noise draws / noise amplitude collide — the audio analogue of SimHash
    for near-dup detection. Calibration on the 1000-clip synthetic corpus
    (20 fundamentals, 50 Hz apart): 64 bands = 62.5 Hz/band resolves the
    tone classes into 20 distinct fingerprints (16 coarse bands merged
    unrelated fundamentals into 9; a median threshold sits inside the
    noise floor and fragments the corpus into 937)."""
    mag = np.abs(np.fft.rfft(x))
    e = (mag * mag)[1:]
    freqs = np.fft.rfftfreq(len(x), 1.0 / sr)[1:]
    band = np.minimum(
        (freqs / (sr / 2.0) * N_FP_BANDS).astype(np.int64), N_FP_BANDS - 1
    )
    bands = np.bincount(band, weights=e, minlength=N_FP_BANDS)
    bits = bands > bands.mean()
    # bit 63 would flip the int64 sign; energies concentrate far below
    # Nyquist for voiced content, and the comparison is equality-only
    return int(sum(1 << k for k, v in enumerate(bits[:63]) if v))


def audio_fingerprints(clips: DataFrame) -> DataFrame:
    schema = T.StructType(
        [
            T.StructField("audio_id", T.StringType(), False),
            T.StructField("fingerprint", T.LongType(), False),
        ]
    )

    def kernel(audio_id, data):
        yield (audio_id, spectral_fingerprint(*decode_wav(data)))

    return map_rows(clips, ["audio_id", "bytes"], kernel, schema)
