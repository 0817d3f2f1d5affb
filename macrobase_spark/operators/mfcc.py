"""MFCC speech features — the standard acoustic featurization a
training-data pipeline derives from validated audio (mel filterbank over
framed rFFT power spectra, log, DCT-II), pure numpy, one Arrow pass.

Spark-first shape: `extract_mfcc` is a stateless mapInArrow over
(clip_id, bytes) — the same one-scan discipline as the SNR kernel
(operators/audio.py): payloads decode straight out of the Arrow binary
buffer as numpy views, all frames of a clip go through ONE batched rFFT
(np.fft.rfft over the (n_frames, frame) matrix), and the mel/DCT projection
is two small GEMMs. Per-clip output is the frame-mean MFCC vector — a
fixed-width `array<double>` ready for the embedding-similarity operators
(similarity.py) or a drift monitor. At 10^12 rows the op is embarrassingly
map-parallel: no shuffle, no state, `bytes` read exactly once.

The filterbank/DCT matrices are memoized per (sr, frame) — a handful of
distinct sample rates exist in any real corpus, so the trig cost is O(1)
per executor, not per clip.

Reference parity: the reference engine (myrtakis/macrobase) has no audio
featurization; this serves the build brief's multimodal feature-extract
contract (same plumbing as extract_audio_features, audio.py:355).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

N_MFCC = 13
N_MELS = 26
FRAME_MS = 25.0
HOP_MS = 10.0
_EPS = 1e-10

MFCC_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("decode_ok", BooleanType()),
        StructField("n_frames", LongType()),
        StructField("mfcc", ArrayType(DoubleType())),
    ]
)


def hz_to_mel(f):
    return 2595.0 * np.log10(1.0 + np.asarray(f, dtype=np.float64) / 700.0)


def mel_to_hz(m):
    return 700.0 * (10.0 ** (np.asarray(m, dtype=np.float64) / 2595.0) - 1.0)


def mel_filterbank(
    sr: int, n_fft: int, n_mels: int = N_MELS, fmin: float = 0.0, fmax: float | None = None
) -> np.ndarray:
    """(n_mels, n_fft//2 + 1) triangular HTK-style mel filterbank."""
    fmax = fmax if fmax is not None else sr / 2.0
    mels = np.linspace(hz_to_mel(fmin), hz_to_mel(fmax), n_mels + 2)
    hz = mel_to_hz(mels)  # filter edge/center frequencies
    bins = np.fft.rfftfreq(n_fft, d=1.0 / sr)  # (n_fft//2 + 1,)
    fb = np.zeros((n_mels, len(bins)))
    for m in range(n_mels):
        lo, ctr, hi = hz[m], hz[m + 1], hz[m + 2]
        up = (bins - lo) / max(ctr - lo, 1e-12)
        down = (hi - bins) / max(hi - ctr, 1e-12)
        fb[m] = np.clip(np.minimum(up, down), 0.0, None)
    return fb


def dct_matrix(n_mfcc: int, n_mels: int) -> np.ndarray:
    """(n_mfcc, n_mels) orthonormal DCT-II."""
    j = np.arange(n_mels)
    k = np.arange(n_mfcc)[:, None]
    d = np.cos(np.pi * k * (2 * j + 1) / (2.0 * n_mels))
    d *= np.sqrt(2.0 / n_mels)
    d[0] *= np.sqrt(0.5)
    return d


_MATS: dict[tuple[int, int, int, int], tuple[np.ndarray, np.ndarray, np.ndarray]] = {}


def _mats(sr: int, frame: int, n_mels: int, n_mfcc: int):
    key = (sr, frame, n_mels, n_mfcc)
    got = _MATS.get(key)
    if got is None:
        got = (
            np.hanning(frame),
            mel_filterbank(sr, frame, n_mels),
            dct_matrix(n_mfcc, n_mels),
        )
        _MATS[key] = got
    return got


def mfcc_clip(
    pcm: np.ndarray,
    sr: int,
    n_mfcc: int = N_MFCC,
    n_mels: int = N_MELS,
    frame_ms: float = FRAME_MS,
    hop_ms: float = HOP_MS,
) -> np.ndarray:
    """(n_frames, n_mfcc) MFCCs of one float PCM clip. Clips shorter than a
    frame are zero-padded to one frame (a clip always yields ≥1 frame)."""
    frame = max(int(round(sr * frame_ms / 1000.0)), 2)
    hop = max(int(round(sr * hop_ms / 1000.0)), 1)
    x = np.asarray(pcm, dtype=np.float64)
    if len(x) < frame:
        x = np.pad(x, (0, frame - len(x)))
    n_frames = 1 + (len(x) - frame) // hop
    # strided frame view — no copy until the window multiply
    frames = np.lib.stride_tricks.as_strided(
        x,
        shape=(n_frames, frame),
        strides=(x.strides[0] * hop, x.strides[0]),
        writeable=False,
    )
    win, fb, dct = _mats(sr, frame, n_mels, n_mfcc)
    spec = np.fft.rfft(frames * win, axis=1)
    power = (spec.real**2 + spec.imag**2) / frame
    logmel = np.log(power @ fb.T + _EPS)  # (n_frames, n_mels)
    return logmel @ dct.T  # (n_frames, n_mfcc)


def extract_mfcc(
    df: DataFrame,
    n_mfcc: int = N_MFCC,
    n_mels: int = N_MELS,
    frame_ms: float = FRAME_MS,
    hop_ms: float = HOP_MS,
) -> DataFrame:
    """Per-clip frame-mean MFCC vector over Arrow batches (mapInArrow,
    zero-copy payload views — audio.py's scan discipline)."""
    from macrobase_spark.operators.audio import _binary_views, _decode_wav_view

    def run(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            col = {name: b.column(i) for i, name in enumerate(b.schema.names)}
            offsets, data = _binary_views(col["bytes"])
            ok = np.zeros(n, dtype=bool)
            n_frames = np.zeros(n, dtype=np.int64)
            vecs: list = [None] * n
            for i in range(n):
                dec = _decode_wav_view(data[offsets[i] : offsets[i + 1]])
                if dec is None:
                    continue
                sr, pcm = dec
                if sr <= 0 or len(pcm) == 0:
                    continue
                m = mfcc_clip(pcm, sr, n_mfcc, n_mels, frame_ms, hop_ms)
                ok[i] = True
                n_frames[i] = m.shape[0]
                vecs[i] = np.round(m.mean(axis=0), 6)
            yield pa.RecordBatch.from_arrays(
                [
                    col["clip_id"],
                    pa.array(ok),
                    pa.array(n_frames),
                    pa.array(vecs, type=pa.list_(pa.float64())),
                ],
                names=[f.name for f in MFCC_SCHEMA.fields],
            )

    return df.select("clip_id", "bytes").mapInArrow(run, MFCC_SCHEMA)


# ---- materialized fixture + registered query --------------------------------

from macrobase_spark.artifacts import artifact  # noqa: E402
from macrobase_spark.queries import register  # noqa: E402

@artifact("mfcc", 1)
def mfcc_parquet(spark, sf_dir: str, out: str) -> None:
    """Materialize the per-clip MFCC relation + codec to parquet (ONE decode
    pass) so the per-codec profile is oracle-stateable over the same files —
    the audio_features_parquet recipe (clips_suite.py:391)."""
    from macrobase_spark.operators.clips_suite import clips_table

    clips = clips_table(spark, sf_dir)
    (
        extract_mfcc(clips)
        .join(clips.select("clip_id", "codec"), "clip_id")
        .write.mode("overwrite")
        .parquet(out)
    )


_MF = mfcc_parquet.scan()


@register(
    "clips_mfcc_stats",
    f"""
    SELECT codec,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n_frames) AS BIGINT) AS total_frames,
           round(avg(mfcc[1]), 4) AS avg_c0,
           round(avg(mfcc[2]), 4) AS avg_c1,
           round(avg(mfcc[3]), 4) AS avg_c2
    FROM {_MF}
    WHERE decode_ok
    GROUP BY codec
    """,
)
def clips_mfcc_stats_q(spark, sf_dir):
    """Per-codec MFCC profile (first three coefficients + frame counts) —
    the rollup a corpus-featurization monitor would chart. Aggregates the
    materialized MFCC relation (the same files the oracle reads)."""
    from pyspark.sql import functions as F

    feats = spark.read.parquet(mfcc_parquet(spark, sf_dir))
    return (
        feats.filter(F.col("decode_ok"))
        .groupBy("codec")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_frames").alias("total_frames"),
            F.round(F.avg(F.try_element_at("mfcc", F.lit(1))), 4).alias("avg_c0"),
            F.round(F.avg(F.try_element_at("mfcc", F.lit(2))), 4).alias("avg_c1"),
            F.round(F.avg(F.try_element_at("mfcc", F.lit(3))), 4).alias("avg_c2"),
        )
    )
