"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched mapInPandas.

The decode step is STUBBED (no image/audio libs in this container):
``decode_features`` computes deterministic fake features from the raw
bytes when the real decoder is unavailable, and the real path raises
NotImplementedError behind an import-try. Everything Spark-side —
schema, batch shape, partitioning, UDF signatures — is real and
tested; swapping in PIL/librosa later only changes the inner function.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURES_SCHEMA = (
    "media_id long, kind string, n_bytes long, payload_md5 string, feature array<double>"
)

_KINDS = ["image", "audio", "video"]


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Derive a deterministic media table from documents: payload =
    UTF-8 bytes of the text (opaque stand-in), kind/meta keyed off
    doc_id. Pure built-ins."""
    kind = F.element_at(
        F.array(*[F.lit(k) for k in _KINDS]), (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int")
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            (F.pmod(F.col("doc_id"), F.lit(640)) + 16).cast("int").alias("width"),
            (F.pmod(F.col("doc_id"), F.lit(480)) + 16).cast("int").alias("height"),
            F.lit(16000).cast("int").alias("sample_rate"),
            ((F.pmod(F.col("doc_id"), F.lit(300)) + 1) * 1000).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def _real_decode(kind: str, payload: bytes, meta) -> np.ndarray:
    """REAL decode for the formats media_codec owns
    (BMP/PPM/PGM/PNG/WAV/VID0 — PNG is a real compressed format,
    inflate + unfilter in pure Python/zlib).  Remaining compressed
    formats (JPEG/MP3/MP4) still raise NotImplementedError — the honest
    env-gate (no PIL/librosa/av wheel in this container)."""
    from lnex_spark.operators import media_codec as mc

    fmt = mc.sniff(payload)
    if fmt in ("bmp", "ppm", "pgm", "png"):
        px = mc.decode_image(payload).astype(np.float64)
        h, w = px.shape[:2]
        means = px.reshape(-1, px.shape[2]).mean(axis=0)
        means = np.pad(means, (0, 3 - len(means)))
        return np.array(
            [means[0], means[1], means[2], float(px.std()), float(h), float(w), float(px.size), 0.0]
        )
    if fmt == "wav":
        s, rate, _ = mc.decode_wav(payload)
        st = mc.audio_stats(s)
        n = max(st["n_samples"], 1)
        rms = float(np.sqrt(np.mean(s.astype(np.float64) ** 2))) if st["n_samples"] else 0.0
        return np.array(
            [st["amp_sum"] / n, rms, st["zero_cross"] / n, st["peak"] / 32768.0,
             float(st["n_samples"]), float(rate), st["abs_sum"] / n, 0.0]
        )
    if fmt == "vid0":
        k, first = next(mc.iter_vid_frames(payload))
        feats = _real_decode("image", mc.encode_ppm(first), meta)
        feats[7] = float(mc.vid_frame_count(payload))
        return feats
    raise NotImplementedError(
        f"no pure-Python decoder for {fmt!r} payloads — JPEG/MP3/MP4 need "
        "PIL/librosa/av, absent in this container; BMP/PPM/PGM/PNG/WAV/VID0 "
        "decode for real"
    )


# --- deterministic real-payload synthesis (closed-form, oracle-checkable) --
#
# Formulas chosen so a SQL oracle can recompute every statistic from
# media_id alone, which makes the *decoder* the thing under test: if the
# encode→decode round trip scrambles channel order, row order, or padding,
# the integer sums below stop matching the closed form.
#
#   image (doc_id%3==0): 32×16 RGB, pixel(r,c,ch) = (c + ch + id) % 256
#                        (constant down columns); BMP when id even, P6
#                        PPM when id%4==1, PNG (filter-cycled, so all
#                        five unfilter paths run) when id%4==3 —
#                        exercises all three codecs incl. the real
#                        compressed one.
#   audio (doc_id%3==1): 2000 mono int16 samples @16 kHz,
#                        s[i] = ((7i + id) % 512) - 256.
#   video (doc_id%3==2): (id%5)+1 frames of 8×16 RGB in the VID0
#                        container, pixel(r,c,ch,f) = (c + 3f + ch + id) % 256.

_IMG_W, _IMG_H = 32, 16
_AUD_N, _AUD_RATE = 2000, 16000
_VID_W, _VID_H = 8, 16


def _synth_payload(media_id: int) -> tuple[str, bytes]:
    from lnex_spark.operators import media_codec as mc

    k = media_id % 3
    if k == 0:
        c = np.arange(_IMG_W)[None, :, None]
        ch = np.arange(3)[None, None, :]
        px = ((c + ch + media_id) % 256).astype(np.uint8)
        px = np.broadcast_to(px, (_IMG_H, _IMG_W, 3))
        if media_id % 2 == 0:
            return "image", mc.encode_bmp(px)
        if media_id % 4 == 1:
            return "image", mc.encode_ppm(px)
        return "image", mc.encode_png(np.ascontiguousarray(px))
    if k == 1:
        i = np.arange(_AUD_N, dtype=np.int64)
        s = ((7 * i + media_id) % 512 - 256).astype(np.int16)
        return "audio", mc.encode_wav(s, _AUD_RATE)
    frames = []
    for f in range(media_id % 5 + 1):
        c = np.arange(_VID_W)[None, :, None]
        ch = np.arange(3)[None, None, :]
        px = ((c + 3 * f + ch + media_id) % 256).astype(np.uint8)
        frames.append(np.broadcast_to(px, (_VID_H, _VID_W, 3)).copy())
    return "video", mc.encode_vid(frames)


REAL_MEDIA_SCHEMA = "media_id long, kind string, payload binary"


def synthesize_real_media(docs: DataFrame) -> DataFrame:
    """mapInPandas synthesis of REAL encoded payloads (BMP/PPM/WAV/VID0)
    keyed off doc_id — deterministic, no RNG, no external data.  This is
    test/bench scaffolding; production reads binary columns from parquet
    or the binaryFile source."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            kinds, payloads = [], []
            for mid in pdf["doc_id"]:
                kind, payload = _synth_payload(int(mid))
                kinds.append(kind)
                payloads.append(payload)
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "kind": kinds, "payload": payloads}
            )

    return docs.select("doc_id").mapInPandas(run, schema=REAL_MEDIA_SCHEMA)


IMAGE_STATS_SCHEMA = (
    "media_id long, fmt string, width int, height int, "
    "px_sum long, px_min int, px_max int, y_sum long"
)


def image_stats(media: DataFrame) -> DataFrame:
    """Decode every still-image payload (format sniffed per row, so BMP
    and PPM mix freely in one column) and emit integer-exact statistics:
    pixel sum/min/max and the BT.601 integer-luminance sum.  y_sum is the
    channel-order canary — a BGR/RGB swap in the codec changes it while
    leaving px_sum intact."""
    from lnex_spark.operators import media_codec as mc

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                px = mc.decode_image(b).astype(np.int64)
                if px.shape[2] == 1:
                    # grayscale (PGM): BT.601 of three equal channels is
                    # the identity ((77+150+29)v >> 8 == v)
                    y = px[:, :, 0]
                else:
                    y = (77 * px[:, :, 0] + 150 * px[:, :, 1] + 29 * px[:, :, 2]) >> 8
                rows.append(
                    (int(mid), mc.sniff(b), px.shape[1], px.shape[0],
                     int(px.sum()), int(px.min()), int(px.max()), int(y.sum()))
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "fmt", "width", "height", "px_sum", "px_min", "px_max", "y_sum"],
            )

    return media.filter(F.col("kind") == "image").mapInPandas(run, schema=IMAGE_STATS_SCHEMA)


AUDIO_STATS_SCHEMA = (
    "media_id long, n_samples long, sample_rate int, "
    "amp_sum long, abs_sum long, peak int, zero_cross long"
)


def audio_stats_op(media: DataFrame) -> DataFrame:
    """Decode WAV PCM16 payloads (proper RIFF chunk walk) and emit
    integer-exact sample statistics."""
    from lnex_spark.operators import media_codec as mc

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                s, rate, _ = mc.decode_wav(bytes(payload))
                st = mc.audio_stats(s)
                rows.append(
                    (int(mid), st["n_samples"], rate, st["amp_sum"], st["abs_sum"],
                     st["peak"], st["zero_cross"])
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_samples", "sample_rate", "amp_sum", "abs_sum", "peak", "zero_cross"],
            )

    return media.filter(F.col("kind") == "audio").mapInPandas(run, schema=AUDIO_STATS_SCHEMA)


FRAME_STATS_SCHEMA = "media_id long, frame_no int, px_sum long"


def frame_stats(media: DataFrame) -> DataFrame:
    """Real frame extraction: walk the VID0 length prefixes, decode each
    P6 frame, emit its pixel sum.  One input row fans out to n_frames
    output rows inside the Arrow batch — the mapInPandas contract allows
    output cardinality ≠ input cardinality, which is exactly what frame
    sampling needs (and what a plain pandas_udf cannot express)."""
    from lnex_spark.operators import media_codec as mc

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids, fnos, sums = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for k, frame in mc.iter_vid_frames(bytes(payload)):
                    mids.append(int(mid))
                    fnos.append(k)
                    sums.append(int(frame.astype(np.int64).sum()))
            yield pd.DataFrame({"media_id": mids, "frame_no": fnos, "px_sum": sums})

    return media.filter(F.col("kind") == "video").mapInPandas(run, schema=FRAME_STATS_SCHEMA)


RESIZE_STATS_SCHEMA = "media_id long, out_w int, out_h int, px_sum long"


def resize_stats(media: DataFrame, out_h: int = 8, out_w: int = 8) -> DataFrame:
    """Decode → nearest-neighbor resize → integer pixel sum.  The NN
    index map (src = (dst * src_dim) // dst_dim) is closed-form, so the
    oracle recomputes the resized sum from media_id alone — verifying
    the gather, not just the decode."""
    from lnex_spark.operators import media_codec as mc

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = mc.resize_nn(mc.decode_image(bytes(payload)), out_h, out_w)
                rows.append((int(mid), out_w, out_h, int(px.astype(np.int64).sum())))
            yield pd.DataFrame(rows, columns=["media_id", "out_w", "out_h", "px_sum"])

    return media.filter(F.col("kind") == "image").mapInPandas(run, schema=RESIZE_STATS_SCHEMA)


def _fake_features(payload: bytes, dim: int = 8) -> np.ndarray:
    """Deterministic stand-in 'embedding': strided code-point means.

    feature[j] = mean(codepoint of every dim-th character starting at j)
    over the UTF-8-decoded payload, 0.0 for an empty stride.  Chosen to
    be reproducible bit-for-bit in plain SQL (avg over ord(char) grouped
    by position % dim) so the driver's DuckDB oracle can value-check the
    whole decode path, not just row counts.  Unrounded: the mean is a
    ratio of exactly-representable integers, so Spark and the oracle
    compute the identical double.
    """
    if not payload:
        return np.zeros(dim)
    cps = np.fromiter(map(ord, payload.decode("utf-8", errors="replace")), dtype=np.float64)
    return np.array(
        [float(cps[j::dim].mean()) if len(cps) > j else 0.0 for j in range(dim)]
    )


def decode_features(media: DataFrame, use_real_decoder: bool = False) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    The Arrow batch carries (media_id, kind, payload, meta) → output
    (media_id, kind, n_bytes, payload_md5, feature). Real decoders plug
    into ``_real_decode``; this container uses the deterministic fake.
    payload_md5 digests the raw bytes (oracle-checkable: DuckDB
    ``md5(text)`` hashes the same UTF-8 bytes).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            feats, digests, sizes = [], [], []
            for payload in pdf["payload"]:
                b = bytes(payload) if payload is not None else b""
                if use_real_decoder:
                    feats.append(_real_decode("", b, None).tolist())
                else:
                    feats.append(_fake_features(b).tolist())
                digests.append(hashlib.md5(b).hexdigest())
                sizes.append(len(b))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pd.Series(sizes, dtype="int64"),
                    "payload_md5": digests,
                    "feature": feats,
                }
            )

    return media.mapInPandas(run, schema=FEATURES_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plan (which timestamps to decode) — pure
    built-ins; the decode itself is the stubbed step.

    The sequence is guarded: for a clip shorter than ``every_ms``,
    sequence(0, -1) would DESCEND to [0, -1] and emit a bogus frame -1
    (F.sequence infers step -1 when stop < start)."""
    v = media.filter(F.col("kind") == "video")
    n_frames = F.floor(F.col("meta.duration_ms") / F.lit(every_ms)).cast("int")
    frames = F.when(n_frames >= 1, F.sequence(F.lit(0), n_frames - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return v.select(
        "media_id",
        F.explode(frames).alias("frame_no"),
    ).select("media_id", "frame_no", (F.col("frame_no") * every_ms).alias("ts_ms"))
