"""Multimodal column operators: opaque binary payloads + typed metadata,
processed by Arrow-batched Pandas UDFs over ``mapInPandas``.

The decode libraries (PIL/opencv/torchaudio/ffmpeg) are NOT present in
this container, so the actual byte→pixels/samples decode is stubbed
behind import gates below — but everything Spark-side is real and
tested: the BinaryType schema, the metadata struct, Arrow batch shapes,
partition-preserving ``mapInPandas`` signatures, and the stride
subsampling math (resize / frame-sample are both strided selections at
this level of abstraction).

100 TB notes: blobs stay in executors end-to-end (no driver collect);
payloads too large to inline use the pointer pattern — a StringType URI
column plus a deferred ``spark.read.format("binaryFile")`` join at the
consumer; per-batch memory is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # pragma: no cover - decode libs absent in this container
    import PIL.Image  # noqa: F401

    HAVE_PIL = True
except Exception:
    HAVE_PIL = False


def with_blob_and_meta(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, blob binary, meta struct<lang,n_chars>):
    the canonical multimodal row shape (payload + typed metadata)."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("blob"),
        F.struct(
            F.col("lang").alias("lang"), F.col("n_chars").alias("n_chars")
        ).alias("meta"),
    )


def decode_image(blob: bytes):  # pragma: no cover - gated
    """Real image decode — requires PIL, absent here by design."""
    if not HAVE_PIL:
        raise NotImplementedError(
            "image decode requires PIL, which is not available in this "
            "container; use stride_resample for the tested fake pipeline"
        )
    import io

    return PIL.Image.open(io.BytesIO(blob))


def stride_resample(df: DataFrame, stride: int = 2, limit: int = 64) -> DataFrame:
    """Deterministic stand-in for resize / frame-sampling: decode the
    payload and select every ``stride``-th codepoint of the first
    ``limit`` (what a 1-D nearest-neighbor downscale or every-Nth-frame
    sampler does to an index space). Real pipeline shape: binary in →
    decoded/derived features out, via Arrow batches. Codepoints (not raw
    bytes) so the sampled fields match the char-indexed DuckDB oracle for
    any unicode text; ``n_bytes`` stays byte-based on both sides."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf["blob"]
            win = blobs.map(lambda b: b.decode("utf-8")[:limit:stride])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": blobs.map(len).astype("int64"),
                    "n_sampled": win.map(len).astype("int64"),
                    "sampled_checksum": win.map(
                        lambda s: sum(ord(c) for c in s)
                    ).astype("int64"),
                }
            )

    return df.mapInPandas(
        sample,
        "doc_id long, n_bytes long, n_sampled long, sampled_checksum long",
    )


# --- Real dependency-free image codec: PPM (P6) -----------------------------
#
# PIL/opencv are absent here, but PPM needs nothing beyond bytes: header
# "P6\n<w> <h>\n255\n" + w*h*3 raw RGB bytes. These operators run a REAL
# decode (header parse + numpy frombuffer/reshape), not a fake: the
# synthetic pixel content is a deterministic integer formula so the
# DuckDB oracle can replay the derived features arithmetically, but the
# Spark-side pipeline byte-parses actual image blobs exactly as a
# PIL-backed decoder would.

PPM_W, PPM_H = 16, 16


def synthesize_ppm(docs: DataFrame, w: int = PPM_W, h: int = PPM_H) -> DataFrame:
    """(doc_id) → (doc_id, blob): a REAL binary PPM P6 image per doc,
    built in Arrow batches (the write half of the codec)."""
    import numpy as np

    n = w * h * 3

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = np.arange(n, dtype=np.int64) * 7
        header = f"P6\n{w} {h}\n255\n".encode()
        for pdf in batches:
            blobs = [
                header + ((int(d) * 31 + idx) % 256).astype(np.uint8).tobytes()
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    return docs.select("doc_id").mapInPandas(gen, "doc_id long, blob binary")


def decode_ppm_features(images: DataFrame) -> DataFrame:
    """(doc_id, blob) → per-image features via a REAL PPM decode: parse
    the header (dimensions come from the BYTES, not from metadata),
    reshape the raw RGB payload, and compute integer channel sums plus
    a strided 2× downsample sum (the resize kernel at its integer
    core). All outputs are exact integers, so the oracle replays them
    bit-for-bit; a float feature (mean brightness) is derived from the
    same integers with one double division."""
    import numpy as np

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [],
                "sum_r": [], "sum_g": [], "sum_b": [], "sum_ds": [],
            }
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                b = bytes(blob)
                # header: magic, width, height, maxval — then raw bytes
                parts = b.split(b"\n", 3)
                magic, dims, maxval = parts[0], parts[1].split(), parts[2]
                assert magic == b"P6" and maxval == b"255", "not a P6 PPM"
                w, h = int(dims[0]), int(dims[1])
                arr = np.frombuffer(parts[3], dtype=np.uint8, count=w * h * 3)
                img = arr.reshape(h, w, 3).astype(np.int64)
                ds = img[::2, ::2, :]  # strided 2x nearest downsample
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["sum_r"].append(int(img[:, :, 0].sum()))
                out["sum_g"].append(int(img[:, :, 1].sum()))
                out["sum_b"].append(int(img[:, :, 2].sum()))
                out["sum_ds"].append(int(ds.sum()))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, width int, height int, "
        "sum_r long, sum_g long, sum_b long, sum_ds long"
    )
    return images.mapInPandas(decode, schema)


# --- Real dependency-free audio codec: WAV (RIFF / PCM16) -------------------

WAV_RATE = 8000
WAV_SAMPLES = 1000


def synthesize_wav(
    docs: DataFrame, n_samples: int = WAV_SAMPLES, rate: int = WAV_RATE
) -> DataFrame:
    """(doc_id) → (doc_id, blob): a REAL RIFF/WAVE file per doc — canonical
    44-byte PCM header + little-endian int16 samples from a deterministic
    integer waveform (the audio analog of synthesize_ppm)."""
    import struct

    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = np.arange(n_samples, dtype=np.int64) * 13
        data_size = n_samples * 2
        header = (
            b"RIFF"
            + struct.pack("<I", 36 + data_size)
            + b"WAVE"
            + b"fmt "
            + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
            + b"data"
            + struct.pack("<I", data_size)
        )
        for pdf in batches:
            blobs = [
                header
                + (((int(d) * 7 + idx) % 4096) - 2048)
                .astype("<i2")
                .tobytes()
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    return docs.select("doc_id").mapInPandas(gen, "doc_id long, blob binary")


def decode_wav_features(audio: DataFrame) -> DataFrame:
    """(doc_id, blob) → audio features via a REAL WAV parse: RIFF chunk
    walk (fmt → sample rate/channels/bit depth, data → PCM payload),
    then integer DSP: energy (sum of squares), peak amplitude,
    zero-crossing count, and an every-8th-sample frame sum (the
    frame-sampling kernel). All exact integers."""
    import struct

    import numpy as np

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "sample_rate": [], "n_samples": [],
                "energy": [], "peak": [], "zero_crossings": [], "frame_sum": [],
            }
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                b = bytes(blob)
                assert b[:4] == b"RIFF" and b[8:12] == b"WAVE", "not RIFF/WAVE"
                # chunk walk — no fixed offsets assumed
                pos, rate, samples = 12, None, None
                while pos + 8 <= len(b):
                    cid = b[pos : pos + 4]
                    (csize,) = struct.unpack("<I", b[pos + 4 : pos + 8])
                    body = b[pos + 8 : pos + 8 + csize]
                    if cid == b"fmt ":
                        _, ch, rate, _, _, bits = struct.unpack(
                            "<HHIIHH", body[:16]
                        )
                        assert ch == 1 and bits == 16, "expect mono PCM16"
                    elif cid == b"data":
                        samples = np.frombuffer(body, dtype="<i2").astype(
                            np.int64
                        )
                    pos += 8 + csize + (csize & 1)
                s = samples
                signs = s >= 0
                out["doc_id"].append(doc_id)
                out["sample_rate"].append(rate)
                out["n_samples"].append(len(s))
                out["energy"].append(int((s * s).sum()))
                out["peak"].append(int(np.abs(s).max()))
                out["zero_crossings"].append(int((signs[1:] != signs[:-1]).sum()))
                out["frame_sum"].append(int(s[::8].sum()))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, sample_rate int, n_samples int, "
        "energy long, peak long, zero_crossings long, frame_sum long"
    )
    return audio.mapInPandas(decode, schema)


# --- Real dependency-free video container: raw grayscale frames -------------

VID_W, VID_H, VID_FRAMES = 16, 16, 12
VID_STRIDE = 2  # frame-sample every 2nd frame


def synthesize_video(
    docs: DataFrame,
    w: int = VID_W,
    h: int = VID_H,
    n_frames: int = VID_FRAMES,
) -> DataFrame:
    """(doc_id) → (doc_id, blob): a minimal raw-video container per doc —
    ASCII header "VID\\n<w> <h> <frames>\\n" + n_frames grayscale planes
    (the y4m-style uncompressed layout, reduced to its byte essentials)."""
    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = np.arange(w * h, dtype=np.int64) * 7
        header = f"VID\n{w} {h} {n_frames}\n".encode()
        for pdf in batches:
            blobs = []
            for d in pdf["doc_id"]:
                frames = [
                    ((int(d) * 31 + f * 17 + p) % 256).astype(np.uint8).tobytes()
                    for f in range(n_frames)
                ]
                blobs.append(header + b"".join(frames))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    return docs.select("doc_id").mapInPandas(gen, "doc_id long, blob binary")


def sample_video_frames(video: DataFrame, stride: int = VID_STRIDE) -> DataFrame:
    """(doc_id, blob) → frame-sampled features via a REAL container
    parse: header gives geometry, planes are sliced per frame, every
    ``stride``-th frame is KEPT (the frame-sampling kernel itself), and
    per-kept-frame integer sums feed a motion metric (Σ |sum_f −
    sum_prev| over consecutive kept frames — the scene-change score at
    its integer core). Exact integers throughout."""
    import numpy as np

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "n_frames": [], "n_sampled": [],
                "sampled_sum": [], "motion_total": [],
            }
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                b = bytes(blob)
                head, rest = b.split(b"\n", 1)
                assert head == b"VID", "not a VID container"
                dims, payload = rest.split(b"\n", 1)
                w, h, nf = (int(x) for x in dims.split())
                plane = w * h
                arr = np.frombuffer(payload, dtype=np.uint8, count=plane * nf)
                frames = arr.reshape(nf, plane).astype(np.int64)
                kept = frames[::stride]
                sums = kept.sum(axis=1)
                out["doc_id"].append(doc_id)
                out["n_frames"].append(nf)
                out["n_sampled"].append(len(kept))
                out["sampled_sum"].append(int(sums.sum()))
                out["motion_total"].append(int(np.abs(np.diff(sums)).sum()))
            yield pd.DataFrame(out)

    schema = (
        "doc_id long, n_frames int, n_sampled int, "
        "sampled_sum long, motion_total long"
    )
    return video.mapInPandas(decode, schema)


def frame_fingerprints(video: DataFrame, stride: int = VID_STRIDE) -> DataFrame:
    """(doc_id, blob) → one row per KEPT frame with a position-weighted
    content fingerprint fhash = Σ byte[p]·(p+1) (exact int64; max
    255·Σ(p+1) ≈ 8.4M at 16×16, no modulus needed). Equal frame bytes ⇒
    equal fingerprint, so grouping by fhash is frame-level exact dedup
    across videos. Same Arrow-batched mapInPandas shape as
    sample_video_frames: blobs never leave executors; the output is
    (docs × kept-frames)-sized, tiny relative to the blobs."""
    import numpy as np

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "f": [], "fhash": []}
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                b = bytes(blob)
                head, rest = b.split(b"\n", 1)
                assert head == b"VID", "not a VID container"
                dims, payload = rest.split(b"\n", 1)
                w, h, nf = (int(x) for x in dims.split())
                plane = w * h
                arr = np.frombuffer(payload, dtype=np.uint8, count=plane * nf)
                frames = arr.reshape(nf, plane).astype(np.int64)
                weights = np.arange(1, plane + 1, dtype=np.int64)
                for f in range(0, nf, stride):
                    out["doc_id"].append(doc_id)
                    out["f"].append(f)
                    out["fhash"].append(int((frames[f] * weights).sum()))
            yield pd.DataFrame(out)

    return video.mapInPandas(decode, "doc_id long, f int, fhash long")
