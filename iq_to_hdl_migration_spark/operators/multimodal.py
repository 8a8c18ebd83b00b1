"""Multimodal-column operators (brief: image/audio/video as opaque
binary columns with typed metadata; decode/feature-extract/
frame-sample as Arrow-batched pandas functions over mapInPandas).

The decode step is STUBBED: real codecs (PIL/librosa/av) are not
dependencies, so the pipeline uses a deterministic fake decoder
(`fake_decode_dims`). Everything around it — binary schema,
mapInPandas signatures, Arrow batch shape, partitioning — is real and
tested; swapping in a real decoder changes one function.

Scale: mapInPandas streams Arrow record batches per partition — no
per-row Python, no driver collect. Feature extraction repartitions
first so a few big files can't serialize one task (same barrier
rationale as operators/dedup.py).
"""

from __future__ import annotations

import hashlib

from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

FEATURE_SCHEMA = ("doc_id bigint, media_type string, byte_len int, "
                  "sha256 string, fake_width int, fake_height int")
FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_sha256 string"


def attach_binary_payload(docs: DataFrame, text_col: str = "text",
                          media_type: str = "image/fake") -> DataFrame:
    """Deterministic stand-in for reading media files: payload =
    UTF-8 bytes of the text column, plus typed metadata columns.
    In production this is `spark.read.format('binaryFile')` or a
    binary column landed by the ingest job."""
    return (docs.withColumn("payload", F.col(text_col).cast("binary"))
                .withColumn("media_type", F.lit(media_type)))


def fake_decode_dims(payload: bytes) -> tuple[int, int]:
    """Deterministic fake 'decoder': dims derived from content bytes."""
    return (64 + payload[0] % 512 if payload else 64,
            64 + (len(payload) % 480))


def extract_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched feature extraction over the binary column."""
    n = df.sparkSession.sparkContext.defaultParallelism
    src = df.select(id_col, "media_type", "payload").repartition(n)

    def batches(it: Iterator) -> Iterator:
        for pdf in it:
            out = pdf[[id_col, "media_type"]].copy()
            payloads = pdf["payload"]
            out["byte_len"] = payloads.map(len)
            out["sha256"] = payloads.map(
                lambda b: hashlib.sha256(bytes(b)).hexdigest())
            dims = payloads.map(lambda b: fake_decode_dims(bytes(b)))
            out["fake_width"] = dims.map(lambda d: d[0])
            out["fake_height"] = dims.map(lambda d: d[1])
            yield out

    return src.mapInPandas(batches, schema=FEATURE_SCHEMA)


def frame_sample(df: DataFrame, n_frames: int = 4,
                 id_col: str = "doc_id") -> DataFrame:
    """'Video' frame sampling: split the payload into n contiguous
    chunks and fingerprint each — the plumbing (explode inside
    mapInPandas, one output row per frame) matches what a real
    frame-decoder UDF produces."""
    n = df.sparkSession.sparkContext.defaultParallelism
    src = df.select(id_col, "payload").repartition(n)

    def batches(it: Iterator) -> Iterator:
        import pandas as pd
        for pdf in it:
            rows = []
            for did, payload in zip(pdf[id_col], pdf["payload"]):
                b = bytes(payload)
                step = max(1, -(-len(b) // n_frames))  # ceil division
                for i in range(n_frames):
                    chunk = b[i * step:(i + 1) * step]
                    if not chunk:
                        break
                    rows.append((did, i,
                                 hashlib.sha256(chunk).hexdigest()))
            yield pd.DataFrame(rows,
                               columns=[id_col, "frame_idx", "frame_sha256"])

    return src.mapInPandas(batches, schema=FRAME_SCHEMA)


RESIZE_SCHEMA = ("doc_id bigint, width int, height int, payload binary")
AUDIO_SCHEMA = "doc_id bigint, chunk_idx int, energy double, n_bytes int"


def resize_stub(df: DataFrame, width: int = 224, height: int = 224,
                id_col: str = "doc_id") -> DataFrame:
    """Binary-in/binary-out 'resize': output payload is a deterministic
    fixed-size transform of the input bytes (cycle-truncated to
    width*height/64 bytes). Exercises the batch shape a real
    PIL.resize UDF has — binary column out, fixed target dims —
    so swapping in a real decoder+resampler changes only the inner
    function."""
    n = df.sparkSession.sparkContext.defaultParallelism
    src = df.select(id_col, "payload").repartition(n)
    out_len = max(1, width * height // 64)

    def batches(it: Iterator) -> Iterator:
        for pdf in it:
            out = pdf[[id_col]].copy()
            out["width"] = width
            out["height"] = height
            out["payload"] = pdf["payload"].map(
                lambda b: (bytes(b) * (out_len // max(1, len(bytes(b))) + 1)
                           )[:out_len])
            yield out

    return src.mapInPandas(batches, schema=RESIZE_SCHEMA)


def audio_chunk_features(df: DataFrame, chunk_bytes: int = 1024,
                         id_col: str = "doc_id") -> DataFrame:
    """'Audio' featurization: fixed-size chunking of the payload with a
    per-chunk mean-absolute 'energy' over the raw bytes — the plumbing
    (chunk explode, per-chunk scalar features, Arrow batches) of a real
    frame/hop spectral UDF. Deterministic: bytes are the signal."""
    n = df.sparkSession.sparkContext.defaultParallelism
    src = df.select(id_col, "payload").repartition(n)

    def batches(it: Iterator) -> Iterator:
        import pandas as pd
        for pdf in it:
            rows = []
            for did, payload in zip(pdf[id_col], pdf["payload"]):
                b = bytes(payload)
                for i in range(0, max(1, len(b)), chunk_bytes):
                    chunk = b[i:i + chunk_bytes]
                    if not chunk:
                        break
                    rows.append((did, i // chunk_bytes,
                                 sum(chunk) / len(chunk), len(chunk)))
            yield pd.DataFrame(rows, columns=[id_col, "chunk_idx",
                                              "energy", "n_bytes"])

    return src.mapInPandas(batches, schema=AUDIO_SCHEMA)


HIST_SCHEMA = "doc_id bigint, n_bytes bigint, hist array<bigint>"


def extract_byte_histogram(df: DataFrame, bins: int = 16,
                           id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched content-feature extraction: a `bins`-bucket
    histogram of payload byte values (mod `bins`) per document — the
    stand-in for a real embedding/feature extractor, with the same
    plumbing (numpy over Arrow record batches inside mapInPandas, no
    per-row Python). Unlike the hash features elsewhere in this
    module, the histogram is a CONTENT-SHAPE feature: near-identical
    payloads produce near-identical vectors, so it feeds genuine
    near-dup similarity search downstream."""
    import numpy as np

    n = df.sparkSession.sparkContext.defaultParallelism
    src = df.select(id_col, "payload").repartition(n)

    def batches(it: Iterator) -> Iterator:
        import pandas as pd
        for pdf in it:
            ids, lens, hists = [], [], []
            for did, payload in zip(pdf[id_col], pdf["payload"]):
                b = np.frombuffer(bytes(payload), dtype=np.uint8)
                ids.append(did)
                lens.append(int(b.size))
                hists.append(
                    np.bincount(b % bins, minlength=bins)
                    .astype("int64").tolist())
            yield pd.DataFrame(
                {"doc_id": ids, "n_bytes": lens, "hist": hists})

    return src.mapInPandas(batches, schema=HIST_SCHEMA)


SCENE_SCHEMA = ("doc_id bigint, boundary int, l1_delta bigint, "
                "len_a bigint, len_b bigint, is_cut int")


def scene_cut_deltas(df: DataFrame, n_frames: int = 8, bins: int = 16,
                     id_col: str = "doc_id") -> DataFrame:
    """Video-style scene-cut detection over the binary payload: split
    into n_frames contiguous chunks ("frames"), take a `bins`-bucket
    byte-value histogram per frame (numpy bincount over Arrow
    batches — the stand-in for a real frame-feature extractor with
    identical plumbing), and score each consecutive-frame boundary by
    the integer L1 distance between histograms.  A boundary is a cut
    when 2 * l1 >= len_a + len_b (half the mass moved) — a pure
    integer rule, so the whole output value-hash-checks.  One output
    row per boundary, cuts flagged, nothing dropped (the curation
    job downstream picks frames AROUND cuts)."""
    import numpy as np

    n = df.sparkSession.sparkContext.defaultParallelism
    src = df.select(id_col, "payload").repartition(n)

    def batches(it: Iterator) -> Iterator:
        import pandas as pd
        for pdf in it:
            rows = []
            for did, payload in zip(pdf[id_col], pdf["payload"]):
                b = np.frombuffer(bytes(payload), dtype=np.uint8)
                step = max(1, -(-b.size // n_frames))
                hists, lens = [], []
                for i in range(n_frames):
                    chunk = b[i * step:(i + 1) * step]
                    if chunk.size == 0:
                        break
                    hists.append(np.bincount(chunk % bins,
                                             minlength=bins)
                                 .astype(np.int64))
                    lens.append(int(chunk.size))
                for i in range(len(hists) - 1):
                    l1 = int(np.abs(hists[i] - hists[i + 1]).sum())
                    la, lb = lens[i], lens[i + 1]
                    rows.append((did, i, l1, la, lb,
                                 int(2 * l1 >= la + lb)))
            yield pd.DataFrame(rows, columns=[
                id_col, "boundary", "l1_delta", "len_a", "len_b",
                "is_cut"])

    return src.mapInPandas(batches, schema=SCENE_SCHEMA)


BYTEHIST_SCHEMA = "doc_id bigint, source string, n_bytes bigint, sum_sq bigint"


def byte_collision_features(df: DataFrame,
                            id_col: str = "doc_id") -> DataFrame:
    """Byte-histogram collision statistics per payload: n_bytes and
    the sum of squared byte-frequency counts. sum_sq / n_bytes^2 is
    the byte collision rate (Renyi-2 'entropy' without the libm log —
    1/256 for uniform random bytes, ~1.0 for constant padding), the
    cheap compressed-vs-raw / padded-vs-real triage a media ingest
    runs before spending decode time. Vectorized numpy bincount over
    Arrow record batches — integer-exact, no per-row Python in the
    hot loop beyond the payload iteration itself."""
    import numpy as np
    import pandas as pd

    n = df.sparkSession.sparkContext.defaultParallelism
    src = df.select(id_col, "source", "payload").repartition(n)

    def batches(it: Iterator) -> Iterator:
        for pdf in it:
            out = pdf[[id_col, "source"]].copy()
            ns, ssqs = [], []
            for b in pdf["payload"]:
                arr = np.frombuffer(bytes(b), dtype=np.uint8)
                counts = np.bincount(arr, minlength=256).astype(np.int64)
                ns.append(int(arr.size))
                ssqs.append(int((counts * counts).sum()))
            out["n_bytes"] = pd.Series(ns, index=pdf.index,
                                       dtype="int64")
            out["sum_sq"] = pd.Series(ssqs, index=pdf.index,
                                      dtype="int64")
            yield out

    return src.mapInPandas(batches, schema=BYTEHIST_SCHEMA)
