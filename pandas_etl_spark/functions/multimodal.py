"""Multimodal column convention + processing plumbing (SURVEY §2.9).

Convention for image/audio/video at 100 TB:
- payload: an opaque ``binary`` column (inline for small blobs), or a
  pointer struct ``(path string, offset long, length long)`` for large
  blobs stored out-of-row — the scan then reads bytes lazily per task.
- metadata: a typed struct column (``kind``, ``mime``, ``width``, ...).

Decode / feature-extract run as Arrow-batched ``mapInPandas`` — the only
sane shape for per-blob Python libs (PIL/librosa/av are NOT in this
container: the decode body is STUBBED behind ``NotImplementedError`` with
a deterministic fake used in tests; the Spark-side plumbing — schemas,
batch iteration, partitioning — is real and tested).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType(
    [
        T.StructField("kind", T.StringType()),   # image|audio|video
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

POINTER = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("offset", T.LongType()),
        T.StructField("length", T.LongType()),
    ]
)


def attach_binary_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Cheap JVM-side metadata over a binary payload: byte length, md5,
    magic-byte sniff. No Python, full codegen."""
    p = F.col(payload_col)
    magic = F.hex(F.expr(f"substring({payload_col}, 1, 4)"))
    kind = (
        F.when(magic.startswith("FFD8"), "image/jpeg")
        .when(magic.startswith("89504E47"), "image/png")
        .when(magic.startswith("52494646"), "audio/wav")
        .when(magic.startswith("66747970"), "video/mp4")
        .otherwise("application/octet-stream")
    )
    return df.select(
        "*",
        F.octet_length(p).cast("bigint").alias("payload_bytes"),
        F.md5(p).alias("payload_md5"),
        kind.alias("sniffed_mime"),
    )


def decode_image_stub(payload: bytes) -> dict:
    """Placeholder for a real decoder (PIL not in this container).

    Deterministic fake: "dimensions" derived from the payload's md5 so the
    distributed plumbing is testable end-to-end AND reproducible by an
    ANSI-SQL oracle (``CAST('0x'||substr(md5(payload),1,8) AS BIGINT)``).
    Swap the body for ``PIL.Image.open(io.BytesIO(payload))`` in
    production."""
    if payload is None:
        return {"width": None, "height": None, "ok": False}
    import hashlib

    h = int(hashlib.md5(payload).hexdigest()[:8], 16) % (1 << 31)
    return {"width": 16 + h % 1024, "height": 16 + (h // 1024) % 1024, "ok": True}


_DECODED_SCHEMA_SUFFIX = "width int, height int, ok boolean"


def decode_images(df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id") -> DataFrame:
    """mapInPandas decode: Arrow batches in, per-blob decode, Arrow out.
    Output schema must be declared (Spark requirement; the reference's
    pandas UDFs infer — SURVEY §7 hard part 4)."""
    schema = f"{id_col} long, {_DECODED_SCHEMA_SUFFIX}"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = pdf[payload_col].map(decode_image_stub)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "width": [d["width"] for d in decoded],
                    "height": [d["height"] for d in decoded],
                    "ok": [d["ok"] for d in decoded],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(batches, schema)


def decode_audio_stub(payload: bytes) -> dict:
    """Placeholder for a real audio decoder (no codec lib in this
    container). Deterministic fake: the payload is treated as 8 kHz
    mono PCM8 with a 4-byte header — sample count, duration, and mean
    amplitude come straight from the bytes, so the distributed plumbing
    is testable end-to-end AND reproducible by an ANSI-SQL oracle
    (byte values == code points for ASCII stand-in payloads). Swap the
    body for ``soundfile.read``/``librosa.load`` in production."""
    if payload is None or len(payload) <= 4:
        return {"n_samples": 0, "duration_ms": 0, "mean_amplitude": None, "ok": False}
    import numpy as np

    samples = np.frombuffer(payload[4:], dtype=np.uint8)
    n = len(samples)
    return {
        "n_samples": n,
        "duration_ms": n * 1000 // 8000,
        "mean_amplitude": float(samples.mean()),
        "ok": True,
    }


def decode_audio(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """mapInPandas audio decode (same Arrow-batch plumbing as
    :func:`decode_images`); output schema declared up front."""
    schema = f"{id_col} long, n_samples long, duration_ms long, mean_amplitude double, ok boolean"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = pdf[payload_col].map(decode_audio_stub)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_samples": [d["n_samples"] for d in decoded],
                    "duration_ms": [d["duration_ms"] for d in decoded],
                    "mean_amplitude": [d["mean_amplitude"] for d in decoded],
                    "ok": [d["ok"] for d in decoded],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(batches, schema)


def resize_images(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    max_side: int = 256,
) -> DataFrame:
    """mapInPandas resize plumbing: decode (stub) → aspect-preserving
    target dims → re-encoded payload (stub passes bytes through). The
    schema/batching/partitioning is the real production shape; swap the
    two stub lines for PIL ``thumbnail``+``save`` when the lib exists."""
    schema = f"{id_col} long, width int, height int, payload binary"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            dims = pdf[payload_col].map(decode_image_stub)  # stub decode
            out_w, out_h = [], []
            for d in dims:
                w, h = d["width"], d["height"]
                if w is None:
                    out_w.append(None), out_h.append(None)
                    continue
                scale = min(1.0, max_side / max(w, h))
                out_w.append(int(w * scale)), out_h.append(int(h * scale))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "width": out_w,
                    "height": out_h,
                    "payload": pdf[payload_col],  # stub re-encode
                }
            )

    return df.select(id_col, payload_col).mapInPandas(batches, schema)


_N_BINS = 16


def extract_byte_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """REAL feature extraction over binary payloads (no media libs
    needed): a 16-bin high-nibble byte histogram per blob — numpy over
    Arrow batches, the same mapInPandas shape a CNN/CLIP embedder would
    use. Useful as-is for container-level near-dup and corruption
    screens.

    ``normalize=True`` → L1-normalized doubles (embedding-style).
    ``normalize=False`` → raw bigint counts: exactly integer, hence
    reproducible bit-for-bit by an ANSI-SQL oracle (count hex digits at
    odd positions of ``hex(payload)``)."""
    import numpy as np

    elem = "double" if normalize else "bigint"
    schema = f"{id_col} long, features array<{elem}>"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = []
            for payload in pdf[payload_col]:
                if payload is None or len(payload) == 0:
                    feats.append([0.0] * _N_BINS if normalize else [0] * _N_BINS)
                    continue
                arr = np.frombuffer(payload, dtype=np.uint8)
                hist = np.bincount(arr >> 4, minlength=_N_BINS)
                if normalize:
                    h = hist.astype("float64")
                    feats.append((h / h.sum()).tolist())
                else:
                    feats.append([int(x) for x in hist])
            yield pd.DataFrame({id_col: pdf[id_col], "features": feats})

    return df.select(id_col, payload_col).mapInPandas(batches, schema)


def read_pointer_payloads(
    df: DataFrame, pointer_col: str = "blob", out_col: str = "payload"
) -> DataFrame:
    """Materialize out-of-row blobs from POINTER columns (path, offset,
    length) — the 100 TB shape: parquet rows stay small; each task reads
    only its rows' byte ranges from the blob store (seek+read; for object
    stores, a ranged GET). mapInPandas keeps the fetch distributed and
    Arrow-batched; co-locate by path beforehand (repartition on
    ``blob.path``) to turn random reads into near-sequential ones."""
    in_cols = [c for c in df.columns]
    schema_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    schema = f"{schema_fields}, {out_col} binary"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        handles: dict[str, object] = {}
        try:
            for pdf in it:
                payloads = []
                for ptr in pdf[pointer_col]:
                    if (
                        ptr is None
                        or ptr["path"] is None
                        or ptr["offset"] is None
                        or ptr["length"] is None
                    ):
                        payloads.append(None)  # malformed pointer ≠ failed job
                        continue
                    fh = handles.get(ptr["path"])
                    if fh is None:
                        fh = handles[ptr["path"]] = open(ptr["path"], "rb")
                    fh.seek(ptr["offset"])
                    payloads.append(fh.read(ptr["length"]))
                out = pdf[in_cols].copy()
                out[out_col] = payloads
                yield out
        finally:
            for fh in handles.values():
                fh.close()

    return df.mapInPandas(batches, schema)


def ahash_signatures(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    bits: int = 60,
) -> DataFrame:
    """(id, sim bigint) block-mean hash ("aHash") over binary payloads —
    the perceptual-fingerprint plumbing for image near-dup, minus the
    codec: a real pHash would decode pixels first (codec libs absent
    here; see decode_image_stub), this hashes the raw byte stream with
    the SAME downstream shape. The payload splits into ``bits``
    contiguous blocks (byte i -> block floor(i*bits/n)); bit b is set
    iff block b's mean byte value exceeds the whole payload's mean,
    decided by INTEGER cross-multiplication ``s_b * n > S * l_b`` — no
    float anywhere, so any engine reproduces the hash bit-for-bit.
    ``bits`` <= 60 keeps every intermediate exact in int64 (the repo's
    portable-hash convention). Arrow-batched mapInPandas, numpy inner
    loop; payloads shorter than ``bits`` bytes hash to NULL (dropped —
    too small to block on).

    Feed the result straight into ``functions.dedup.simhash_neighbors``
    for exact pigeonhole Hamming blocking — fingerprints shuffle as one
    bigint per blob, payloads never re-cross the wire."""
    import numpy as np

    assert 1 <= bits <= 60

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            hashes: list[int | None] = []
            for payload in pdf[payload_col]:
                if payload is None or len(payload) < bits:
                    hashes.append(None)
                    continue
                a = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                n = a.shape[0]
                blk = (np.arange(n, dtype=np.int64) * bits) // n
                s = np.bincount(blk, weights=a, minlength=bits).astype(np.int64)
                l = np.bincount(blk, minlength=bits).astype(np.int64)
                total = int(a.sum())
                bit = (s * n) > (total * l)
                h = 0
                for b in np.nonzero(bit)[0]:
                    h |= 1 << int(b)
                hashes.append(h)
            yield pd.DataFrame({"id": pdf[id_col], "sim": pd.array(hashes, dtype="Int64")})

    return (
        df.select(id_col, payload_col)
        .mapInPandas(batches, "id long, sim long")
        .filter(F.col("sim").isNotNull())
    )
