"""Multimodal columns: images/audio/video as opaque ``binary`` columns
with typed metadata, plus decode/feature-extract plumbing.

Design: a multimodal dataset is just a DataFrame with a ``binary``
column and a ``map<string,string>`` metadata column — partitioning,
predicate pushdown on metadata, and columnar storage all come for free
from parquet + Catalyst.  Heavy per-blob work (decode, resize, feature
extraction) runs in Arrow-batched ``mapInArrow`` (through
:func:`~..utils.map_rows`) so bytes cross the JVM/Python boundary once
per batch, not per row.

Codec policy: blobs in the deterministic ``FAKE`` container format
(see :func:`make_fake_image_blob`) always decode — they are the
reproducible oracle path every gate query and test uses.  For real
containers the kernels probe for an optional codec library **inside
the worker-side kernel** (PIL for images, soundfile for audio —
:func:`_image` / :func:`_optional_soundfile`): if present, real
bytes decode through it; if absent (as in this build's sandbox, which
has neither), real bytes raise ``NotImplementedError`` exactly as
before.  Video frame extraction stays stub-only (a real path needs
ffmpeg subprocess plumbing, not just an import).  Everything around
the codec seam — schemas, batching, UDF signatures, partition
behavior — is identical on both paths.
"""

from __future__ import annotations

import io

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..utils import map_rows

__all__ = [
    "make_fake_image_blob",
    "blob_metadata",
    "with_blob_metadata",
    "decode_images",
    "resize_images",
    "make_fake_video_blob",
    "sample_frames",
    "sample_frame_indices",
    "image_ahash",
    "ahash_near_dup_pairs",
    "make_fake_audio_blob",
    "audio_stats",
]

_MAGICS = [
    (b"IMG1", "fake-image"),
    (b"\x89PNG", "png"),
    (b"\xff\xd8\xff", "jpeg"),
    (b"GIF8", "gif"),
    (b"RIFF", "riff"),
]


def _optional_pil():
    """PIL.Image if importable, else None — called inside worker-side
    kernels so the driver never needs the library installed."""
    try:
        from PIL import Image
        return Image
    except ImportError:
        return None


def _image(data: bytes, fake, real):
    """``fake(width, height, payload)`` for a blob in the FAKE container,
    else ``real(im)`` on the blob opened by PIL — which must be
    importable on the worker, or the blob raises
    ``NotImplementedError``."""
    if data.startswith(b"IMG1|"):
        _, w, h, payload = data.split(b"|", 3)
        return fake(int(w), int(h), payload)
    pil = _optional_pil()
    if pil is None:
        raise NotImplementedError(
            "real image decoding requires PIL/libvips; only the "
            "deterministic FAKE container is supported in this build"
        )
    with pil.open(io.BytesIO(data)) as im:
        return real(im)


def _optional_soundfile():
    """soundfile module if importable, else None (worker-side probe)."""
    try:
        import soundfile
        return soundfile
    except ImportError:
        return None


def make_fake_image_blob(text: Column, width: Column, height: Column) -> Column:
    """Deterministic stand-in for real image bytes: an ``IMG1`` header
    with dimensions, then the payload.  Lets the full pipeline run
    end-to-end without codec libraries."""
    header = F.concat_ws("|", F.lit("IMG1"), width.cast("string"), height.cast("string"))
    return F.encode(F.concat(header, F.lit("|"), text), "utf-8")


def blob_metadata(blob: Column) -> dict:
    """Cheap, codec-free metadata — pure column expressions over the
    raw bytes: size, checksum, container sniff from magic bytes."""
    fmt = F.lit("unknown")
    # compare raw binary prefixes — decode() would throw on non-UTF8
    # magic bytes under Spark 4's ANSI mode
    for magic, name in reversed(_MAGICS):
        fmt = F.when(F.substring(blob, 1, len(magic)) == F.lit(magic), name).otherwise(fmt)
    return {
        "size_bytes": F.length(blob),
        "crc32": F.crc32(blob),
        "format": fmt,
    }


def with_blob_metadata(df: DataFrame, blob_col: str = "blob", prefix: str = "m_") -> DataFrame:
    """Input plus every :func:`blob_metadata` column (prefixed) — a
    scan-speed projection over the binary column, no decode."""
    cols = blob_metadata(F.col(blob_col))
    return df.select("*", *[c.alias(prefix + k) for k, c in cols.items()])


def decode_images(
    df: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """Decode image blobs to (id, width, height, payload_bytes).

    Arrow-batched ``mapInArrow``: the kernel sees the raw bytes.  The
    ``FAKE`` container always decodes (deterministic oracle path); real
    formats decode through PIL when it is importable on the workers
    (``payload_bytes`` = container size), else raise
    ``NotImplementedError``.
    """

    def rows(doc_id, data):
        yield (doc_id, *_image(
            data,
            lambda w, h, payload: (w, h, len(payload)),
            lambda im: (im.width, im.height, len(data)),
        ))

    return map_rows(
        df.select(id_col, blob_col),
        f"{id_col} long, width int, height int, payload_bytes long",
        rows,
    )


def sample_frame_indices(
    n_frames: Column, every: int = 10, max_frames: int = 32
) -> Column:
    """Deterministic frame sampling plan for video blobs: every
    ``every``-th frame, capped — pure column expression, the shape a
    frame-extraction kernel consumes."""
    last = F.least(n_frames - 1, F.lit((max_frames - 1) * every))
    return F.when(n_frames > 0, F.sequence(F.lit(0), last, F.lit(every))).otherwise(
        F.array().cast("array<int>")
    )


def resize_images(
    df: DataFrame,
    target_w: int,
    target_h: int,
    id_col: str = "doc_id",
    blob_col: str = "blob",
) -> DataFrame:
    """Fit-within resize of image blobs: scale to the largest size that
    fits ``target_w × target_h`` preserving aspect ratio (never
    upscales).  Arrow-batched ``mapInArrow`` — the exact slot a
    PIL/libvips ``thumbnail`` call occupies in production.

    The deterministic ``FAKE`` container resizes by exact integer
    arithmetic (the "resample" keeps a payload prefix proportional to
    the pixel-count ratio) — the oracle path any engine can replay.
    Real formats resize through PIL's ``thumbnail`` (LANCZOS,
    re-encoded in the source format) when PIL is importable on the
    workers, else raise ``NotImplementedError``.  Output rows carry the
    resized blob (chainable into :func:`decode_images`) plus the old
    and new dimensions.
    """
    tw, th = int(target_w), int(target_h)
    if tw < 1 or th < 1:
        raise ValueError(f"target size must be positive, got {tw}x{th}")

    def fake(w, h, payload):
        # degenerate 0-dimension blobs (nothing validates dims at
        # creation) clamp to 1px instead of crashing the whole task on a
        # ZeroDivisionError
        scale = min(tw / max(w, 1), th / max(h, 1), 1.0)
        ow = max(1, int(w * scale))
        oh = max(1, int(h * scale))
        keep = max(1, (len(payload) * ow * oh) // max(w * h, 1)) if payload else 0
        return w, h, ow, oh, f"IMG1|{ow}|{oh}|".encode() + payload[:keep]

    def real(im):
        small = im.copy()
        small.thumbnail((tw, th))
        buf = io.BytesIO()
        small.save(buf, format=im.format or "PNG")
        return im.width, im.height, small.width, small.height, buf.getvalue()

    def rows(doc_id, data):
        yield (doc_id, *_image(data, fake, real))

    return map_rows(
        df.select(id_col, blob_col),
        f"{id_col} long, width int, height int, out_width int, out_height int, "
        f"{blob_col} binary",
        rows,
    )


def make_fake_video_blob(text: Column, n_frames: Column, frame_bytes: Column) -> Column:
    """Deterministic stand-in for video bytes: a ``VID1`` header with
    frame count + bytes-per-frame, then the payload (conceptually the
    concatenated frames)."""
    header = F.concat_ws(
        "|", F.lit("VID1"), n_frames.cast("string"), frame_bytes.cast("string")
    )
    return F.encode(F.concat(header, F.lit("|"), text), "utf-8")


def sample_frames(
    df: DataFrame,
    every: int = 10,
    max_frames: int = 32,
    id_col: str = "doc_id",
    blob_col: str = "blob",
) -> DataFrame:
    """Extract sampled frames from video blobs: one OUTPUT ROW PER
    FRAME (every ``every``-th, capped at ``max_frames``) — the
    fan-out shape a real ffmpeg frame extractor produces, exercising
    the 1→N ``mapInArrow`` plumbing downstream vision models consume.

    Frame ``i``'s bytes are the payload slice
    ``[i·frame_bytes, (i+1)·frame_bytes)`` (short reads at the tail
    are real, like a truncated container).  STUB: only the ``VID1``
    FAKE container decodes; real formats raise ``NotImplementedError``.

    Returns ``(id, n_frames, frame_index, frame_size, frame)``.
    """
    ev, mx = int(every), int(max_frames)
    if ev < 1 or mx < 1:
        raise ValueError(f"every/max_frames must be positive, got {ev}/{mx}")

    def rows(doc_id, data):
        if not data.startswith(b"VID1|"):
            raise NotImplementedError(
                "real video decoding requires ffmpeg; only the "
                "deterministic FAKE container is supported in this build"
            )
        _, n, fb, payload = data.split(b"|", 3)
        n, fb = int(n), int(fb)
        # n <= 0 leaves the range empty: no frames, no rows
        for i in range(0, min(n - 1, (mx - 1) * ev) + 1, ev):
            chunk = payload[i * fb:(i + 1) * fb]
            yield doc_id, n, i, len(chunk), chunk

    return map_rows(
        df.select(id_col, blob_col),
        f"{id_col} long, n_frames int, frame_index int, frame_size int, frame binary",
        rows,
    )


def image_ahash(
    df: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """64-bit average-hash (aHash) perceptual fingerprint per image
    blob, returned as 8 per-byte bands ``(id, bands: array<int>)`` —
    the representation the banded hamming join consumes directly.

    The hash is computed over the decoded pixel buffer: position ``p``
    of ``L`` bytes belongs to cell ``p·64 // L`` (64 near-equal
    contiguous cells); bit ``i`` is set iff cell ``i``'s mean exceeds
    the global mean.  The comparison is done in integers
    (``s_i·L > total·w_i``) so the hash is bit-identical across
    runs, partitionings, and engines — no float means.  Band ``j``
    packs bits ``8j..8j+7`` big-endian into 0..255.

    Arrow-batched ``mapInArrow`` with a vectorized numpy kernel.  The
    deterministic ``FAKE`` container hashes its payload bytes (the
    oracle path); real formats hash classical aHash pixels — PIL
    grayscale, LANCZOS resize to 8×8, same integer threshold — when
    PIL is importable on the workers, else raise
    ``NotImplementedError`` (same codec contract as
    :func:`decode_images`).  An empty payload hashes to all-zero bands.
    """
    import numpy as np

    _weights = 1 << (7 - np.arange(8, dtype=np.int64))

    def pixels(im):
        from PIL import Image

        return im.convert("L").resize((8, 8), Image.LANCZOS).tobytes()

    def rows(doc_id, data):
        payload = _image(data, lambda w, h, payload: payload, pixels)
        arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
        L = int(arr.size)
        if L == 0:
            yield doc_id, [0] * 8
            return
        cell = (np.arange(L, dtype=np.int64) * 64) // L
        s = np.zeros(64, dtype=np.int64)
        np.add.at(s, cell, arr)
        w = np.bincount(cell, minlength=64)
        bits = (s * L > int(arr.sum()) * w).astype(np.int64)
        yield doc_id, [int((bits[8 * j : 8 * j + 8] * _weights).sum()) for j in range(8)]

    return map_rows(df.select(id_col, blob_col), f"{id_col} long, bands array<int>", rows)


def ahash_near_dup_pairs(
    df: DataFrame,
    max_distance: int = 6,
    id_col: str = "doc_id",
    blob_col: str = "blob",
    unpersist_handle=None,
) -> DataFrame:
    """Image near-duplicate pairs by perceptual-hash hamming distance:
    ``(id_a, id_b, hamming)`` with ``hamming <= max_distance`` — the
    standard screen for re-encoded / lightly-edited duplicate images
    in a multimodal corpus.

    Candidate generation is the banded join over :func:`image_ahash`'s
    8 bands (pairs sharing at least one identical 8-bit band), then
    the exact 64-bit hamming distance verifies candidates.  By
    pigeonhole this is **lossless for ``max_distance <= 7``**: a pair
    differing in ``d < 8`` bits touches at most ``d`` bands, so at
    least one band matches exactly — the same guarantee structure as
    the SimHash banding in :mod:`..dedup`, with no all-pairs join
    anywhere.  Verification arithmetic is ``bit_count(xor)`` over the
    bands — JVM-side, codegen, no UDF.

    Signatures are computed once and persisted.  The cache outlives
    the returned
    DataFrame's consumption; pass an ``unpersist_handle``
    (:class:`~..utils.UnpersistHandle`) and call it when done to
    release the cached signature blocks — same contract as
    ``connected_components`` / ``triangle_counts`` — otherwise they
    persist until ``clearCache``/session end.
    """
    if not (0 <= max_distance <= 7):
        raise ValueError(
            f"max_distance must be in [0, 7] for lossless banding, got {max_distance}"
        )
    sig = image_ahash(df, id_col=id_col, blob_col=blob_col).persist()
    if unpersist_handle is not None:
        unpersist_handle.set_dataframe(sig)
    # the 8-band signature rides with each posting so the exact hamming
    # distance is computed INSIDE the band join (a projection) — no
    # join back to the signature frame, whose second consumer used to
    # race the persist (same restructure as the MinHash LSH operators).
    # A pair matching on several bands re-evaluates the cheap bit_count
    # fold; the final distinct is exact because hamming is a pure
    # function of the pair.
    expl = sig.select(
        F.col(id_col).alias("__id"),
        F.col("bands").alias("__bands"),
        F.posexplode("bands").alias("__band", "__val"),
    )
    ham = F.aggregate(
        F.zip_with(
            F.col("a.__bands"),
            F.col("b.__bands"),
            lambda x, y: F.bit_count(x.bitwiseXOR(y)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        expl.alias("a")
        .join(
            expl.alias("b"),
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__val") == F.col("b.__val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_distance)
        .distinct()
    )


def make_fake_audio_blob(text: Column, sample_rate: Column) -> Column:
    """Deterministic stand-in for audio bytes: an ``AUD1`` header with
    the sample rate, then the payload (conceptually 8-bit PCM
    samples)."""
    header = F.concat_ws("|", F.lit("AUD1"), sample_rate.cast("string"))
    return F.encode(F.concat(header, F.lit("|"), text), "utf-8")


def audio_stats(
    df: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """Decode audio blobs to per-clip stats ``(id, sample_rate,
    n_samples, duration_ms, energy, peak)`` — the triage pass of an
    audio-curation pipeline (drop silence, cap clip length, find
    clipped recordings) with everything downstream of the decode pure
    integers, so results are bit-identical across engines.

    - ``duration_ms = n_samples * 1000 // sample_rate`` (integer floor)
    - ``energy``    = Σ s_i² over the 8-bit sample values (int64)
    - ``peak``      = max sample value (0 for empty clips)

    Arrow-batched ``mapInArrow`` numpy kernel.  The deterministic
    ``FAKE`` container (8-bit samples) always decodes — the oracle
    path.  Real containers (WAV/FLAC/OGG) decode through soundfile as
    int16 samples (energy/peak over the int16 magnitudes, still exact
    int64 arithmetic) when the library is importable on the workers,
    else raise ``NotImplementedError`` (same codec contract as
    :func:`decode_images`).
    """
    import numpy as np

    def rows(doc_id, data):
        if data.startswith(b"AUD1|"):
            _, rate, payload = data.split(b"|", 2)
            arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
        else:
            sf_mod = _optional_soundfile()
            if sf_mod is None:
                raise NotImplementedError(
                    "real audio decoding requires ffmpeg/soundfile; "
                    "only the deterministic FAKE container is "
                    "supported in this build"
                )
            samples, rate = sf_mod.read(io.BytesIO(data), dtype="int16")
            arr = np.abs(np.asarray(samples, dtype=np.int64).reshape(-1))
        rate, n = int(rate), int(arr.size)
        yield (
            doc_id, rate, n, n * 1000 // rate if rate > 0 else 0,
            int((arr * arr).sum()), int(arr.max()) if n else 0,
        )

    return map_rows(
        df.select(id_col, blob_col),
        f"{id_col} long, sample_rate int, n_samples long, duration_ms long,"
        " energy long, peak int",
        rows,
    )
