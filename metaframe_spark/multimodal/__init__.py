"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The pattern for image/audio/video at 100 TB: store the payload as an
opaque ``binary`` column (or a path/offset into an object store) next to a
typed metadata struct, and run decode / feature-extraction as Arrow-batched
``mapInPandas`` stages so the Python boundary is crossed once per batch,
never per row.

Every media stage — metadata extraction, resize, frame sampling — tries a
REAL codec first when one is importable: Pillow (PIL), probed inside the
executor-side UDF so the plumbing works whether or not the driver
environment has it. Payloads PIL cannot decode — and every payload when
PIL is absent (this sandbox) — fall back to a deterministic stub
(sha256-derived dims / byte-truncate / byte-slice), which keeps the whole
pipeline SQL-reproducible for the DuckDB oracle. ``mode`` records which
path ran in extraction: a real PIL mode string ("RGB", "L", ...) or
``"stub"``. True video decode (keyframe pulls) needs ffmpeg and stays
stubbed — PIL's multi-frame path covers animated GIF / multi-page TIFF.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: metadata emitted per payload by extract_media_metadata
MEDIA_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("size_bytes", LongType()),
        StructField("sha256", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("mode", StringType()),
    ]
)


def attach_demo_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach a deterministic fake binary payload (the utf-8 bytes of the
    text column) + a media_type tag — stands in for real image/audio bytes
    so the binary-column pipeline is exercisable on the test tables."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8").cast(BinaryType())).withColumn(
        "media_type", F.lit("image/fake")
    )


def decode_image(payload: bytes):
    """Decode an image payload into (width, height, mode).

    Uses Pillow when importable (``pip install Pillow`` in a real
    deployment); raises ``NotImplementedError`` otherwise — the capability
    probe callers can catch. The Spark pipeline never calls this directly:
    :func:`extract_media_metadata` embeds the same try-PIL-else-stub logic
    inside its executor-side UDF so undecodable payloads degrade to the
    deterministic stub instead of failing the stage.
    """
    try:
        from PIL import Image
    except ImportError as exc:  # pragma: no cover - PIL absent in sandbox
        raise NotImplementedError(
            "image decode requires Pillow (pip install Pillow); "
            "extract_media_metadata falls back to a deterministic stub"
        ) from exc
    import io

    with Image.open(io.BytesIO(payload)) as img:
        return img.width, img.height, img.mode


def extract_media_metadata(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched metadata extraction over the binary payload column.

    ``mapInPandas``: one Python crossing per Arrow batch; per-row work is
    numpy/hashlib over in-memory bytes. Partitioning of the input is
    preserved — no shuffle is introduced.

    The whole UDF is self-contained (nested defs, stdlib imports inside):
    cloudpickle ships it by value, so executor Python workers never need
    ``metaframe_spark`` importable — required when the driver process runs
    from outside the repo.
    """

    def extract(batches: Iterator) -> Iterator:
        import hashlib as _hashlib
        import io as _io

        import pandas as pd

        try:  # executor-side capability probe: PIL when present, stub else
            from PIL import Image as _Image
        except ImportError:
            _Image = None

        def decode(payload: bytes) -> tuple:
            digest = _hashlib.sha256(payload).hexdigest()
            if _Image is not None and payload:
                try:
                    with _Image.open(_io.BytesIO(payload)) as img:
                        return digest, img.width, img.height, img.mode
                except Exception:
                    pass  # not a decodable image — deterministic stub below
            # stub: dimensions derived from the sha256 so downstream
            # plumbing has stable, SQL-reproducible values
            width = 64 + int(digest[:4], 16) % 1984  # 64..2047
            height = 64 + int(digest[4:8], 16) % 1984
            return digest, width, height, "stub"

        for pdf in batches:
            digests, widths, heights, modes = [], [], [], []
            for payload in pdf["payload"]:
                digest, w, h, m = decode(b"" if payload is None else bytes(payload))
                digests.append(digest)
                widths.append(w)
                heights.append(h)
                modes.append(m)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "media_type": pdf["media_type"],
                    "size_bytes": pdf["payload"].map(len),
                    "sha256": digests,
                    "width": widths,
                    "height": heights,
                    "mode": modes,
                }
            )

    return df.select(id_col, "media_type", "payload").mapInPandas(
        extract, schema=MEDIA_META_SCHEMA
    )


def image_dhash(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    out_col: str = "dhash",
) -> DataFrame:
    """64-bit perceptual difference-hash (dHash) fingerprints over binary
    image payloads — the fingerprint a multimodal training-data pipeline
    dedups with: near-identical images (re-encodes,
    small edits, resizes) land within a few Hamming bits of each other,
    unlike the exact sha256 digest which any single-byte change escapes.

    Arrow-batched ``mapInPandas`` (one Python crossing per batch, same
    contract as :func:`extract_media_metadata`); the UDF probes for
    Pillow inside the executor. Decodable payloads take the REAL dHash:
    grayscale → resize to 9×8 (bilinear, fixed so the fingerprint is
    stable across runs) → bit (r, c) = px[r][c] > px[r][c+1], row-major
    64 bits. Undecodable payloads — and every payload when PIL is absent
    (this sandbox) — take the deterministic stub: the "image" is the
    payload's bytes tiled row-major onto the same 9×8 grid
    (``px[k] = byte[k mod len]``), then the IDENTICAL comparison rule.
    The stub preserves the perceptual property that makes dHash useful
    (a localized byte edit flips at most a couple of bits; unrelated
    payloads differ in ~half) and is pure integer arithmetic on the
    payload bytes, so the DuckDB oracle replays it exactly (the
    ``llm_image_neardup`` entry). ``mode`` records which path ran.

    Output: (id — input type preserved, ``out_col`` long, mode string).
    Fingerprints are signed
    64-bit (bit 63 wraps negative) — exactly what the banded-Hamming
    join (:func:`image_near_dup_pairs`) and ``bit_count(xor)`` expect."""

    def fingerprint(batches: Iterator) -> Iterator:
        import io as _io

        import pandas as pd

        try:  # executor-side capability probe (mirrors extract_media_metadata)
            from PIL import Image as _Image
        except ImportError:
            _Image = None

        def signed64(v: int) -> int:
            return v - (1 << 64) if v >= (1 << 63) else v

        def bits_to_hash(px) -> int:
            # px: 72 grayscale values, row-major 8 rows x 9 cols
            v = 0
            for r in range(8):
                for c in range(8):
                    if px[r * 9 + c] > px[r * 9 + c + 1]:
                        v |= 1 << (r * 8 + c)
            return signed64(v)

        def one(p) -> tuple:
            b = b"" if p is None else bytes(p)
            if _Image is not None and b:
                try:
                    # Pillow >= 9.1 moved resample constants to
                    # Image.Resampling (old aliases dropped in 10 for some)
                    resample = getattr(_Image, "Resampling", _Image).BILINEAR
                    with _Image.open(_io.BytesIO(b)) as img:
                        small = img.convert("L").resize((9, 8), resample)
                        return bits_to_hash(list(small.getdata())), "dhash"
                except Exception:
                    pass  # not a decodable image — deterministic stub below
            if not b:
                return 0, "stub"
            n = len(b)
            return bits_to_hash([b[k % n] for k in range(72)]), "stub"

        for pdf in batches:
            hashes, modes = [], []
            for p in pdf[payload_col]:
                h, m = one(p)
                hashes.append(h)
                modes.append(m)
            yield pd.DataFrame(
                {id_col: pdf[id_col], out_col: hashes, "mode": modes}
            )

    # the id column passes through UNTOUCHED, so the output schema carries
    # its actual input type — hardcoding `long` would make a string-id
    # corpus die deep inside the Arrow cast with an error naming neither
    # the operator nor the column
    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, payload_col).mapInPandas(
        fingerprint, schema=f"{id_col} {id_type}, {out_col} long, mode string"
    )


def _fingerprint_near_dup_pairs(
    fp_df: DataFrame,
    id_col: str,
    fp_col: str,
    max_hamming: int,
    n_bands: int,
) -> DataFrame:
    """Shared choreography for every perceptual *_near_dup_pairs wrapper:
    pin the fingerprint relation (both join sides consume it — without
    the pin each side re-decodes every payload through its own Arrow
    pass) and run the banded-Hamming engine; the caller's
    :func:`~metaframe_spark.session.persist_scope` releases the pin. One
    implementation so a banding fix lands everywhere at once."""
    from ..operators.dedup import hamming_near_dup_pairs

    fp = fp_df.persist()
    return hamming_near_dup_pairs(
        fp, id_col, fp_col, bits=64, max_hamming=max_hamming, n_bands=n_bands
    )


def image_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Perceptual image near-duplicate pairs: dHash fingerprints
    (:func:`image_dhash`, one Arrow pass over the payloads) fed through
    the banded-Hamming engine shared with text SimHash
    (:func:`~metaframe_spark.operators.dedup.hamming_near_dup_pairs`) —
    by pigeonhole the band equi-join is COMPLETE for
    ``max_hamming < n_bands``, so output is identical to an exhaustive
    all-pairs Hamming scan at banded-candidate cost. This is the
    multimodal analogue of ``simhash_near_dup_pairs``: the only
    Python is the Arrow-batched fingerprint; banding, the equi-join,
    and the xor popcount verify are all JVM codegen.

    The fingerprint relation is ``persist()``-ed (MEMORY_AND_DISK)
    before the self-join — both join sides consume it, and without the
    pin each side would re-decode every payload through its own Arrow
    pass (the 2× that matters when decode dominates, which for real
    images it does). The caller's
    :func:`~metaframe_spark.session.persist_scope` releases the pin."""
    return _fingerprint_near_dup_pairs(
        image_dhash(df, id_col=id_col, payload_col=payload_col),
        id_col,
        "dhash",
        max_hamming=max_hamming,
        n_bands=n_bands,
    )


def resize_media(
    df: DataFrame,
    target_width: int = 256,
    target_height: int = 256,
    id_col: str = "doc_id",
) -> DataFrame:
    """Arrow-batched resize stage: binary payload in → binary payload out.

    Real codec when available: the UDF probes for Pillow inside the
    executor (same pattern as :func:`extract_media_metadata`) and, for
    payloads PIL can decode, does decode → ``Image.resize((w, h))`` →
    re-encode as PNG. Payloads PIL cannot decode — and every payload when
    PIL is absent (this sandbox) — fall back to the deterministic
    byte-truncate stub (first ceil(len/4) bytes, a SQL-reproducible
    stand-in for a 2×2 downsample), which is what keeps the DuckDB oracle
    valid on the fake text-byte payloads. The Spark contract is identical
    on both paths: one Python crossing per Arrow batch, partitions
    preserved, no shuffle.
    """

    def resize(batches: Iterator) -> Iterator:
        import io as _io

        import pandas as pd

        try:  # executor-side capability probe (mirrors extract_media_metadata)
            from PIL import Image as _Image
        except ImportError:
            _Image = None

        def one(p) -> bytes:
            # None payloads pass through as empty — a real deployment would
            # route them to a quarantine column instead of crashing the task
            b = b"" if p is None else bytes(p)
            if _Image is not None and b:
                try:
                    with _Image.open(_io.BytesIO(b)) as img:
                        resized = img.resize((target_width, target_height))
                        buf = _io.BytesIO()
                        resized.save(buf, format="PNG")
                        return buf.getvalue()
                except Exception:
                    pass  # not a decodable image — deterministic stub below
            return b[: (len(b) + 3) // 4]

        for pdf in batches:
            out = pdf["payload"].map(one)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": out,
                    "width": target_width,
                    "height": target_height,
                    "size_bytes": out.map(len),
                }
            )

    return df.select(id_col, "payload").mapInPandas(
        resize,
        schema=f"{id_col} long, payload binary, width long, height long, size_bytes long",
    )


def sample_frames(
    df: DataFrame,
    frame_bytes: int = 256,
    max_frames: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Row-EXPANDING frame sampler: each payload ("video") yields up to
    ``max_frames`` fixed-stride chunks ("frames") — the mapInPandas shape
    where output cardinality exceeds input cardinality, which a scalar
    pandas_udf cannot express.

    Real codec when available: the UDF probes for Pillow inside the
    executor and, for payloads PIL decodes as MULTI-frame media (animated
    GIF / multi-page TIFF — ``n_frames > 1``), samples up to ``max_frames``
    evenly-strided frames and re-encodes each as PNG. True video needs an
    ffmpeg keyframe pull — out of scope for PIL. Everything else — single-
    frame images, undecodable payloads, and every payload when PIL is
    absent (this sandbox) — uses the deterministic stub: frame j is the
    byte slice [j·frame_bytes, (j+1)·frame_bytes), which keeps the DuckDB
    oracle valid. Every payload emits at least one frame (possibly empty),
    so downstream joins see every document. Output stays within the
    input's partitions — the fan-out is row-local, no shuffle.
    """

    def frames(batches: Iterator) -> Iterator:
        import io as _io

        import pandas as pd

        try:  # executor-side capability probe (mirrors extract_media_metadata)
            from PIL import Image as _Image
        except ImportError:
            _Image = None

        def real_frames(b: bytes):
            """PIL path: evenly-strided frames of multi-frame media, or None
            to fall back to the stub (single frame / undecodable / no PIL)."""
            if _Image is None or not b:
                return None
            try:
                with _Image.open(_io.BytesIO(b)) as img:
                    n_avail = getattr(img, "n_frames", 1)
                    if n_avail <= 1:
                        return None
                    n = min(max_frames, n_avail)
                    stride = n_avail / n
                    out = []
                    for j in range(n):
                        img.seek(int(j * stride))
                        buf = _io.BytesIO()
                        img.convert("RGB").save(buf, format="PNG")
                        out.append(buf.getvalue())
                    return out
            except Exception:
                return None

        for pdf in batches:
            ids, idxs, chunks = [], [], []
            for i, p in zip(pdf[id_col], pdf["payload"]):
                b = b"" if p is None else bytes(p)
                real = real_frames(b)
                if real is not None:
                    for j, fr in enumerate(real):
                        ids.append(i)
                        idxs.append(j)
                        chunks.append(fr)
                    continue
                n = min(max_frames, max(1, (len(b) + frame_bytes - 1) // frame_bytes))
                for j in range(n):
                    ids.append(i)
                    idxs.append(j)
                    chunks.append(b[j * frame_bytes : (j + 1) * frame_bytes])
            yield pd.DataFrame({id_col: ids, "frame_idx": idxs, "frame": chunks})

    return df.select(id_col, "payload").mapInPandas(
        frames, schema=f"{id_col} long, frame_idx long, frame binary"
    )


def audio_fingerprint(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    out_col: str = "afp",
) -> DataFrame:
    """64-bit acoustic fingerprint over binary audio payloads — the
    audio member of the perceptual near-dup family (images →
    :func:`image_dhash`, text → SimHash), chromaprint-shaped: the
    payload's amplitude envelope is reduced to 65 equal time windows
    and bit ``w`` = energy(w) > energy(w+1) — a re-encode, a volume
    change (every window scales equally, comparisons unchanged), or a
    resample (windows are duration fractions) lands within a few
    Hamming bits, while unrelated audio sits ~32 bits apart. NOT
    claimed: pitch-shift or time-OFFSET robustness (those need
    spectral landmarks — Shazam-style — not an envelope).

    Real codec path: RIFF/WAVE payloads decode through the stdlib
    ``wave`` module (16-bit PCM; energy = Σ|sample| per window), so
    unlike the Pillow-gated image path this one RUNS in any Python —
    proven by unit tests on synthesized WAVs. Everything else — and
    any payload ``wave`` rejects — takes the deterministic stub: raw
    bytes as unsigned samples through the IDENTICAL window/comparison
    rule, pure integer arithmetic a SQL oracle replays exactly
    (``llm_audio_neardup``). ``mode`` records which path ran.

    Output: (id — input type preserved, ``out_col`` long, mode
    string); Arrow-batched ``mapInPandas``, one Python crossing per
    batch."""

    def fingerprint(batches: Iterator) -> Iterator:
        import io as _io

        import pandas as pd

        def signed64(v: int) -> int:
            return v - (1 << 64) if v >= (1 << 63) else v

        def bits_from_energies(e) -> int:
            v = 0
            for w in range(64):
                if e[w] > e[w + 1]:
                    v |= 1 << w
            return signed64(v)

        def windows(vals) -> list:
            n = len(vals)
            return [
                sum(vals[(w * n) // 65 : ((w + 1) * n) // 65])
                for w in range(65)
            ]

        def one(p) -> tuple:
            b = b"" if p is None else bytes(p)
            if b[:4] == b"RIFF":
                try:
                    import array as _array
                    import wave as _wave

                    with _wave.open(_io.BytesIO(b)) as w:
                        if w.getsampwidth() == 2:
                            raw = w.readframes(w.getnframes())
                            samples = _array.array("h")
                            samples.frombytes(raw[: len(raw) // 2 * 2])
                            # WAV PCM is little-endian by spec; array('h')
                            # reads native order — byteswap on big-endian
                            # hosts or a mixed-arch cluster fingerprints
                            # the same payload two different ways
                            import sys as _sys

                            if _sys.byteorder == "big":
                                samples.byteswap()
                            if samples:
                                return (
                                    bits_from_energies(
                                        windows([abs(s) for s in samples])
                                    ),
                                    "wave",
                                )
                except Exception:
                    pass  # not decodable WAV — deterministic stub below
            if not b:
                return 0, "stub"
            return bits_from_energies(windows(list(b))), "stub"

        for pdf in batches:
            hashes, modes = [], []
            for p in pdf[payload_col]:
                h, m = one(p)
                hashes.append(h)
                modes.append(m)
            yield pd.DataFrame(
                {id_col: pdf[id_col], out_col: hashes, "mode": modes}
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, payload_col).mapInPandas(
        fingerprint, schema=f"{id_col} {id_type}, {out_col} long, mode string"
    )


def audio_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Acoustic near-duplicate pairs: :func:`audio_fingerprint` through
    the banded-Hamming engine shared with text SimHash and image dHash
    (:func:`~metaframe_spark.operators.dedup.hamming_near_dup_pairs`) —
    complete for ``max_hamming < n_bands`` by pigeonhole, so banded
    output ≡ an exhaustive all-pairs Hamming scan at banded-candidate
    cost. The fingerprint relation pins once (both join sides consume
    it; the caller's :func:`~metaframe_spark.session.persist_scope`
    releases the pin)."""
    return _fingerprint_near_dup_pairs(
        audio_fingerprint(df, id_col=id_col, payload_col=payload_col),
        id_col,
        "afp",
        max_hamming=max_hamming,
        n_bands=n_bands,
    )


def video_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    frame_bytes: int = 256,
    max_frames: int = 8,
    max_hamming: int = 3,
    n_bands: int = 4,
    min_shared_frames: int = 2,
) -> DataFrame:
    """Video near-duplicate pairs — the fourth perceptual member (text
    SimHash, image dHash, audio envelope, and now FRAME-SAMPLED video),
    a pure composition of the existing stages: payloads sample into up
    to ``max_frames`` frames (:func:`sample_frames` — real multi-frame
    decode when PIL can, byte-stride stub otherwise), each frame
    fingerprints through :func:`image_dhash`, frame-level near-matches
    come from the shared banded-Hamming engine, and documents whose
    LOWER-id side has ≥ ``min_shared_frames`` DISTINCT frames with a
    near-match in the other report with that count (bounded by
    ``max_frames`` — voting on match PAIRS instead would let one
    repeated padding/black frame multiply past either document's frame
    total) — the re-encode/re-container/trailing-edit case a
    whole-payload digest misses, and the standard frame-voting shape
    real video dedup uses over keyframe perceptual hashes.

    Returns ``(id_a, id_b, n_shared_frames)`` with ``id_a < id_b``.
    Ids must be NON-NEGATIVE integrals bounded by 2⁶³/max_frames: the
    frame relation rides a composed ``id·max_frames + frame_idx`` key
    through the Hamming join (checked at execution by an assert riding
    the projection, not silently wrapped). Plan shape: frame fan-out is
    row-local; the only shuffles are the banded equi-join on fingerprint
    bands and the final doc-pair count — candidate volume is banded
    collisions, never frames²."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    from ..operators.dedup import hamming_near_dup_pairs

    if min_shared_frames < 1:
        raise ValueError(
            "video_near_dup_pairs: min_shared_frames must be >= 1 "
            f"({min_shared_frames})"
        )
    if int(max_frames) < 1:
        raise ValueError(
            f"video_near_dup_pairs: max_frames must be >= 1 ({max_frames})"
        )
    if int(frame_bytes) < 1:
        raise ValueError(
            f"video_near_dup_pairs: frame_bytes must be >= 1 ({frame_bytes})"
        )
    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"video_near_dup_pairs: id column {id_col!r} has type "
            f"{id_type.simpleString()}; the composed frame key needs an "
            "integral id — project a surrogate first"
        )
    mf = int(max_frames)
    cap = (1 << 63) // mf - 1
    frames = sample_frames(
        df, frame_bytes=frame_bytes, max_frames=mf, id_col=id_col
    )
    fid = F.when(
        F.assert_true(
            (F.col(id_col) >= 0) & (F.col(id_col) <= F.lit(cap)),
            F.lit(
                f"video_near_dup_pairs: ids must be in [0, {cap}] so the "
                f"composed id*{mf}+frame_idx key cannot overflow"
            ),
        ).isNull(),
        F.col(id_col).cast("long") * mf + F.col("frame_idx"),
    )
    tagged = frames.select(fid.alias("_fid"), F.col("frame"))
    fp = image_dhash(tagged, id_col="_fid", payload_col="frame").persist()
    fpairs = hamming_near_dup_pairs(
        fp, "_fid", "dhash", bits=64, max_hamming=max_hamming, n_bands=n_bands
    )
    docs = fpairs.select(
        F.col("id_a").alias("_fa"),
        F.col("id_b").alias("_fb"),
        F.expr(f"id_a DIV {mf}").alias("_da"),
        F.expr(f"id_b DIV {mf}").alias("_db"),
    ).filter(F.col("_da") != F.col("_db"))
    # vote on DISTINCT matched frames of the lower-id doc, not on match
    # PAIRS: a repeated frame (padding, black frames) would otherwise
    # multiply the count past either document's frame total —
    # n_shared_frames is "how many of the lower doc's
    # frames found a near-match", bounded by max_frames
    lo_frame = F.when(
        F.col("_da") < F.col("_db"), F.col("_fa")
    ).otherwise(F.col("_fb"))
    return (
        docs.select(
            F.least("_da", "_db").alias("id_a"),
            F.greatest("_da", "_db").alias("id_b"),
            lo_frame.alias("_lof"),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.countDistinct("_lof").cast("long").alias("n_shared_frames")
        )
        .filter(F.col("n_shared_frames") >= min_shared_frames)
    )
