"""Multimodal column operators: decode / feature-extract over opaque
binary payloads (BASELINE.json extension; no reference analog — the
reference carries text only).

Design: media is an opaque ``binary`` column plus typed metadata
columns. Decode and feature extraction run as ``mapInPandas`` — Arrow
batches of (doc_id, payload, media_type) stream through Python in
columnar form, never row-at-a-time. Codecs are import-gated per worker
(the functions/wikitext.py pattern): ``image/*`` decodes through PIL
when it is installed (real pixel bytes), and raises a clearly-marked
``NotImplementedError`` when it is not — so the same plumbing (schema,
batch shape, partitioning) runs everywhere, and environments with the
codec get real decode with no code change. ``audio/wav`` decodes
through the stdlib ``wave`` + ``struct`` modules (PCM16 — zero new
dependencies, real everywhere); compressed audio (librosa) and video
(av) remain stubbed pending those libraries. The byte-identity stub
types are always supported and are what the deterministic hash-checked
tests use.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from wiki_data_pipeline_spark.session import worker_zip_guard

FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes bigint, mean_byte double, first_byte int, media_type string"
)

_STUB_TYPES = {"text/plain", "application/octet-stream"}


def encode_wav_pcm16(samples: list[int], rate: int = 8000) -> bytes:
    """Encode signed-16-bit mono PCM samples as a WAV container using
    only the stdlib (``wave`` + ``struct``). The inverse of
    :func:`decode_wav_pcm16`; used to synthesize deterministic audio
    fixtures so the decode path is exercised with REAL codec bytes."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def decode_wav_pcm16(payload: bytes) -> tuple[list[int], int]:
    """Decode a PCM16 mono WAV container → (samples, sample_rate).

    Pure-stdlib real codec (``wave`` parses the RIFF header, ``struct``
    unpacks the little-endian frames) — no external dependency, so the
    audio branch of the multimodal surface is NOT a stub anywhere."""
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getsampwidth() != 2 or w.getnchannels() != 1:
            raise ValueError(
                "decode_wav_pcm16 handles 16-bit mono PCM; got "
                f"width={w.getsampwidth()} channels={w.getnchannels()}"
            )
        n = w.getnframes()
        raw = w.readframes(n)
        return list(struct.unpack(f"<{n}h", raw)), w.getframerate()


def decode_media(payload: bytes, media_type: str) -> bytes:
    """Decode one media payload to raw bytes. Byte-identity stub types
    pass through; ``image/*`` decodes to raw RGB pixel bytes via PIL
    when installed (import-gated, the functions/wikitext.py pattern);
    ``audio/wav`` decodes to raw PCM16 frame bytes via the stdlib
    ``wave`` module (real everywhere); compressed audio/video raise a
    clearly-marked stub error pending librosa/av."""
    if media_type in _STUB_TYPES:
        return payload
    if media_type in ("audio/wav", "audio/x-wav"):
        import io
        import wave

        with wave.open(io.BytesIO(payload), "rb") as w:
            return w.readframes(w.getnframes())
    if media_type.startswith("image/"):
        try:
            import io

            from PIL import Image
        except ImportError as e:
            raise NotImplementedError(
                f"decode for {media_type!r} requires PIL, which is not "
                "installed; plumbing is real, install pillow for real decode"
            ) from e
        with Image.open(io.BytesIO(payload)) as im:
            return im.convert("RGB").tobytes()
    raise NotImplementedError(
        f"decode for {media_type!r} requires a codec library not present "
        "in this environment (librosa/av); plumbing is real, codec is stubbed"
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Byte-level feature extraction over (doc_id, payload, media_type).

    Arrow-batched via mapInPandas: each batch is vectorized pandas ops,
    no per-row Python loops beyond the payload byte view. Partitioning
    is preserved — no shuffle; scales as a pure map stage.

    IMPORTANT: the closure is fully self-contained (no references to
    module-level names) so cloudpickle serializes it BY VALUE — Spark
    Python workers do not have this package on their sys.path unless
    the driver was launched from the repo root.
    """
    stub_types = frozenset(_STUB_TYPES)
    guard = worker_zip_guard()

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        guard()

        def _decode(payload: bytes, media_type: str) -> bytes | None:
            if payload is None:
                return None  # missing media → NULL features, not a crash
            if media_type in stub_types:
                return payload
            if media_type.startswith("image/"):
                try:  # per-worker import gate: real decode iff PIL exists
                    import io

                    from PIL import Image
                except ImportError as e:
                    raise NotImplementedError(
                        f"decode for {media_type!r} requires PIL (pillow), "
                        "not installed on this worker"
                    ) from e
                with Image.open(io.BytesIO(payload)) as im:
                    return im.convert("RGB").tobytes()
            raise NotImplementedError(
                f"decode for {media_type!r} requires a codec library not "
                "present in this environment; plumbing real, codec stubbed"
            )

        for pdf in batches:
            payloads = [_decode(p, t) for p, t in zip(pdf["payload"], pdf["media_type"])]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": pd.Series(
                        [len(p) if p is not None else None for p in payloads],
                        dtype="Int64",
                    ),
                    "mean_byte": pd.Series(
                        [
                            None
                            if p is None
                            else (float(sum(p)) / len(p) if len(p) else 0.0)
                            for p in payloads
                        ],
                        dtype="Float64",
                    ),
                    "first_byte": pd.Series(
                        [
                            None if p is None else (p[0] if len(p) else -1)
                            for p in payloads
                        ],
                        dtype="Int32",
                    ),
                    "media_type": pdf["media_type"],
                }
            )

    return media.mapInPandas(_extract, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = (
    "doc_id bigint, media_type string, orig_bytes bigint, "
    "resized_bytes bigint, payload binary"
)


def resize_media(media: DataFrame, target_bytes: int = 64) -> DataFrame:
    """Resize over (doc_id, payload, media_type) — the image-resize
    surface (BASELINE.json multimodal): for stub types the 'resize' is
    a deterministic stride subsample of the byte payload down to
    ``target_bytes`` (byte-identity family, reproducible everywhere);
    ``image/*`` goes through a per-worker PIL import gate — real
    decode + pixel resize when pillow is installed, clearly-marked
    NotImplementedError when not.
    Arrow-batched mapInPandas, no shuffle — a pure map stage whose
    output is strictly smaller than its input, the property that makes
    resize-early the right plan at 100 TB (shrink before any
    exchange). Self-contained closure — workers never import this
    package."""
    stub_types = frozenset(_STUB_TYPES)
    guard = worker_zip_guard()

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        guard()

        def _decode_resize(
            payload: bytes, media_type: str
        ) -> tuple[bytes | None, bytes | None]:
            """→ (decoded_raw, resized_raw)."""
            if payload is None:
                return None, None  # missing media → NULL output, not a crash
            if media_type in stub_types:
                if len(payload) <= target_bytes:
                    return payload, payload
                stride = len(payload) / target_bytes
                return payload, bytes(
                    payload[int(i * stride)] for i in range(target_bytes)
                )
            if media_type.startswith("image/"):
                try:  # per-worker import gate: real resize iff PIL exists
                    import io

                    from PIL import Image
                except ImportError as e:
                    raise NotImplementedError(
                        f"resize for {media_type!r} requires PIL (pillow), "
                        "not installed on this worker"
                    ) from e
                # Real image path: decode, then downsample so the RGB
                # thumbnail fits target_bytes (side = floor(sqrt(t/3))).
                side = max(1, int((target_bytes / 3) ** 0.5))
                with Image.open(io.BytesIO(payload)) as im:
                    rgb = im.convert("RGB")
                    return rgb.tobytes(), rgb.resize((side, side)).tobytes()
            raise NotImplementedError(
                f"resize for {media_type!r} requires a codec library not "
                "present in this environment; plumbing real, codec stubbed"
            )

        for pdf in batches:
            decoded, resized = [], []
            for p, t in zip(pdf["payload"], pdf["media_type"]):
                d, r = _decode_resize(p, t)
                decoded.append(d)
                resized.append(r)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "media_type": pdf["media_type"],
                    "orig_bytes": pd.Series(
                        [len(p) if p is not None else None for p in decoded],
                        dtype="Int64",
                    ),
                    "resized_bytes": pd.Series(
                        [len(p) if p is not None else None for p in resized],
                        dtype="Int64",
                    ),
                    "payload": resized,
                }
            )

    return media.mapInPandas(_resize, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = "doc_id bigint, frame_idx int, n_frame_bytes bigint, frame binary"


def sample_frames(
    media: DataFrame, frame_size: int = 16, every_n: int = 4
) -> DataFrame:
    """Frame sampling over (doc_id, payload, media_type) — the video
    frame-sample surface (BASELINE.json multimodal): stub payloads are
    treated as consecutive ``frame_size``-byte frames and every
    ``every_n``-th frame is emitted as its own row — the FAN-OUT
    mapInPandas shape (rows out > rows in), which is what a real video
    decoder produces. ``image/gif`` goes through a per-worker PIL
    import gate (real multi-frame decode when pillow is installed);
    real video types raise the clearly-marked NotImplementedError
    pending av/ffmpeg.
    Still a pure map stage: the fan-out happens inside the partition,
    no shuffle; downstream per-frame feature extraction composes as
    another map. Self-contained closure."""
    stub_types = frozenset(_STUB_TYPES)
    guard = worker_zip_guard()

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        guard()

        def _decode(
            payload: bytes, media_type: str
        ) -> list[tuple[int, bytes]]:
            """→ sampled (frame_idx, frame_bytes) pairs."""
            if payload is None:
                return []  # missing media → zero frames, not a crash
            if media_type in stub_types:
                n_frames = len(payload) // frame_size
                return [
                    (fi, payload[fi * frame_size : (fi + 1) * frame_size])
                    for fi in range(0, n_frames, every_n)
                ]
            if media_type == "image/gif":
                try:  # per-worker import gate: real frames iff PIL exists
                    import io

                    from PIL import Image, ImageSequence
                except ImportError as e:
                    raise NotImplementedError(
                        f"frame extraction for {media_type!r} requires PIL "
                        "(pillow), not installed on this worker"
                    ) from e
                with Image.open(io.BytesIO(payload)) as im:
                    return [
                        (fi, fr.convert("RGB").tobytes())
                        for fi, fr in enumerate(ImageSequence.Iterator(im))
                        if fi % every_n == 0
                    ]
            raise NotImplementedError(
                f"frame extraction for {media_type!r} requires a codec "
                "library not present in this environment (av/ffmpeg); "
                "plumbing real, codec stubbed"
            )

        for pdf in batches:
            ids, idxs, sizes, frames = [], [], [], []
            for doc_id, payload, mtype in zip(
                pdf["doc_id"], pdf["payload"], pdf["media_type"]
            ):
                for fi, frame in _decode(payload, mtype):
                    ids.append(int(doc_id))
                    idxs.append(fi)
                    sizes.append(len(frame))
                    frames.append(frame)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "n_frame_bytes": pd.Series(sizes, dtype="int64"),
                    "frame": frames,
                }
            )

    return media.mapInPandas(_frames, schema=FRAME_SCHEMA)


AUDIO_SCHEMA = (
    "doc_id bigint, n_samples bigint, sample_rate int, "
    "duration_sec double, rms double, peak int"
)


def synthesize_wav_corpus(
    docs: DataFrame, max_bytes: int = 512, rate: int = 8000
) -> DataFrame:
    """Deterministic WAV corpus over (doc_id, text): each document's
    first ``max_bytes`` UTF-8 bytes become PCM16 samples
    ``(byte - 128) * 256`` inside a REAL stdlib-``wave`` RIFF container
    tagged ``audio/wav``. The derivation is byte-wise SQL-expressible,
    which is what lets a DuckDB oracle hash-check the full
    encode → decode → aggregate audio path. Pure map stage (Arrow
    batches, no shuffle); self-contained closure — workers never
    import this package."""

    guard = worker_zip_guard()

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        guard()
        import io
        import struct
        import wave

        def _wav(text: str) -> bytes:
            bs = text.encode("utf-8")[:max_bytes] if text is not None else b""
            samples = [(b - 128) * 256 for b in bs]
            buf = io.BytesIO()
            with wave.open(buf, "wb") as w:
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(rate)
                w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
            return buf.getvalue()

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": [_wav(t) for t in pdf["text"]],
                    "media_type": "audio/wav",
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        _synth, schema="doc_id bigint, payload binary, media_type string"
    )


def audio_stats(media: DataFrame) -> DataFrame:
    """Audio feature extraction over (doc_id, payload, media_type):
    decode PCM16 WAV via the stdlib ``wave``/``struct`` codec (REAL —
    no stub) and emit duration, RMS, and peak amplitude per document.

    Arrow-batched mapInPandas; numpy vectorizes the per-payload RMS so
    the only Python-level loop is per document, not per sample. Pure
    map stage — no shuffle; at 100 TB this scales linearly with input
    bytes and composes with resize/frame-sample as further maps.
    Self-contained closure (workers never import this package).

    Float determinism: sample values are integers ≤ 2^15, squares ≤ 2^30;
    the sum of ≤ 2^23 of them is exact in float64, the single division
    and IEEE sqrt are bitwise-reproducible across engines — so a SQL
    oracle hash-matches the decoded output exactly."""

    guard = worker_zip_guard()

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        guard()
        import io
        import struct
        import wave

        import numpy as np

        def _decode(payload: bytes, media_type: str) -> tuple:
            """→ (n_samples, rate, duration, rms, peak) or Nones."""
            if payload is None:
                return None, None, None, None, None
            if media_type not in ("audio/wav", "audio/x-wav"):
                raise NotImplementedError(
                    f"audio stats for {media_type!r} requires a codec "
                    "library not present in this environment (librosa); "
                    "PCM WAV decodes via the stdlib everywhere"
                )
            with wave.open(io.BytesIO(payload)) as w:
                n = w.getnframes()
                rate = w.getframerate()
                raw = w.readframes(n)
            s = np.array(struct.unpack(f"<{n}h", raw), dtype=np.float64)
            dur = n / float(rate)
            if n == 0:
                return 0, rate, dur, None, None
            rms = float(np.sqrt(np.sum(s * s) / n))
            peak = int(np.max(np.abs(s)))
            return n, rate, dur, rms, peak

        for pdf in batches:
            rows = [
                _decode(p, t) for p, t in zip(pdf["payload"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_samples": pd.Series(
                        [r[0] for r in rows], dtype="Int64"
                    ),
                    "sample_rate": pd.Series(
                        [r[1] for r in rows], dtype="Int32"
                    ),
                    "duration_sec": pd.Series(
                        [r[2] for r in rows], dtype="Float64"
                    ),
                    "rms": pd.Series([r[3] for r in rows], dtype="Float64"),
                    "peak": pd.Series([r[4] for r in rows], dtype="Int32"),
                }
            )

    return media.mapInPandas(_stats, schema=AUDIO_SCHEMA)


def label_centroid_residuals(emb_df):
    """Grouped-map applyInPandas (SURVEY.md §2.10 — the UDAF/UDTF
    surface the engine adds): per-label embedding centroid and each
    vector's residual distance to it, computed vectorized in numpy over
    one Arrow batch per group.

    Scale: one shuffle on the group key; each group is processed as a
    whole pandas frame, so group size must fit an executor (fine for
    label-sharded corpora; for giant groups pre-aggregate partial sums
    per partition first). Self-contained closure — workers don't import
    this package."""
    schema = (
        "label int, vec_id bigint, residual double, group_size bigint"
    )
    guard = worker_zip_guard()

    def _residuals(pdf):
        guard()
        import numpy as np
        import pandas as pd

        # Group rows arrive in shuffle order; sort by key so the float
        # summation order inside mean() is fixed and the residuals are
        # deterministic across partitionings/re-runs.
        pdf = pdf.sort_values("vec_id", ignore_index=True)
        mat = np.stack(pdf["embedding"].to_numpy())  # (n, d) float32
        centroid = mat.astype(np.float64).mean(axis=0)
        res = np.sqrt(((mat - centroid) ** 2).sum(axis=1))
        return pd.DataFrame(
            {
                "label": pdf["label"],
                "vec_id": pdf["vec_id"],
                "residual": res,
                "group_size": len(pdf),
            }
        )

    return emb_df.groupBy("label").applyInPandas(_residuals, schema=schema)


def chunk_doc_udtf():
    """Python UDTF (SURVEY.md §2.10 — the UDTF surface; PySpark 4):
    same chunking semantics as the JVM text_chunking plan, usable as a
    SQL LATERAL table function. Row-at-a-time Python — the DEMO of the
    surface, not the hot path (plans/llm_ops.text_chunking is); the
    unit test asserts both produce identical rows."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, chunk_text string, n_tokens int")
    class ChunkDoc:
        def eval(self, text: str, chunk_size: int):
            if text is None:
                return
            toks = text.split()
            for i in range(0, len(toks), chunk_size):
                c = toks[i : i + chunk_size]
                yield (i // chunk_size, " ".join(c), len(c))

    return ChunkDoc

def encode_png_gray(pixels: bytes, width: int, height: int) -> bytes:
    """REAL grayscale PNG encode with only the stdlib (zlib CRC/deflate
    + struct chunk framing): 8-bit L-mode, filter 0 scanlines. The
    output is a spec-valid PNG any reader (incl. PIL, when present)
    opens; no image library needed, so the multimodal image path runs
    in every environment. Lossless by construction — decode recovers
    the pixel bytes exactly, the property the dHash oracle relies on."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + pixels[r * width : (r + 1) * width] for r in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def decode_png_gray(payload: bytes) -> tuple[bytes, int, int]:
    """Decode a grayscale filter-0 PNG (the encode_png_gray container)
    back to (pixels, width, height) with only the stdlib. Raises on
    non-PNG signatures, non-L color types, and filter types other than
    0 — loud, not lossy (a general-filter decoder belongs to a real
    image library; this pair is the deterministic container for the
    oracle-checked pipeline)."""
    import struct
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, idat, w, h = 8, b"", None, None
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        typ = payload[pos + 4 : pos + 8]
        # a declared length overrunning the payload would otherwise
        # slice silently-truncated data (r13, ADVICE): 12 = 4 length
        # + 4 type + 4 CRC bytes framing the chunk
        if pos + 12 + ln > len(payload):
            raise ValueError("truncated PNG chunk")
        data = payload[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if typ == b"IHDR":
            if len(data) < 10:
                raise ValueError("truncated IHDR chunk")
            w, h, depth, ctype = struct.unpack(">IIBB", data[:10])
            if depth != 8 or ctype != 0:
                raise ValueError("only 8-bit grayscale PNGs supported")
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if w is None:
        raise ValueError("PNG payload has no IHDR chunk")
    if not idat:
        raise ValueError("PNG payload has no IDAT chunk")
    raw = zlib.decompress(idat)
    stride = w + 1
    if len(raw) != h * stride:
        raise ValueError(
            f"PNG pixel data is {len(raw)} bytes, expected {h * stride}"
        )
    rows = []
    for r in range(h):
        line = raw[r * stride : (r + 1) * stride]
        if line[0] != 0:
            raise ValueError(f"unsupported PNG filter type {line[0]}")
        rows.append(line[1:])
    return b"".join(rows), w, h


def synthesize_png_corpus(
    docs: DataFrame, width: int = 9, height: int = 8
) -> DataFrame:
    """Deterministic PNG corpus over (doc_id, text): each document's
    first ``width*height`` UTF-8 bytes (zero-padded) become the pixels
    of a REAL 8-bit grayscale PNG (stdlib zlib/struct codec —
    encode_png_gray; spec-valid, PIL-openable) tagged ``image/png``.
    Grayscale PNG is lossless, so decoded pixels equal the byte
    derivation — which is what lets a DuckDB oracle hash-check the
    full encode → decode → perceptual-hash image path (the
    synthesize_wav_corpus pattern, image edition). Pure map stage
    (Arrow batches, no shuffle); self-contained closure — workers
    never import this package."""

    guard = worker_zip_guard()

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        guard()
        import struct
        import zlib

        n = width * height

        def _chunk(typ: bytes, data: bytes) -> bytes:
            return (
                struct.pack(">I", len(data))
                + typ
                + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
            )

        def _png(text: str) -> bytes:
            bs = (text.encode("utf-8") if text is not None else b"")[:n]
            bs = bs + b"\x00" * (n - len(bs))
            ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
            raw = b"".join(
                b"\x00" + bs[r * width : (r + 1) * width]
                for r in range(height)
            )
            return (
                b"\x89PNG\r\n\x1a\n"
                + _chunk(b"IHDR", ihdr)
                + _chunk(b"IDAT", zlib.compress(raw))
                + _chunk(b"IEND", b"")
            )

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": [_png(t) for t in pdf["text"]],
                    "media_type": "image/png",
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        _synth, schema="doc_id bigint, payload binary, media_type string"
    )


def image_dhash(media: DataFrame, width: int = 9, height: int = 8) -> DataFrame:
    """Difference hash (dHash) over (doc_id, payload, media_type) —
    the standard perceptual image fingerprint (LAION/CommonCrawl-image
    dedup): decode the grayscale PNG (stdlib codec; PIL-free), then
    one bit per horizontally-adjacent pixel pair (left > right), eight
    comparisons per row, emitted as a ``2*height``-hex-char string
    (row bytes in row order, bit c = comparison at column c).
    Identical images hash equal; brightness-uniform edits flip few
    bits — pairing/banding on the hash is the image analog of SimHash
    bucketing. NULL payload → NULL hash (missing media never crashes
    the pass). Map-only, Arrow-batched, self-contained closure."""

    guard = worker_zip_guard()

    def _dhash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        guard()
        import struct
        import zlib

        def _decode(payload: bytes) -> bytes:
            # Mirrors decode_png_gray's loud-failure contract: a
            # non-PNG payload, a non-8-bit/non-grayscale image, a
            # non-0 filter, or actual dimensions differing from the
            # hash geometry raise a ValueError here instead of an
            # executor-side IndexError / silently wrong hash.
            if payload[:8] != b"\x89PNG\r\n\x1a\n":
                raise ValueError("not a PNG payload")
            pos, idat, w, h = 8, b"", None, None
            while pos + 8 <= len(payload):
                (ln,) = struct.unpack(">I", payload[pos : pos + 4])
                typ = payload[pos + 4 : pos + 8]
                # overrunning declared length -> loud, not silently
                # truncated data (r13, ADVICE; mirrors decode_png_gray)
                if pos + 12 + ln > len(payload):
                    raise ValueError("truncated PNG chunk")
                data = payload[pos + 8 : pos + 8 + ln]
                pos += 12 + ln
                if typ == b"IHDR":
                    if len(data) < 10:
                        raise ValueError("truncated IHDR chunk")
                    w, h, depth, ctype = struct.unpack(">IIBB", data[:10])
                    if depth != 8 or ctype != 0:
                        raise ValueError(
                            "only 8-bit grayscale PNGs supported"
                        )
                    if (w, h) != (width, height):
                        raise ValueError(
                            f"PNG is {w}x{h}, dhash expects"
                            f" {width}x{height}"
                        )
                elif typ == b"IDAT":
                    idat += data
                elif typ == b"IEND":
                    break
            if w is None:
                raise ValueError("PNG payload has no IHDR chunk")
            if not idat:
                raise ValueError("PNG payload has no IDAT chunk")
            raw = zlib.decompress(idat)
            stride = w + 1
            if len(raw) != h * stride:
                raise ValueError(
                    f"PNG pixel data is {len(raw)} bytes,"
                    f" expected {h * stride}"
                )
            rows = []
            for r in range(h):
                line = raw[r * stride : (r + 1) * stride]
                if line[0] != 0:
                    raise ValueError(
                        f"unsupported PNG filter type {line[0]}"
                    )
                rows.append(line[1:])
            return b"".join(rows)

        def _h(payload: bytes) -> str | None:
            if payload is None:
                return None
            px = _decode(payload)
            out = []
            for r in range(height):
                row = px[r * width : (r + 1) * width]
                byte = 0
                for c in range(width - 1):
                    if row[c] > row[c + 1]:
                        byte |= 1 << c
                out.append(byte)
            return "".join(f"{b:02X}" for b in out)

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "dhash": [_h(p) for p in pdf["payload"]],
                }
            )

    return media.mapInPandas(_dhash, schema="doc_id bigint, dhash string")
