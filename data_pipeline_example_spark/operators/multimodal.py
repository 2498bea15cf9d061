"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Extension surface (BASELINE.json north star): treat image/audio/video as
``binary`` columns and run decode / feature-extraction as Arrow-batched
pandas iterators via ``mapInPandas`` — the idiomatic Spark shape for
Python-only media libraries at scale (each task pulls batches through
Arrow once, the Python worker is reused, and output schema is declared
up front so Catalyst can plan around the black box).

The heavy media libraries (PIL/opencv/librosa) are NOT in this
container. ``decode_image`` therefore has two real branches: PIL when
installed (every format), else a pure-stdlib decoder for binary netpbm
(P5/P6) and 24-bit BMP (:class:`StdlibImage`) — so the decode →
pixels → re-encode path executes and is tested in EVERY environment,
and only non-stdlib formats raise NotImplementedError without PIL.
``extract_features`` additionally keeps a deterministic byte-level fake
(length, md5, fake dimensions derived from the payload) — a pure
function of the bytes, so that pipeline stays oracle-checkable in SQL.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from data_pipeline_example_spark.functions.materialize import materialize
from data_pipeline_example_spark.operators.dedup import band_join, hamming

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("content", BinaryType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("content_md5", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("decodable", IntegerType()),
    ]
)


def attach_binary(documents: DataFrame) -> DataFrame:
    """Wrap a text corpus as a media table: content = utf-8 bytes of the
    text. Stands in for reading real image/audio payloads; preserves the
    (id, media_type, binary) contract end-to-end."""
    return documents.select(
        F.col("doc_id"),
        F.lit("text/plain").alias("media_type"),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8").alias("content"),
    )


class StdlibImage:
    """Minimal decoded-image object for the stdlib formats (binary
    netpbm P5/P6 and 24-bit uncompressed BMP) — the same seam contract
    as a PIL ``Image``: ``width``/``height``/``mode``/``format``
    attributes, ``load()``, nearest-neighbor ``resize()``, and
    ``save(buf, format=...)``. Exists so ``decode_image``'s REAL branch
    (decode → pixels → re-encode) executes even where PIL is absent;
    pixel data is row-major ``mode``-interleaved bytes (RGB or L).
    """

    def __init__(self, width: int, height: int, mode: str, pixels: bytes, fmt: str):
        if mode not in ("RGB", "L"):
            raise ValueError(f"unsupported mode {mode!r}")
        bpp = 3 if mode == "RGB" else 1
        if len(pixels) != width * height * bpp:
            raise ValueError("pixel buffer does not match dimensions")
        self.width, self.height, self.mode = width, height, mode
        self.format = fmt
        self._pixels = pixels

    def load(self) -> None:  # already fully decoded
        return None

    def tobytes(self) -> bytes:
        return self._pixels

    def resize(self, size: tuple[int, int]) -> "StdlibImage":
        new_w, new_h = size
        if new_w <= 0 or new_h <= 0:
            raise ValueError("resize dimensions must be positive")
        bpp = 3 if self.mode == "RGB" else 1
        src, out = self._pixels, bytearray(new_w * new_h * bpp)
        for y in range(new_h):
            sy = y * self.height // new_h
            row = sy * self.width * bpp
            dst = y * new_w * bpp
            for x in range(new_w):
                sx = x * self.width // new_w
                out[dst + x * bpp : dst + (x + 1) * bpp] = src[
                    row + sx * bpp : row + (sx + 1) * bpp
                ]
        return StdlibImage(new_w, new_h, self.mode, bytes(out), self.format)

    def save(self, buf, format: str | None = None) -> None:
        fmt = (format or self.format or "PPM").upper()
        if fmt in ("PPM", "PGM"):
            buf.write(encode_netpbm(self))
        elif fmt == "BMP":
            buf.write(encode_bmp(self))
        else:
            raise NotImplementedError(f"stdlib encoder supports PPM/PGM/BMP, not {fmt}")


def _decode_netpbm(content: bytes) -> StdlibImage:
    """Binary netpbm: P6 (RGB) / P5 (gray). Header tokens (magic, width,
    height, maxval) may be separated by any whitespace or #-comments;
    one whitespace byte then raw pixel data."""
    tokens: list[bytes] = []
    i = 0
    while len(tokens) < 4:
        if i >= len(content):
            raise ValueError("truncated netpbm header")
        c = content[i : i + 1]
        if c == b"#":  # comment to end of line
            while i < len(content) and content[i : i + 1] not in (b"\n", b"\r"):
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(content) and not content[j : j + 1].isspace():
                j += 1
            tokens.append(content[i:j])
            i = j
    i += 1  # the single whitespace after maxval
    magic, w, h, maxval = tokens[0], int(tokens[1]), int(tokens[2]), int(tokens[3])
    if magic not in (b"P5", b"P6"):
        raise ValueError(f"not a binary netpbm payload: {magic!r}")
    if maxval != 255:
        raise ValueError("only maxval 255 supported")
    mode, bpp = ("RGB", 3) if magic == b"P6" else ("L", 1)
    need = w * h * bpp
    pixels = content[i : i + need]
    if len(pixels) != need:
        raise ValueError("truncated netpbm pixel data")
    return StdlibImage(w, h, mode, pixels, "PPM" if magic == b"P6" else "PGM")


def encode_netpbm(img: StdlibImage) -> bytes:
    magic = b"P6" if img.mode == "RGB" else b"P5"
    header = b"%s\n%d %d\n255\n" % (magic, img.width, img.height)
    return header + img.tobytes()


def _decode_bmp(content: bytes) -> StdlibImage:
    """24-bit uncompressed (BI_RGB) BITMAPINFOHEADER BMP; rows stored
    bottom-up, BGR, padded to 4 bytes — returned top-down RGB."""
    if content[:2] != b"BM" or len(content) < 54:
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", content, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", content, 14)
    planes, bpp = struct.unpack_from("<HH", content, 26)
    compression = struct.unpack_from("<I", content, 30)[0]
    if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError("only 24-bit uncompressed BMP supported")
    if h <= 0 or w <= 0:
        raise ValueError("top-down or empty BMP not supported")
    stride = (w * 3 + 3) & ~3
    out = bytearray(w * h * 3)
    for y in range(h):
        src = data_off + (h - 1 - y) * stride  # bottom-up → top-down
        row = content[src : src + w * 3]
        if len(row) != w * 3:
            raise ValueError("truncated BMP pixel data")
        dst = y * w * 3
        for x in range(w):  # BGR → RGB
            out[dst + x * 3] = row[x * 3 + 2]
            out[dst + x * 3 + 1] = row[x * 3 + 1]
            out[dst + x * 3 + 2] = row[x * 3]
    return StdlibImage(w, h, "RGB", bytes(out), "BMP")


def encode_bmp(img: StdlibImage) -> bytes:
    if img.mode != "RGB":
        raise NotImplementedError("BMP encoder is 24-bit RGB only")
    w, h = img.width, img.height
    stride = (w * 3 + 3) & ~3
    pix = img.tobytes()
    rows = bytearray()
    for y in range(h - 1, -1, -1):  # top-down → bottom-up
        row = bytearray()
        base = y * w * 3
        for x in range(w):  # RGB → BGR
            r, g, b = pix[base + x * 3 : base + x * 3 + 3]
            row += bytes((b, g, r))
        rows += row.ljust(stride, b"\x00")
    header = struct.pack("<2sIHHI", b"BM", 54 + len(rows), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 2835, 2835, 0, 0)
    return bytes(header + info + rows)


# Fixed magic whitelist gating the decode attempt (ADVICE r13): only
# payloads whose first bytes match a known image-container signature are
# ever handed to a decoder. Without this gate, the reject path would be
# environment-DEPENDENT — PIL accepts text-shaped formats the corpus
# pin never verified (ASCII netpbm P1/P2/P3, XBM '#define', SVG), so a
# text beginning 'P3 2 2 ...' would flip ``decodable`` to 1 only on
# PIL-equipped clusters and break the hash-pinned media_features
# oracle. The whitelist is binary/unambiguous magics only; anything
# else rejects identically on every cluster image.
_IMAGE_MAGICS: tuple[bytes, ...] = (
    b"P5",  # binary netpbm gray (stdlib path)
    b"P6",  # binary netpbm RGB (stdlib path)
    b"BM",  # 24-bit BMP (stdlib path)
    b"\x89PNG\r\n\x1a\n",
    b"\xff\xd8\xff",  # JPEG
    b"GIF87a",
    b"GIF89a",
    b"II*\x00",  # TIFF little-endian
    b"MM\x00*",  # TIFF big-endian
    b"RIFF",  # WEBP (RIFF....WEBP, sub-checked below)
)


def _is_whitelisted_image(content: bytes) -> bool:
    for magic in _IMAGE_MAGICS:
        if content[: len(magic)] == magic:
            # RIFF is shared with WAV — only the WEBP form counts
            if magic == b"RIFF":
                return content[8:12] == b"WEBP"
            return True
    return False


def decode_image(content: bytes) -> object:
    """Decode image bytes → image object (loaded into memory). The
    single seam where the real decoder lives. PIL handles every format
    when installed; without PIL, binary netpbm (P5/P6) and 24-bit BMP
    payloads decode through the stdlib path (:class:`StdlibImage`) so
    the real decode branch executes in every environment — only
    non-stdlib formats (PNG/JPEG/...) raise NotImplementedError here,
    loudly, instead of silently skipping payloads. The PIL path is
    additionally covered by a ``pytest.importorskip("PIL")`` test that
    runs wherever the cluster image carries PIL.

    Payloads outside the fixed ``_IMAGE_MAGICS`` whitelist are rejected
    BEFORE any decoder sees them, so the REJECT path of
    :func:`extract_features` is environment-invariant: a payload
    without a whitelisted image magic (any text corpus, in particular)
    reports ``decodable`` = 0 on every cluster image — PIL's sniffing
    never gets the chance to accept a text-shaped format. For payloads
    WITH a whitelisted non-stdlib magic (a real PNG/JPEG corpus),
    ``decodable`` still reflects the installed decoders — 1 with PIL,
    0 (NotImplementedError → typed reject) without — which is the
    honest semantics of "decodable by this cluster image"; the
    hash-pinned ``media_features`` oracle only relies on the text-
    corpus reject invariance.
    """
    if not _is_whitelisted_image(content):
        raise ValueError(
            "payload magic not in the image-decode whitelist "
            "(environment-invariant reject)"
        )
    try:
        from PIL import Image
    except ImportError as exc:
        if content[:2] in (b"P5", b"P6"):
            return _decode_netpbm(content)
        if content[:2] == b"BM":
            return _decode_bmp(content)
        raise NotImplementedError(
            "decoding this format requires PIL; install it on the cluster "
            "image (stdlib fallback covers netpbm P5/P6 and 24-bit BMP)"
        ) from exc
    import io

    img = Image.open(io.BytesIO(content))
    img.load()  # force decode now; surface corrupt payloads here
    return img


def extract_features(media: DataFrame) -> DataFrame:
    """Per-payload typed metadata + a REAL decode attempt via
    Arrow-batched ``mapInPandas``. Byte metadata (n_bytes, content_md5)
    is computed for every payload; width/height come from a successful
    strict image decode (:func:`decode_image` — PIL when installed,
    stdlib netpbm/BMP otherwise) and are NULL with ``decodable`` = 0
    when the payload isn't a parseable image — the reject path a
    production pipeline needs, since a corpus's binary column is opaque
    until proven decodable. (Replaces the r1 byte-length
    ``fake_width``/``fake_height`` columns: the decode path is
    certified end-to-end by :func:`decoded_image_stats`, the reject
    path by the registered ``media_features`` oracle.)
    """

    def _extract(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            widths: list = []
            heights: list = []
            flags: list = []
            for b in pdf["content"]:
                try:
                    img = decode_image(bytes(b))
                    widths.append(img.width)
                    heights.append(img.height)
                    flags.append(1)
                except (ValueError, NotImplementedError, OSError):
                    # unparseable / non-image / format outside the
                    # installed decoders — typed reject, not a crash
                    widths.append(None)
                    heights.append(None)
                    flags.append(0)
            content = pdf["content"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": content.map(len).astype("int64"),
                    "content_md5": content.map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                    "width": pd.array(widths, dtype="Int32"),
                    "height": pd.array(heights, dtype="Int32"),
                    "decodable": pd.array(flags, dtype="int32"),
                }
            )

    return media.mapInPandas(_extract, schema=FEATURE_SCHEMA)


def media_features(documents: DataFrame) -> DataFrame:
    """End-to-end multimodal pipeline: text → binary column → Arrow
    batches → per-payload metadata + decode attempt (text payloads are
    not images, so the registered query certifies the reject path:
    width/height NULL, decodable 0, byte metadata exact)."""
    return extract_features(attach_binary(documents))


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_md5", StringType()),
    ]
)


def resize_image(content: bytes, width: int, height: int) -> bytes:
    """Decode → resize → re-encode image bytes in the source format.
    Same seam contract as ``decode_image``: PIL when installed, stdlib
    netpbm/BMP otherwise (nearest-neighbor resample), NotImplementedError
    only for non-stdlib formats without PIL."""
    import io

    img = decode_image(content)
    fmt = img.format or "PNG"
    buf = io.BytesIO()
    img.resize((width, height)).save(buf, format=fmt)
    return buf.getvalue()


DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mode", StringType()),
        StructField("mean_pixel", DoubleType()),
    ]
)


def decoded_image_features(media: DataFrame) -> DataFrame:
    """REAL decoder path: Arrow-batched ``mapInPandas`` over binary image
    payloads, one ``decode_image`` per row inside the batch loop —
    exactly the plan shape of ``extract_features`` but with the live
    decoder in place of the deterministic fake. Requires PIL on the
    executors, so it is not a registered query in this sandbox; the
    PIL-gated test runs it end-to-end (tiny generated PNGs → widths/
    heights/modes) wherever the image library exists.
    """

    def _decode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            imgs = [decode_image(bytes(b)) for b in pdf["content"]]
            # tobytes() is the common seam (PIL and StdlibImage): the
            # mean over raw interleaved pixel bytes proves the pixel
            # block was actually decoded, not just the header parsed
            means = []
            for i in imgs:
                px = i.tobytes()
                # explicit round-half-up (floor(x*1e4 + 0.5)/1e4): the
                # byte-sum mean can land exactly on a 4-dp tie (e.g.
                # 72.65625 at n=96) where Python's bankers' rounding
                # and the oracle's half-up disagree
                means.append(
                    int(sum(px) / len(px) * 10000 + 0.5) / 10000 if px else None
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pd.array([i.width for i in imgs], dtype="int32"),
                    "height": pd.array([i.height for i in imgs], dtype="int32"),
                    "mode": pd.array([i.mode for i in imgs], dtype=object),
                    "mean_pixel": pd.array(means, dtype="float64"),
                }
            )

    return media.mapInPandas(_decode, schema=DECODED_SCHEMA)


def _walk_chunks(
    content: bytes, order: str, magic: bytes, form: bytes, wanted: dict
) -> list:
    """The one IFF chunk walker behind :func:`decode_wav` (RIFF,
    little-endian) and :func:`decode_aiff` (FORM, big-endian) — the two
    containers differ only in byte order, magic and chunk names.
    Validates the ``magic``/``form`` header and the declared size, then
    WALKS the word-aligned chunk list (a fixed-offset reader breaks on
    LIST/INFO or ANNO metadata), skipping unknown chunks and checking
    each ``wanted`` chunk against its minimum size. Returns the bodies
    of the ``wanted`` chunks in its order (the last one of each id wins).
    Every structural fault is a ``ValueError``."""
    if len(content) < 12 or content[:4] != magic or content[8:12] != form:
        raise ValueError(f"not a {magic.decode()}/{form.decode()} payload")
    u32 = order + "I"
    declared = struct.unpack_from(u32, content, 4)[0]
    if declared + 8 != len(content):
        raise ValueError(
            f"{magic.decode()} size {declared} != payload size {len(content)} - 8"
        )
    found = {}
    pos = 12
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        csize = struct.unpack_from(u32, content, pos + 4)[0]
        body = content[pos + 8 : pos + 8 + csize]
        if len(body) != csize:
            raise ValueError(f"truncated chunk {cid!r}")
        if cid in wanted:
            if csize < wanted[cid]:
                raise ValueError(f"{cid.decode().strip()} chunk too short")
            found[cid] = body
        pos += 8 + csize + (csize & 1)  # chunks are word-aligned
    if len(found) < len(wanted):
        ids = "/".join(c.decode().strip() for c in wanted)
        raise ValueError(f"missing {ids} chunk in {magic.decode()}/{form.decode()}")
    return [found[c] for c in wanted]


def _pcm16_mono(data: bytes, order: str, n_channels: int) -> tuple:
    """Signed int16 samples of a mono PCM16 data block in byte ``order``;
    other channel counts raise ``NotImplementedError``, an odd byte
    count ``ValueError``."""
    if n_channels != 1:
        raise NotImplementedError(f"mono only (channels={n_channels})")
    if len(data) % 2:
        raise ValueError(f"odd PCM16 data length {len(data)}")
    return struct.unpack(f"{order}{len(data) // 2}h", data)


def decode_wav(content: bytes) -> tuple:
    """Parse a RIFF/WAVE container with stdlib ``struct`` only (the
    BMP-codec discipline applied to audio): :func:`_walk_chunks` finds
    the PCM fmt chunk and the data chunk, and the samples unpack as
    signed little-endian int16. Returns (sample_rate, n_channels,
    samples).

    Only integer PCM16 mono is implemented — compressed / float /
    multichannel formats raise ``NotImplementedError`` (the
    ``decode_image`` contract), never silently misread; a malformed
    container raises ``ValueError``.
    """
    wanted = {b"fmt ": 16, b"data": 0}  # chunk id -> minimum size
    fmt, data = _walk_chunks(content, "<", b"RIFF", b"WAVE", wanted)
    audio_format, n_channels, sample_rate, _rate, _align, bits = struct.unpack(
        "<HHIIHH", fmt[:16]
    )
    if audio_format != 1 or bits != 16:
        raise NotImplementedError(
            f"PCM16 only (audio_format={audio_format}, bits={bits})"
        )
    return sample_rate, n_channels, _pcm16_mono(data, "<", n_channels)


_WAV_RATES = (8000, 16000, 22050, 44100)


def attach_wav(documents: DataFrame) -> DataFrame:
    """Synthesize a VALID RIFF/WAVE (PCM16 mono) payload per document
    entirely in column expressions — the audio twin of
    :func:`attach_ppm`: the header and sample block are built as hex
    strings and assembled with one ``unhex``, so arbitrary byte values
    never pass through UTF-8 (``char()`` would multi-byte-encode codes
    ≥ 128). Deterministic closed form the oracle replays exactly:

    - sample_rate = (8000, 16000, 22050, 44100)[len(text) % 4]
    - n = len(text) % 37 + 3 samples
    - sample i = (len(text)·31 + i²·7) mod 65536, little-endian u16
      on disk, decoded back as signed int16

    Docs with len % 5 == 0 additionally carry a LIST/INFO metadata
    chunk BETWEEN fmt and data, so a reader that assumes the canonical
    44-byte layout instead of walking chunks fails on exactly those
    payloads. The stdlib ``wave`` module accepts these containers
    (round-trip pinned by test).
    """
    L = "length(coalesce(text, ''))"
    sr = f"element_at(array(8000,16000,22050,44100), cast({L} % 4 + 1 as int))"
    n = f"({L} % 37 + 3)"

    def le16(x: str) -> str:
        return (
            f"concat(lpad(hex(({x}) % 256), 2, '0'),"
            f" lpad(hex((({x}) div 256) % 256), 2, '0'))"
        )

    def le32(x: str) -> str:
        return (
            f"concat(lpad(hex(({x}) % 256), 2, '0'),"
            f" lpad(hex((({x}) div 256) % 256), 2, '0'),"
            f" lpad(hex((({x}) div 65536) % 256), 2, '0'),"
            f" lpad(hex((({x}) div 16777216) % 256), 2, '0'))"
        )

    has_list = f"({L} % 5 = 0)"
    # riff size: 'WAVE' (4) + fmt chunk (8+16) + optional LIST (8+4)
    # + data chunk header (8) + 2n sample bytes
    riff_size = f"(36 + 2 * {n} + case when {has_list} then 12 else 0 end)"
    samp = f"(({L}) * 31 + i * i * 7) % 65536"
    data_hex = f"array_join(transform(sequence(0, {n} - 1), i -> {le16(samp)}), '')"
    content = (
        "unhex(concat("
        "'52494646', "  # 'RIFF'
        f"{le32(riff_size)}, "
        "'57415645', "  # 'WAVE'
        "'666D7420', '10000000', "  # 'fmt ', size 16
        "'0100', '0100', "  # PCM, mono
        f"{le32(sr)}, {le32(f'({sr}) * 2')}, "  # rate, byte rate
        "'0200', '1000', "  # block align 2, 16 bits
        f"case when {has_list} then '4C49535404000000494E464F' else '' end, "
        "'64617461', "  # 'data'
        f"{le32(f'2 * {n}')}, "
        f"{data_hex}))"
    )
    return documents.select(
        F.col("doc_id"),
        F.lit("audio/wav").alias("media_type"),
        F.expr(content).alias("content"),
    )


WAV_WINDOW_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("window_idx", IntegerType()),
        StructField("start_ms", LongType()),
        StructField("n_samples", LongType()),
        StructField("sum_abs", LongType()),
        StructField("peak_abs", LongType()),
    ]
)


def _parse_extended80(b10: bytes) -> int:
    """Parse the 10-byte IEEE-754 extended (SANE) big-endian float an
    AIFF COMM chunk stores the sample rate in, STRICTLY: only positive
    integral rates are supported (every real audio rate is), anything
    fractional / negative / denormal raises instead of rounding."""
    exp_field = struct.unpack(">H", b10[:2])[0]
    mant = struct.unpack(">Q", b10[2:])[0]
    if exp_field & 0x8000:
        raise ValueError("negative AIFF sample rate")
    if exp_field == 0x7FFF:
        raise ValueError("non-finite AIFF sample rate")
    if mant == 0:
        raise ValueError("zero AIFF sample rate")
    if not mant >> 63:
        raise NotImplementedError("denormal AIFF sample rate")
    shift = (exp_field - 16383) - 63
    if shift >= 0:
        return mant << shift
    if mant & ((1 << -shift) - 1):
        raise NotImplementedError("non-integral AIFF sample rate")
    return mant >> -shift


def decode_aiff(content: bytes) -> tuple:
    """Parse a FORM/AIFF container with stdlib ``struct`` only — the
    BIG-ENDIAN twin of :func:`decode_wav` on the same
    :func:`_walk_chunks` (AIFF is the classic Mac/broadcast interchange
    container; everything in it, including the PCM samples, is
    big-endian, and the sample rate is an 80-bit extended float): read
    the COMM parameters and the SSND data chunk and unpack the samples
    as signed BIG-endian int16. Returns (sample_rate, n_channels,
    samples).

    Only integer PCM16 mono with zero SSND offset/blockSize is
    implemented — everything else raises loudly (the
    :func:`decode_wav` contract), never silently misreads.
    """
    wanted = {b"COMM": 18, b"SSND": 8}  # chunk id -> minimum size
    comm, ssnd = _walk_chunks(content, ">", b"FORM", b"AIFF", wanted)
    n_channels, n_frames, bits = struct.unpack(">HIH", comm[:8])
    rate = _parse_extended80(comm[8:18])
    if bits != 16:
        raise NotImplementedError(f"PCM16 only (bits={bits})")
    if struct.unpack(">II", ssnd[:8]) != (0, 0):
        raise NotImplementedError("SSND offset/blockSize not supported")
    samples = _pcm16_mono(ssnd[8:], ">", n_channels)
    if len(samples) != n_frames:
        raise ValueError(
            f"COMM numSampleFrames {n_frames} != SSND sample count {len(samples)}"
        )
    return rate, n_channels, samples


# 80-bit extended big-endian encodings of the four synthesis rates —
# precomputed constants (rate = mantissa · 2^(exp−16383−63)); pinned
# against _parse_extended80 by test.
_EXT80_HEX = {
    8000: "400BFA00000000000000",
    16000: "400CFA00000000000000",
    22050: "400DAC44000000000000",
    44100: "400EAC44000000000000",
}


def attach_aiff(documents: DataFrame) -> DataFrame:
    """Synthesize a VALID FORM/AIFF (PCM16 mono, big-endian) payload
    per document entirely in column expressions — the second audio
    container family next to :func:`attach_wav`, so the decodable
    fraction of a mixed corpus is exercised with more than one
    container per modality. Hex assembly + one ``unhex`` (bytes never
    pass through UTF-8). Deterministic closed form the oracle replays:

    - sample_rate = (8000, 16000, 22050, 44100)[len(text) % 4]
      (stored as the precomputed 80-bit extended constant)
    - n = len(text) % 29 + 4 samples
    - sample i = (len(text)·17 + i²·5) mod 65536, BIG-endian u16 on
      disk, decoded back as signed int16

    Docs with len % 5 == 0 additionally carry an ANNO metadata chunk
    BETWEEN COMM and SSND, so a fixed-offset reader fails on exactly
    those payloads (the :func:`attach_wav` LIST discipline).
    """
    L = "length(coalesce(text, ''))"
    n = f"({L} % 29 + 4)"
    rate_hex = (
        "element_at(array("
        + ", ".join(f"'{_EXT80_HEX[r]}'" for r in _WAV_RATES)
        + f"), cast({L} % 4 + 1 as int))"
    )

    def be16(x: str) -> str:
        return f"lpad(hex(({x}) % 65536), 4, '0')"

    def be32(x: str) -> str:
        return f"lpad(hex({x}), 8, '0')"

    has_anno = f"({L} % 5 = 0)"
    # FORM size: 'AIFF' (4) + COMM chunk (8+18) + optional ANNO (8+4)
    # + SSND header (8+8) + 2n sample bytes
    form_size = f"(46 + 2 * {n} + case when {has_anno} then 12 else 0 end)"
    samp = f"(({L}) * 17 + i * i * 5) % 65536"
    data_hex = f"array_join(transform(sequence(0, {n} - 1), i -> {be16(samp)}), '')"
    content = (
        "unhex(concat("
        "'464F524D', "  # 'FORM'
        f"{be32(form_size)}, "
        "'41494646', "  # 'AIFF'
        "'434F4D4D', '00000012', "  # 'COMM', size 18
        "'0001', "  # mono
        f"{be32(n)}, "  # numSampleFrames
        "'0010', "  # 16 bits
        f"{rate_hex}, "
        "case when "
        f"{has_anno} then '414E4E4F0000000464656D6F' else '' end, "  # ANNO 'demo'
        "'53534E44', "  # 'SSND'
        f"{be32(f'8 + 2 * {n}')}, "
        "'00000000', '00000000', "  # offset, blockSize
        f"{data_hex}))"
    )
    return documents.select(
        F.col("doc_id"),
        F.lit("audio/aiff").alias("media_type"),
        F.expr(content).alias("content"),
    )


def decode_audio(content: bytes) -> tuple:
    """The container dispatch of the audio family: the magic bytes pick
    the parser — ``RIFF`` → :func:`decode_wav`, ``FORM`` →
    :func:`decode_aiff`; any other payload raises ``ValueError``.
    Returns (sample_rate, n_channels, samples)."""
    if content[:4] == b"RIFF":
        return decode_wav(content)
    if content[:4] == b"FORM":
        return decode_aiff(content)
    raise ValueError("not a RIFF or FORM audio container")


def audio_window_slices(samples, rate: int, window_ms: int) -> Iterator:
    """The window slicer: (window_idx, samples of that window) for
    fixed ``window_ms`` windows at ``rate`` — max(rate·window_ms div
    1000, 1) samples each, the last partial window kept."""
    spw = max(rate * window_ms // 1000, 1)
    for w in range((len(samples) + spw - 1) // spw):
        yield w, samples[w * spw : (w + 1) * spw]


def window_digest(chunk, window_idx: int) -> str:
    """The window digest: md5 over the window's PCM16 little-endian
    bytes rendered as an UPPERCASE HEX STRING + ':' + window_idx (hex
    because the oracle's md5 is VARCHAR-only; same samples ⇔ same hex,
    so it is an exact segment-identity key). :func:`wav_dup_windows`
    and the stream twin ``streaming.curation.dedup_audio_stream`` both
    key on it, so their duplicate decisions agree."""
    pcm = struct.pack(f"<{len(chunk)}h", *chunk)
    return hashlib.md5(f"{pcm.hex().upper()}:{window_idx}".encode()).hexdigest()


def map_audio_payloads(
    media: DataFrame, schema: StructType, rows, carry: tuple = ()
) -> DataFrame:
    """The one Arrow-batched loop of the audio family (``mapInPandas``):
    ``rows(content_bytes, doc_id, *carry_values)`` turns one payload
    into its output tuples in ``schema`` order — each operator supplies
    only its decode error policy and per-window reduction. Never ships
    samples, only the reduced rows."""

    def _map(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            cols = (pdf["content"], pdf["doc_id"], *(pdf[c] for c in carry))
            out = [r for raw, *key in zip(*cols) for r in rows(bytes(raw), *key)]
            yield pd.DataFrame(out, columns=schema.names)

    return media.mapInPandas(_map, schema=schema)


def decoded_audio_windows(media: DataFrame, window_ms: int = 1000) -> DataFrame:
    """REAL audio-decoder path — the audio twin of
    :func:`decoded_image_features`: one container decode per payload
    (:func:`decode_audio` — the magic bytes pick WAV or AIFF), then
    :func:`audio_window_slices` over the DECODED samples at the PARSED
    sample rate (not a caller-side guess). Emits exact-integer
    per-window stats (count, Σ|s|, max|s|) so the whole container parse
    + sample decode + fan-out is SQL-checkable against the synthesis
    closed form — a parser that misreads the rate, drops the
    metadata-chunk handling, or mis-signs a sample hash-mismatches
    immediately. An undecodable payload fails the job.
    """

    def rows(raw: bytes, doc_id):
        rate, _ch, samples = decode_audio(raw)
        for w, chunk in audio_window_slices(samples, rate, window_ms):
            mags = [abs(s) for s in chunk]
            yield doc_id, rate, w, w * window_ms, len(chunk), sum(mags), max(mags)

    return map_audio_payloads(media, WAV_WINDOW_SCHEMA, rows)


def wav_dup_windows(documents: DataFrame, window_ms: int = 1) -> DataFrame:
    """Exact-duplicate audio SEGMENTS over REAL decoded containers:
    synthesize valid WAVs (:func:`attach_wav`), decode them
    (:func:`decode_audio`), window the decoded samples at the parsed
    rate and group on each window's :func:`window_digest` — docs whose
    text lengths coincide produce byte-identical sample streams by the
    synthesis closed form, so real duplicate segments exist and the
    whole decode→window→dedup chain is SQL-checkable. One decode pass
    fans out to ≤ ceil(n/spw) digest rows per payload (never the
    samples themselves), then one map-side-combinable aggregate; the
    shuffle carries (digest, partials). An undecodable payload fails
    the job. Output (digests in >1 doc): window_digest, n_copies,
    n_docs, first_doc — ordered by digest.
    """

    def rows(raw: bytes, doc_id):
        rate, _ch, samples = decode_audio(raw)
        for w, chunk in audio_window_slices(samples, rate, window_ms):
            yield doc_id, window_digest(chunk, w)

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("window_digest", StringType())]
    )
    dig = map_audio_payloads(attach_wav(documents), schema, rows)
    return (
        dig.groupBy("window_digest")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("window_digest")
    )


def decoded_audio_stats(documents: DataFrame) -> DataFrame:
    """End-to-end REAL audio-decode pipeline, runnable (and
    oracle-checked) in every environment — the audio counterpart of
    :func:`decoded_image_stats`: synthesize valid WAV containers from
    the corpus (:func:`attach_wav`), run the live RIFF/chunk-walking
    parser over Arrow batches, window the decoded samples at 1 ms
    (3–5 windows per tiny payload — exercises the partial-window
    tail). The SQL oracle replays the synthesis closed form, so any
    parser deviation hash-mismatches."""
    return decoded_audio_windows(attach_wav(documents), window_ms=1)


def decoded_aiff_stats(documents: DataFrame) -> DataFrame:
    """End-to-end REAL decode for the SECOND audio container family —
    synthesize valid big-endian FORM/AIFF containers
    (:func:`attach_aiff`, incl. the ANNO metadata-chunk variants), run
    the live chunk-walking parser (:func:`decode_aiff` — 80-bit
    extended sample rate, signed big-endian int16 samples) over Arrow
    batches, window the decoded samples at 1 ms. Same SQL-oracle
    discipline as :func:`decoded_audio_stats`: the oracle replays the
    synthesis closed form, so a parser that misreads the extended
    float, the even-chunk alignment, or the sample byte order
    hash-mismatches."""
    return decoded_audio_windows(attach_aiff(documents), window_ms=1)


AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("window_idx", IntegerType()),
        StructField("start_ms", LongType()),
        StructField("n_samples", LongType()),
        StructField("window_md5", StringType()),
    ]
)


def audio_windows(
    media: DataFrame, window_ms: int = 1000, sample_rate: int = 16_000
) -> DataFrame:
    """Audio windowing plumbing — the third modality next to images
    (``extract_features``/``decoded_image_features``) and video
    (``sample_frames``): one payload row fans out to one row per
    fixed-duration analysis window (:func:`audio_window_slices`), the
    shape a real PCM decoder / feature extractor (fbank, VAD,
    diarization) plugs into.

    Container-aware: a payload :func:`decode_audio` parses (a valid
    PCM16-mono WAV or AIFF) is windowed over its DECODED samples at the
    PARSED rate. Any other payload — headerless, or a RIFF/FORM-prefixed
    one that FAILS the strict parse (stereo/float/truncated container,
    or a text payload that happens to start with 'RIFF'/'FORM' via
    ``attach_binary``) — degrades per row to the documented raw-PCM16-
    mono interpretation at ``sample_rate`` (n_samples = len(bytes) // 2)
    instead of killing the job.

    window_md5 is NOT a per-window content hash: it is md5 over the
    WHOLE analyzed buffer (the decoded samples as PCM16 little-endian
    bytes, or the whole raw payload) + ':' + window_idx — so two windows
    share a digest exactly when their payloads' whole buffers are
    identical and the index matches. A pure function of the bytes, so
    the whole fan-out is SQL-checkable like the frame sampler: the
    registered ``audio_windows`` oracle replays the raw closed form for
    every document (the fallback keeps it exact for any non-decodable
    payload); valid containers are certified through the
    ``decoded_audio_stats`` / ``decoded_aiff_stats`` /
    ``wav_dup_windows`` oracles.
    """

    def rows(raw: bytes, doc_id):
        try:
            rate, _ch, samples = decode_audio(raw)
            pcm = struct.pack(f"<{len(samples)}h", *samples)
        except (ValueError, NotImplementedError):  # degrade to raw PCM16
            rate, samples, pcm = sample_rate, range(len(raw) // 2), raw
        for w, chunk in audio_window_slices(samples, rate, window_ms):
            md5 = hashlib.md5(pcm + b":%d" % w).hexdigest()
            yield doc_id, w, w * window_ms, len(chunk), md5

    return map_audio_payloads(media, AUDIO_SCHEMA, rows)


def sample_frames(media: DataFrame, every: int = 10, modulus: int = 100) -> DataFrame:
    """Video-frame sampling plumbing: one payload row fans out to one row
    per sampled frame through ``mapInPandas`` (the shape a real decoder
    plugs into — per-task Arrow batches in, variable-cardinality batches
    out, schema declared up front).

    The deterministic fake treats the payload as ``len(bytes) % modulus
    + 1`` frames and samples every ``every``-th; frame_md5 =
    md5(bytes + ':' + idx) stands in for the frame content hash. Pure
    function of the bytes → SQL-checkable.
    """

    def _sample(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            doc_ids: list[int] = []
            idxs: list[int] = []
            md5s: list[str] = []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                b = bytes(content)
                for i in range(0, len(b) % modulus + 1, every):
                    doc_ids.append(doc_id)
                    idxs.append(i)
                    md5s.append(hashlib.md5(b + b":%d" % i).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(doc_ids, dtype="int64"),
                    "frame_idx": pd.array(idxs, dtype="int32"),
                    "frame_md5": pd.array(md5s, dtype=object),
                }
            )

    return media.mapInPandas(_sample, schema=FRAME_SCHEMA)


def frame_samples(documents: DataFrame) -> DataFrame:
    """End-to-end: text corpus as binary payloads → sampled frames."""
    return sample_frames(attach_binary(documents))


def attach_ppm(documents: DataFrame) -> DataFrame:
    """Synthesize a VALID binary-netpbm (P6) payload per document —
    dimensions derived deterministically from the text length, pixel
    block filled with 'A' bytes — entirely in column expressions
    (binary ``concat`` of the encoded header and pixel run). Stands in
    for reading real image files while producing payloads the REAL
    decoder must actually parse (header tokenization + pixel-length
    check), not a byte-level fake.
    """
    L = F.length(F.coalesce(F.col("text"), F.lit("")))
    w = (L % 13 + 1).cast("int")
    h = ((L * 7) % 11 + 1).cast("int")
    header = F.concat(
        F.lit("P6\n"),
        w.cast("string"),
        F.lit(" "),
        h.cast("string"),
        F.lit("\n255\n"),
    )
    # VARYING pixel bytes (codes 65..81, i mod 17 cycle): a decoder
    # that parses the header but mis-reads the pixel block can no
    # longer pass — the decoded mean has a closed form the oracle
    # recomputes exactly (integer arithmetic, no float folds)
    pixels = F.expr(
        "array_join(transform(sequence(0, width * height * 3 - 1),"
        " i -> char(65 + i % 17)), '')"
    )
    return documents.select(
        F.col("doc_id"), w.alias("width"), h.alias("height"), header.alias("hdr")
    ).select(
        "doc_id",
        F.lit("image/x-portable-pixmap").alias("media_type"),
        F.concat(F.encode(F.col("hdr"), "UTF-8"), F.encode(pixels, "UTF-8")).alias(
            "content"
        ),
    )


def decoded_image_stats(documents: DataFrame) -> DataFrame:
    """End-to-end REAL-decode pipeline, runnable (and oracle-checked)
    in every environment: synthesize P6 payloads from the corpus
    (:func:`attach_ppm`), then run the live decoder over Arrow batches
    (:func:`decoded_image_features` — stdlib netpbm branch here, PIL on
    cluster images). The SQL oracle recomputes the intended dimensions
    from the same length formula, so a decoder that mis-parses the
    header or drops payloads hash-mismatches immediately.
    """
    return decoded_image_features(attach_ppm(documents))


PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("phash", StringType()),
    ]
)


def ahash_bits(img) -> str:
    """64-char aHash bit string of a decoded image (PIL or StdlibImage):
    nearest-neighbor resize to 8x8, per-cell 3-byte gray sum, bit i =
    [64 * gray_i > total] — all-integer, the shared contract of
    `image_phash` (batch) and `streaming.curation.dedup_image_stream`."""
    small = img.resize((8, 8))
    px = small.tobytes()
    grays = [px[i * 3] + px[i * 3 + 1] + px[i * 3 + 2] for i in range(64)]
    total = sum(grays)
    return "".join("1" if 64 * g > total else "0" for g in grays)


def image_phash(media: DataFrame) -> DataFrame:
    """Perceptual aHash over the REAL decode → resize pipeline: decode
    the payload, nearest-neighbor resize to 8x8, per-cell gray value
    (sum of the 3 channel bytes — integer, no division), bit i = [64 *
    gray_i > total] — all-integer comparisons, so the 64-char bit
    string is exact and cross-engine oracle-able (no float thresholds).
    This is the image-dedup primitive: near-identical images (resize,
    recompress) collide on phash; Hamming-near hashes are banded the
    same way SimHash text signatures are.

    Executes the live decoder + the real ``resize`` (StdlibImage here,
    PIL on clusters — both map dst pixel x to src ``x * W // 8``).
    Arrow-batched mapInPandas; one scan, no shuffle.
    Output: doc_id, width, height, phash (64-char '0'/'1' string).
    """

    def _hash(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "width": [], "height": [], "phash": []}
            for doc_id, b in zip(pdf["doc_id"], pdf["content"]):
                img = decode_image(bytes(b))
                out["doc_id"].append(doc_id)
                out["width"].append(img.width)
                out["height"].append(img.height)
                out["phash"].append(ahash_bits(img))
            yield pd.DataFrame(
                {
                    "doc_id": out["doc_id"],
                    "width": pd.array(out["width"], dtype="int32"),
                    "height": pd.array(out["height"], dtype="int32"),
                    "phash": pd.array(out["phash"], dtype=object),
                }
            )

    return media.mapInPandas(_hash, schema=PHASH_SCHEMA)


def image_phash_stats(documents: DataFrame) -> DataFrame:
    """Registered pipeline: synthesize P6 payloads (:func:`attach_ppm`)
    → real decode → real 8x8 resize → integer aHash. The SQL oracle
    replays the whole chain analytically (pixel (sx,sy) of the resize
    pulls source byte 65 + ((sy*W+sx)*3 + c) % 17), so a decoder OR
    resize deviation flips bits and hash-mismatches."""
    return image_phash(attach_ppm(documents))


def phash_dup_pairs(documents: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Image near-dup pairs over the real decode→resize→aHash pipeline —
    the multimodal twin of ``dedup.simhash_pairs``, restructured for the
    thing image corpora actually contain: MANY byte-identical images.
    Enumerating doc pairs inside an identical-image group is O(g²) in
    the group size (measured: x4.4 wall-clock on 10x data when this op
    banded raw doc rows), so exact dups are collapsed FIRST — group by
    phash, keep the lowest doc_id as representative + member count —
    and the banded-LSH join (``dedup.band_join`` on the four 16-bit
    chunks, first-match emission; ``dedup.hamming``) runs over DISTINCT
    hashes only.
    Pairs therefore relate near-dup image CLASSES (1 ≤ hamming ≤
    ``max_hamming``); identical images are already one row each with
    their multiplicity, and expanding class pairs back to doc pairs is
    one join against the group table when a consumer wants it.

    Output: doc_a, doc_b (group representatives, doc_a < doc_b),
    hamming (int), n_a, n_b (group sizes).
    """
    hashed = image_phash(attach_ppm(documents))
    groups = (
        hashed.groupBy("phash")
        .agg(F.min("doc_id").alias("rep_doc"), F.count(F.lit(1)).alias("n_members"))
        .transform(materialize)
    )
    chunks = groups.selectExpr(
        "phash",
        "rep_doc",
        "n_members",
        "cast(conv(substring(phash, 1, 32), 2, 10) as long) AS hi",
        "cast(conv(substring(phash, 33, 32), 2, 10) as long) AS lo",
    )
    bands = [F.expr(f"substring(phash, {16 * c + 1}, 16)") for c in range(4)]
    return (
        band_join(chunks, chunks, bands)
        .filter("a.rep_doc < b.rep_doc")
        .selectExpr(
            "a.rep_doc AS doc_a",
            "b.rep_doc AS doc_b",
            f"{hamming()} AS hamming",
            "a.n_members AS n_a",
            "b.n_members AS n_b",
        )
        .filter((F.col("hamming") >= 1) & (F.col("hamming") <= max_hamming))
    )


def audio_dup_windows(media: DataFrame, window_ms: int = 1000) -> DataFrame:
    """WHOLE-PAYLOAD audio duplicates across documents, reported window
    by window: group the :func:`audio_windows` fan-out on its
    ``window_md5`` and keep digests appearing in more than one document.
    ``window_md5`` hashes the whole analyzed buffer (+ window index), so
    a group is one window position shared by documents whose entire
    analyzed buffers are byte-identical — two payloads that share only
    some segments never collide. The per-SEGMENT sweep is
    :func:`wav_dup_windows` (one :func:`window_digest` per window). One
    map-side-combined aggregation over the fan-out; the shuffle carries
    (digest, partials), never samples.

    Output: window_md5, n_copies, n_docs, first_doc.
    """
    w = audio_windows(media, window_ms=window_ms)
    return (
        w.groupBy("window_md5")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )
