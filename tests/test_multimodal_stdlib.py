"""Real image-decode tests that run in EVERY environment.

decode_image's real branch (decode → pixels → re-encode) must not be a
PIL-only story: binary netpbm (P5/P6) and 24-bit BMP decode through the
stdlib path when PIL is absent. These formats are also PIL-decodable,
so this module is environment-agnostic — in this sandbox it exercises
the stdlib decoders; on a cluster image with PIL the same tests drive
the PIL branch (plus test_multimodal_pil.py's PNG coverage). The
stdlib codec internals (_decode_netpbm/_decode_bmp/encode_*) are
pinned exactly, independent of which branch decode_image picks.
"""

from __future__ import annotations

import io

import pytest

from data_pipeline_example_spark.operators import multimodal as mm


def _ppm_bytes(width: int, height: int, color=(200, 10, 10)) -> bytes:
    pix = bytes(color) * (width * height)
    return b"P6\n%d %d\n255\n" % (width, height) + pix


def _pgm_bytes(width: int, height: int, value: int = 77) -> bytes:
    return b"P5\n%d %d\n255\n" % (width, height) + bytes([value]) * (width * height)


def _bmp_bytes(width: int, height: int, color=(200, 10, 10)) -> bytes:
    pix = bytes(color) * (width * height)
    return mm.encode_bmp(mm.StdlibImage(width, height, "RGB", pix, "BMP"))


def test_netpbm_decode_exact_pixels_and_comments():
    # header with a comment and mixed whitespace, 2x2 distinct pixels
    pix = bytes([1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12])
    raw = b"P6 # a comment\n 2\t2 # another\n255\n" + pix
    img = mm._decode_netpbm(raw)
    assert (img.width, img.height, img.mode, img.format) == (2, 2, "RGB", "PPM")
    assert img.tobytes() == pix
    # re-encode → decode is lossless
    assert mm._decode_netpbm(mm.encode_netpbm(img)).tobytes() == pix


def test_pgm_decodes_gray():
    img = mm._decode_netpbm(_pgm_bytes(4, 3, 9))
    assert (img.width, img.height, img.mode) == (4, 3, "L")
    assert img.tobytes() == bytes([9]) * 12


def test_bmp_roundtrip_exact_with_row_padding():
    # width 3 → 9-byte rows padded to 12: stride handling must be exact
    pix = bytes(range(3 * 2 * 3))
    img = mm.StdlibImage(3, 2, "RGB", pix, "BMP")
    back = mm._decode_bmp(mm.encode_bmp(img))
    assert (back.width, back.height, back.mode) == (3, 2, "RGB")
    assert back.tobytes() == pix


def test_stdlib_resize_nearest_neighbor_exact():
    # 2x1 image upscaled 2x: each source pixel repeats twice
    pix = bytes([10, 20, 30, 40, 50, 60])
    img = mm.StdlibImage(2, 1, "RGB", pix, "PPM")
    out = img.resize((4, 2))
    row = bytes([10, 20, 30, 10, 20, 30, 40, 50, 60, 40, 50, 60])
    assert out.tobytes() == row * 2


@pytest.mark.parametrize(
    "payload,width,height,mode",
    [
        (_ppm_bytes(12, 7), 12, 7, "RGB"),
        (_pgm_bytes(5, 4), 5, 4, "L"),
        (_bmp_bytes(6, 3), 6, 3, "RGB"),
    ],
    ids=["ppm", "pgm", "bmp"],
)
def test_decode_image_real_branch(payload, width, height, mode):
    """The public seam, whichever branch (PIL or stdlib) is active."""
    img = mm.decode_image(payload)
    img.load()
    assert (img.width, img.height, img.mode) == (width, height, mode)


@pytest.mark.parametrize(
    "payload", [_ppm_bytes(12, 8), _bmp_bytes(12, 8)], ids=["ppm", "bmp"]
)
def test_resize_image_reencodes_in_source_format(payload):
    out = mm.resize_image(payload, 4, 3)
    img = mm.decode_image(out)
    assert (img.width, img.height) == (4, 3)


def test_decode_image_rejects_garbage_loudly():
    with pytest.raises(Exception):
        mm.decode_image(b"definitely not an image")
    with pytest.raises(Exception):
        mm.decode_image(b"P6\n2 2\n255\n\x00")  # truncated pixel data


def test_decode_image_whitelist_is_environment_invariant():
    """Text-shaped formats PIL would sniff (ASCII netpbm P1/P2/P3, XBM)
    must reject at the magic whitelist BEFORE any decoder — otherwise
    ``decodable`` flips on PIL-equipped clusters only and breaks the
    hash-pinned media_features oracle (ADVICE r13)."""
    for payload in (
        b"P1\n2 2\n0 1\n1 0\n",            # ASCII PBM — valid for PIL
        b"P2\n2 2\n255\n0 1 2 3\n",        # ASCII PGM
        b"P3\n1 1\n255\n10 20 30\n",       # ASCII PPM
        b"#define im_width 2\n#define im_height 2\n"
        b"static char im_bits[] = {0x01};",  # XBM
        b"<svg xmlns='http://www.w3.org/2000/svg'/>",
        b"RIFF\x04\x00\x00\x00WAVE",        # RIFF but not WEBP
    ):
        with pytest.raises(ValueError, match="whitelist"):
            mm.decode_image(payload)
    # whitelisted magics still reach the decoder (and fail later,
    # differently, when malformed)
    with pytest.raises(Exception) as exc:
        mm.decode_image(b"\x89PNG\r\n\x1a\n truncated")
    assert "whitelist" not in str(exc.value)


def test_decoded_image_features_end_to_end_stdlib(spark):
    """The real-decoder mapInPandas pipeline executes in this sandbox:
    Arrow batches of netpbm/BMP payloads → per-row decode → dims."""
    rows = [
        (1, "image/x-portable-pixmap", _ppm_bytes(12, 7)),
        (2, "image/x-portable-graymap", _pgm_bytes(3, 5)),
        (3, "image/bmp", _bmp_bytes(9, 2)),
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    got = {
        r["doc_id"]: (r["width"], r["height"], r["mode"])
        for r in mm.decoded_image_features(media).collect()
    }
    assert got == {1: (12, 7, "RGB"), 2: (3, 5, "L"), 3: (9, 2, "RGB")}


def test_image_phash_contract(spark, sf_dir):
    """Identical payloads hash identically; the bit string is 64 chars;
    and hashes vary across dimension groups (the threshold pattern is a
    function of (w, h), so distinct shapes should not all collide)."""
    from pyspark.sql import functions as F

    from data_pipeline_example_spark.operators.multimodal import (
        attach_ppm,
        image_phash,
    )
    from data_pipeline_example_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    hashed = image_phash(attach_ppm(docs))
    rows = hashed.collect()
    assert len(rows) == docs.count()
    assert all(len(r["phash"]) == 64 and set(r["phash"]) <= {"0", "1"} for r in rows)

    by_dims = {}
    for r in rows:
        by_dims.setdefault((r["width"], r["height"]), set()).add(r["phash"])
    # same synthesized dims => identical image => identical hash
    assert all(len(s) == 1 for s in by_dims.values())
    # and the hash space is not degenerate across shapes
    assert len({next(iter(s)) for s in by_dims.values()}) > 1


def test_phash_dup_pairs_relates_distinct_classes(spark, sf_dir):
    """Pairs are between distinct hash classes only (hamming >= 1),
    representatives are the lowest member doc_ids, and identical-image
    multiplicity rides along as n_a/n_b instead of being enumerated as
    O(g^2) pairs."""
    from pyspark.sql import functions as F

    from data_pipeline_example_spark.operators.multimodal import (
        attach_ppm,
        image_phash,
        phash_dup_pairs,
    )
    from data_pipeline_example_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = phash_dup_pairs(docs).collect()
    assert pairs, "synthetic corpus has near-dup dimension classes"
    assert all(1 <= r["hamming"] <= 8 and r["doc_a"] < r["doc_b"] for r in pairs)

    groups = (
        image_phash(attach_ppm(docs))
        .groupBy("phash")
        .agg(F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    reps = {r["rep"]: r["n"] for r in groups}
    for r in pairs:
        assert r["doc_a"] in reps and r["doc_b"] in reps
        assert r["n_a"] == reps[r["doc_a"]] and r["n_b"] == reps[r["doc_b"]]


def _wav_closed_form(text: str):
    """The attach_wav synthesis contract, replayed in plain Python."""
    L = len(text)
    sr = (8000, 16000, 22050, 44100)[L % 4]
    n = L % 37 + 3
    u = [(L * 31 + i * i * 7) % 65536 for i in range(n)]
    return sr, n, [x - 65536 if x >= 32768 else x for x in u]


def test_decode_wav_reads_stdlib_wave_output():
    """Cross-validation against Python's own WAV writer: whatever the
    stdlib wave module emits, decode_wav must parse identically —
    rate, channel count, and every signed sample."""
    import io
    import struct
    import wave

    from data_pipeline_example_spark.operators.multimodal import decode_wav

    samples = [0, 1000, -1000, 32767, -32768, 7]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(22050)
        w.writeframes(struct.pack("<%dh" % len(samples), *samples))
    rate, ch, got = decode_wav(buf.getvalue())
    assert (rate, ch) == (22050, 1)
    assert list(got) == samples


def test_decode_wav_rejects_malformed_loudly():
    import struct

    import pytest

    from data_pipeline_example_spark.operators.multimodal import decode_wav

    with pytest.raises(ValueError):
        decode_wav(b"not riff at all")
    # well-formed container but float32 format -> loud NotImplemented
    body = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 8 + 16 + 8) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + body
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(NotImplementedError):
        decode_wav(wav)


def test_decode_aiff_reads_stdlib_aifc_output():
    """Cross-validation against Python's own AIFF writer: whatever the
    stdlib aifc module emits (incl. its 80-bit extended sample rate),
    decode_aiff must parse identically — rate, channels, every signed
    big-endian sample."""
    import io
    import struct
    import warnings

    from data_pipeline_example_spark.operators.multimodal import decode_aiff

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import aifc

    class _KeepOpen(io.BytesIO):  # aifc closes the stream on exit
        def close(self):
            pass

    samples = [0, 1000, -1000, 32767, -32768, 7]
    buf = _KeepOpen()
    with aifc.open(buf, "wb") as w:
        w.aiff()  # plain AIFF (the writer defaults to AIFF-C)
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(22050)
        w.writeframes(struct.pack(">%dh" % len(samples), *samples))
    rate, ch, got = decode_aiff(buf.getvalue())
    assert (rate, ch) == (22050, 1)
    assert list(got) == samples


def test_decode_aiff_rejects_malformed_loudly():
    import struct

    import pytest

    from data_pipeline_example_spark.operators.multimodal import (
        _parse_extended80,
        decode_aiff,
    )

    with pytest.raises(ValueError):
        decode_aiff(b"not form at all")
    with pytest.raises(ValueError):  # lying FORM size
        decode_aiff(b"FORM" + struct.pack(">I", 99) + b"AIFF")

    def aiff(bits=16, channels=1, n_frames=0, data=b"", rate_hex="400DAC44000000000000"):
        comm = struct.pack(">HIH", channels, n_frames, bits) + bytes.fromhex(rate_hex)
        ssnd = struct.pack(">II", 0, 0) + data
        body = (b"AIFF"
                + b"COMM" + struct.pack(">I", len(comm)) + comm
                + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd)
        return b"FORM" + struct.pack(">I", len(body)) + body

    with pytest.raises(NotImplementedError):  # 32-bit samples
        decode_aiff(aiff(bits=32))
    with pytest.raises(NotImplementedError):  # stereo
        decode_aiff(aiff(channels=2))
    with pytest.raises(ValueError):  # frame-count mismatch
        decode_aiff(aiff(n_frames=3, data=b"\x00\x02"))
    with pytest.raises(NotImplementedError):  # fractional rate 22050.5
        decode_aiff(aiff(n_frames=1, data=b"\x00\x02",
                         rate_hex="400DAC45000000000000"))
    # the pinned synthesis constants decode to exactly their rates
    for rate, hx in ((8000, "400BFA00000000000000"),
                     (16000, "400CFA00000000000000"),
                     (22050, "400DAC44000000000000"),
                     (44100, "400EAC44000000000000")):
        assert _parse_extended80(bytes.fromhex(hx)) == rate


def test_attach_aiff_containers_are_valid_for_stdlib_reader(spark):
    """The synthesized containers must be REAL AIFF files: the stdlib
    aifc module (an independent parser) reads them back — including
    the ANNO-chunk variants (len % 5 == 0) that break fixed-offset
    readers — and decode_aiff recovers exactly the closed-form
    samples."""
    import io
    import struct
    import warnings

    from data_pipeline_example_spark.operators.multimodal import (
        attach_aiff,
        decode_aiff,
    )

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import aifc

    docs = spark.createDataFrame(
        [(0, "x" * 25), (1, "y" * 13)],  # 25 → ANNO variant; 13 → plain
        ["doc_id", "text"],
    )
    for r in attach_aiff(docs).collect():
        payload = bytes(r["content"])
        L = 25 if r["doc_id"] == 0 else 13
        sr = (8000, 16000, 22050, 44100)[L % 4]
        n = L % 29 + 4
        want = [(x - 65536 if x >= 32768 else x)
                for x in ((L * 17 + i * i * 5) % 65536 for i in range(n))]
        with aifc.open(io.BytesIO(payload)) as a:
            assert a.getnchannels() == 1 and a.getsampwidth() == 2
            assert a.getframerate() == sr and a.getnframes() == n
            ind = list(struct.unpack(">%dh" % n, a.readframes(n)))
        rate, _ch, got = decode_aiff(payload)
        assert rate == sr and list(got) == want == ind


def test_attach_wav_containers_are_valid_and_chunk_walked(spark):
    """The synthesized containers must be REAL WAV files: the stdlib
    wave module (an independent parser) reads them back — including
    the LIST-chunk variants (len % 5 == 0) that break fixed-offset
    readers — and decode_wav recovers exactly the closed-form samples."""
    import io
    import struct
    import wave

    from data_pipeline_example_spark.operators.multimodal import (
        attach_wav,
        decode_wav,
    )

    texts = ["abcde", "abcdef", "abcdefg", "0123456789", "x" * 20]
    assert any(len(t) % 5 == 0 for t in texts)
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    payloads = {r["doc_id"]: bytes(r["content"]) for r in attach_wav(docs).collect()}
    for i, t in enumerate(texts):
        sr, n, samples = _wav_closed_form(t)
        raw = payloads[i]
        # independent parser: Python's own wave module
        with wave.open(io.BytesIO(raw)) as w:
            assert w.getframerate() == sr
            assert w.getnchannels() == 1
            assert w.getsampwidth() == 2
            assert w.getnframes() == n
            got = struct.unpack("<%dh" % n, w.readframes(n))
        assert list(got) == samples, t
        # our parser agrees
        rate, ch, ours = decode_wav(raw)
        assert (rate, ch) == (sr, 1)
        assert list(ours) == samples


def test_decoded_audio_stats_windows_match_closed_form(spark):
    """End-to-end attach_wav -> decode_wav -> 1 ms windows: per-window
    counts/sums/peaks equal the closed form, incl. the partial tail."""
    from data_pipeline_example_spark.operators.multimodal import decoded_audio_stats

    texts = ["hello world", "x" * 25, "y" * 40]
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rows = decoded_audio_stats(docs).collect()
    got = {(r["doc_id"], r["window_idx"]): r for r in rows}
    total = 0
    for i, t in enumerate(texts):
        sr, n, samples = _wav_closed_form(t)
        spw = sr // 1000
        n_win = (n + spw - 1) // spw
        total += n_win
        for w_idx in range(n_win):
            chunk = samples[w_idx * spw : (w_idx + 1) * spw]
            r = got[(i, w_idx)]
            assert r["sample_rate"] == sr
            assert r["start_ms"] == w_idx
            assert r["n_samples"] == len(chunk)
            assert r["sum_abs"] == sum(abs(s) for s in chunk)
            assert r["peak_abs"] == max(abs(s) for s in chunk)
    assert len(rows) == total


def test_audio_windows_container_aware(spark):
    """audio_windows must use the PARSED rate for RIFF payloads (the
    sample_rate argument is only the headerless-PCM fallback) and
    digest the decoded data-chunk bytes, not the container bytes."""
    import hashlib
    import struct

    from data_pipeline_example_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        attach_wav,
        audio_windows,
    )

    text = "x" * 25  # sr = 16000, n = 28 samples
    docs = spark.createDataFrame(
        [(0, text, "en", "s", len(text))],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    media = attach_wav(docs)
    sr, n, samples = _wav_closed_form(text)
    assert sr == 16000
    # window_ms=1 at the PARSED 16 kHz rate -> 16 samples/window -> 2
    # windows; a raw-bytes reader at the caller's bogus rate would
    # window len(bytes)//2 "samples" instead
    rows = {r["window_idx"]: r
            for r in audio_windows(media, window_ms=1, sample_rate=999_000).collect()}
    assert len(rows) == 2
    assert rows[0]["n_samples"] == 16 and rows[1]["n_samples"] == n - 16
    pcm = struct.pack("<%dh" % n, *samples)
    assert rows[0]["window_md5"] == hashlib.md5(pcm + b":0").hexdigest()


def test_audio_windows_riff_prefix_degrades_to_raw(spark):
    """A payload that STARTS with 'RIFF' but fails the strict container
    parse (here: a text payload routed through the binary seam, and a
    truncated real WAV) must degrade per-row to the documented
    raw-PCM16 interpretation — not kill the job (ADVICE r13). The raw
    interpretation is exactly what the registered oracle replays, so
    the fallback keeps the hash match for any non-decodable payload."""
    import hashlib

    from data_pipeline_example_spark.operators.multimodal import (
        attach_wav,
        audio_windows,
    )
    from pyspark.sql import functions as F

    fake = b"RIFF this is just text that happens to start with the magic"
    # also a structurally-truncated container: valid magic, lying size
    truncated = b"RIFF" + b"\x00\x00\x00\x10" + b"WAVEfmt "
    docs = spark.createDataFrame(
        [(0, bytearray(fake)), (1, bytearray(truncated))],
        ["doc_id", "content"],
    ).select("doc_id", F.col("content").cast("binary").alias("content"))
    rows = audio_windows(docs, window_ms=10, sample_rate=16_000).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # raw path: n_samples = len(bytes)//2, 160 samples/window,
    # md5 over the RAW payload bytes
    for doc_id, payload in ((0, fake), (1, truncated)):
        got = sorted(by_doc[doc_id], key=lambda r: r["window_idx"])
        n = len(payload) // 2
        assert sum(r["n_samples"] for r in got) == n
        assert got[0]["window_md5"] == hashlib.md5(payload + b":0").hexdigest()

    # and a genuinely valid WAV still takes the decode path
    text_docs = spark.createDataFrame(
        [(2, "y" * 25, "en", "s", 25)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    decoded = audio_windows(attach_wav(text_docs), window_ms=1).collect()
    assert {r["n_samples"] for r in decoded} == {16, 12}  # parsed 16 kHz rate


def test_wav_dup_windows_planted_equal_lengths(spark):
    """Equal-length texts synthesize byte-identical WAV sample streams
    (the closed form depends only on len(text)), so their windows are
    exact duplicates; distinct lengths share no digest."""
    import hashlib
    import struct

    from data_pipeline_example_spark.operators.multimodal import wav_dup_windows

    texts = ["aaaaa", "bbbbb", "ccccc", "different length here", "zz"]
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rows = wav_dup_windows(docs).collect()
    # the three length-5 docs duplicate every window; nothing else does
    sr, n, samples = _wav_closed_form("aaaaa")
    spw = sr // 1000
    n_win = (n + spw - 1) // spw
    assert len(rows) == n_win
    for r in rows:
        assert (r["n_copies"], r["n_docs"], r["first_doc"]) == (3, 3, 0)
    # digest contract: md5 over the uppercase PCM hex + ':' + idx
    chunk = samples[:spw]
    pcm = struct.pack("<%dh" % len(chunk), *chunk)
    want = hashlib.md5((pcm.hex().upper() + ":0").encode()).hexdigest()
    assert want in {r["window_digest"] for r in rows}


def test_audio_dup_windows_groups_whole_payload_copies(spark):
    """Two byte-identical payloads share every window digest; a third
    that shares only their prefix shares none (the digest covers the
    whole buffer), so each group is exactly the two copies."""
    from data_pipeline_example_spark.operators.multimodal import (
        attach_binary,
        audio_dup_windows,
        audio_windows,
    )

    shared = "".join(chr(97 + i % 26) for i in range(1000))  # 500 samples
    docs = spark.createDataFrame(
        [(7, shared), (3, shared), (5, shared + " and a tail")],
        "doc_id long, text string",
    )
    rows = audio_dup_windows(attach_binary(docs), window_ms=10).collect()
    # raw PCM16 at 16 kHz, 10 ms -> 160 samples a window -> 4 windows
    assert len(rows) == 4
    assert len({r["window_md5"] for r in rows}) == 4
    for r in rows:
        assert (r["n_docs"], r["n_copies"], r["first_doc"]) == (2, 2, 3)
    prefixed = audio_windows(attach_binary(docs.filter("doc_id = 5")), window_ms=10)
    assert {r["window_md5"] for r in prefixed.collect()}.isdisjoint(
        r["window_md5"] for r in rows
    )


def test_audio_oracles_agree_on_non_ascii_text(spark, tmp_path):
    """Cross-engine regression for the strlen-vs-length class: the
    audio synthesis closed forms key on CHARACTER length, and a
    non-ASCII corpus (chars != bytes) must hash-match between the
    Spark operator and its DuckDB oracle — the driver corpus is pure
    ASCII, which masked exactly this defect in the audio oracles."""
    import duckdb

    from data_pipeline_example_spark.operators import multimodal as mmod
    from data_pipeline_example_spark.operators import text as text_ops
    from data_pipeline_example_spark.plans.oracles import ORACLES

    rows = [
        (1, "mojibake � bidi ‮ zw​ßüñ", "de", "s", 1),   # chars != bytes
        (2, "plain ascii text here ok", "en", "s", 1),
        (3, "ß" * 25, "de", "t", 1),                      # 25 chars, 50 bytes
        (4, None, None, None, 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    pq = str(tmp_path / "documents.parquet")
    docs.coalesce(1).write.mode("overwrite").parquet(pq)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}/*.parquet')")

    cases = {
        "decoded_audio_stats": lambda: mmod.decoded_audio_stats(docs),
        "decoded_aiff_stats": lambda: mmod.decoded_aiff_stats(docs),
        "wav_dup_windows": lambda: mmod.wav_dup_windows(docs),
        "unicode_hygiene": lambda: text_ops.unicode_hygiene(docs),
    }
    for name, fn in cases.items():
        got = fn().collect()
        spark_rows = sorted(
            tuple(r[c] for c in sorted(r.asDict())) for r in got
        )
        cur = con.execute(ORACLES[name])
        cols = [d[0] for d in cur.description]
        duck_rows = sorted(
            tuple(dict(zip(cols, r))[c] for c in sorted(cols))
            for r in cur.fetchall()
        )
        assert spark_rows == duck_rows, name
