"""Streaming corpus ingestion: hermetic file-source test of the
quality gate → watermarked exact dedup → chunk fan-out flow."""

from __future__ import annotations

import json
import os
import time

from data_pipeline_example_spark.streaming import curation as sc


def _write_docs(path: str, docs: list[dict], mtime: float) -> None:
    with open(path, "w") as f:
        for d in docs:
            f.write(json.dumps(d) + "\n")
    os.utime(path, (mtime, mtime))


GOOD = " ".join(f"tok{i}" for i in range(30)) + " the and of it is"
OTHER = " ".join(f"word{i}" for i in range(40)) + " the a to in is"


def test_stream_curation_gates_dedups_and_chunks(spark, tmp_path):
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    in_dir.mkdir()
    now = time.time()
    _write_docs(
        str(in_dir / "b1.json"),
        [
            {"doc_id": "1", "text": GOOD, "ingest_ts": "2025-01-01 10:00:00"},
            # exact duplicate text in the same horizon -> state drops it
            {"doc_id": "2", "text": GOOD, "ingest_ts": "2025-01-01 10:05:00"},
            # too short -> quality gate drops it
            {"doc_id": "3", "text": "tiny", "ingest_ts": "2025-01-01 10:06:00"},
            {"doc_id": "4", "text": OTHER, "ingest_ts": "2025-01-01 10:07:00"},
        ],
        now,
    )
    # second batch: duplicate again (still within watermark), one new doc
    _write_docs(
        str(in_dir / "b2.json"),
        [
            {"doc_id": "5", "text": GOOD, "ingest_ts": "2025-01-01 10:20:00"},
            {
                "doc_id": "6",
                "text": OTHER + " extended with new unique tail tokens",
                "ingest_ts": "2025-01-01 10:21:00",
            },
        ],
        now + 2,
    )

    raw = sc.read_json_stream(spark, str(in_dir), sc.DOC_SCHEMA, max_files_per_trigger=1)
    curated = sc.curate_doc_stream(
        sc.decode_doc_stream(raw), chunk_size=16, stride=16
    )
    q = (
        curated.writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = spark.read.parquet(str(out_dir))
    surviving = {r["doc_id"] for r in out.select("doc_id").distinct().collect()}
    # 1 kept; 2 and 5 are dup of 1; 3 gated; 4 and 6 kept
    assert surviving == {1, 4, 6}
    # chunk fan-out: doc 1 has 35 tokens -> chunks of 16/16/3
    d1 = sorted(
        (r["chunk_id"], r["n_tokens"]) for r in out.filter("doc_id = 1").collect()
    )
    assert d1 == [(0, 16), (1, 16), (2, 3)]
    # event time rides along on every chunk row
    assert out.filter("ingest_ts IS NULL").count() == 0


def _write_vecs(path: str, vecs: list[dict], mtime: float) -> None:
    with open(path, "w") as f:
        for v in vecs:
            f.write(json.dumps(v) + "\n")
    os.utime(path, (mtime, mtime))


def test_stream_embedding_srp_dedup_across_microbatches(spark, tmp_path):
    """SRP near-dup admission in streaming ingest: a near-parallel
    re-arrival in a LATER micro-batch collides on the data-independent
    signature and is rejected with bounded (watermarked) state."""
    from pyspark.sql import functions as F

    from data_pipeline_example_spark.operators import similarity
    from data_pipeline_example_spark.streaming import curation as scur

    dims, n_bits = 8, 8
    A = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    A2 = [1.0, 1e-4, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]  # near-parallel to A
    B = [-1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]  # antiparallel → flips bits
    C = [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 2.0, 0.0]
    # self-validating fixture: batch-side signatures must collide for
    # (A, A2) and be pairwise distinct for (A, B, C)
    sigs = dict(
        spark.createDataFrame(
            [(0, A), (1, A2), (2, B), (3, C)], ["vec_id", "embedding"]
        )
        .select(
            "vec_id",
            F.expr(similarity.srp_signature_expr("embedding", n_bits, dims)).alias("s"),
        )
        .collect()
    )
    assert sigs[0] == sigs[1]
    assert len({sigs[0], sigs[2], sigs[3]}) == 3

    in_dir, out_dir, ckpt = tmp_path / "vin", tmp_path / "vout", tmp_path / "vckpt"
    in_dir.mkdir()
    now = time.time()
    _write_vecs(
        str(in_dir / "b1.json"),
        [
            {"vec_id": "0", "embedding": A, "ingest_ts": "2025-01-01 10:00:00"},
            {"vec_id": "2", "embedding": B, "ingest_ts": "2025-01-01 10:01:00"},
            # malformed: wrong length → must be DROPPED, not signed. A
            # wrong-length vector folds to a NULL srp_sig, and NULL keys
            # compare equal in dropDuplicatesWithinWatermark — admitting
            # the first would silently swallow every later malformed row
            {"vec_id": "4", "embedding": A[:3], "ingest_ts": "2025-01-01 10:02:00"},
        ],
        now,
    )
    _write_vecs(
        str(in_dir / "b2.json"),
        [
            # near-dup of vec 0, later micro-batch, inside the horizon
            {"vec_id": "1", "embedding": A2, "ingest_ts": "2025-01-01 10:20:00"},
            {"vec_id": "3", "embedding": C, "ingest_ts": "2025-01-01 10:21:00"},
            # second malformed row (different wrong length)
            {"vec_id": "5", "embedding": A + [0.0], "ingest_ts": "2025-01-01 10:22:00"},
        ],
        now + 2,
    )

    raw = scur.read_json_stream(spark, str(in_dir), scur.EMB_SCHEMA, max_files_per_trigger=1)
    admitted = scur.dedup_embedding_stream(
        scur.decode_embedding_stream(raw), n_bits=n_bits, dims=dims
    )
    q = (
        admitted.writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = spark.read.parquet(str(out_dir))
    surviving = {r["vec_id"] for r in out.select("vec_id").collect()}
    # vec 1 rejected as SRP near-dup of 0; malformed 4 and 5 dropped
    assert surviving == {0, 2, 3}
    # the admitted rows carry their signature for downstream indexing
    got_sigs = {r["vec_id"]: r["srp_sig"] for r in out.collect()}
    assert got_sigs == {0: sigs[0], 2: sigs[2], 3: sigs[3]}


def test_run_doc_ingest_index_gate_survives_stream_state_loss(spark, tmp_path):
    """The lambda split, wired: a duplicate re-arriving in a LATER RUN
    (fresh checkpoint — stream dedup state gone) is still rejected,
    because foreachBatch gates every batch against the persistent
    fingerprint index."""
    in1, in2 = tmp_path / "in1", tmp_path / "in2"
    corpus, idx = str(tmp_path / "corpus"), str(tmp_path / "idx")
    in1.mkdir(), in2.mkdir()
    now = time.time()

    _write_docs(
        str(in1 / "b1.json"),
        [
            {"doc_id": "1", "text": GOOD, "ingest_ts": "2025-01-01 10:00:00"},
            {"doc_id": "2", "text": OTHER, "ingest_ts": "2025-01-01 10:01:00"},
        ],
        now,
    )
    q = sc.run_doc_ingest(
        spark, str(in1), corpus, idx, str(tmp_path / "ck1"),
        chunk_size=16, stride=16,
    )
    q.awaitTermination(120)

    # run 2: new input dir + NEW checkpoint (stream state lost) — one
    # cross-run duplicate of doc 1, one genuinely new doc
    _write_docs(
        str(in2 / "b1.json"),
        [
            {"doc_id": "9", "text": GOOD, "ingest_ts": "2025-01-02 10:00:00"},
            {
                "doc_id": "10",
                "text": OTHER + " fresh unique continuation tokens here",
                "ingest_ts": "2025-01-02 10:01:00",
            },
        ],
        now + 2,
    )
    q2 = sc.run_doc_ingest(
        spark, str(in2), corpus, idx, str(tmp_path / "ck2"),
        chunk_size=16, stride=16,
    )
    q2.awaitTermination(120)

    out = spark.read.parquet(corpus)
    surviving = {r["doc_id"] for r in out.select("doc_id").distinct().collect()}
    assert surviving == {1, 2, 10}  # doc 9 rejected by the INDEX, not stream state
    # index holds exactly one row per distinct admitted document
    assert spark.read.parquet(idx).count() == 3
    # chunk shape intact through the foreachBatch path
    d1 = sorted(
        (r["chunk_id"], r["n_tokens"]) for r in out.filter("doc_id = 1").collect()
    )
    assert d1 == [(0, 16), (1, 16), (2, 3)]


def test_dedup_image_stream_admits_by_perceptual_hash(spark, tmp_path):
    """Image-modality streaming dedup: a LATER payload with DIFFERENT
    bytes but the same decoded pixels (header whitespace variant) is
    rejected — the key is perceptual, not a byte digest; a genuinely
    different image is admitted; undecodable payloads are dropped, not
    keyed."""
    import base64
    import json
    import os
    import time

    from data_pipeline_example_spark.streaming import curation as scur

    px = bytes(65 + (i % 17) for i in range(4 * 4 * 3))
    img_a1 = b"P6\n4 4\n255\n" + px          # canonical header
    img_a2 = b"P6 4 4 255 " + px             # same pixels, different bytes
    other = bytes(200 - (i % 23) for i in range(4 * 4 * 3))
    img_b = b"P6\n4 4\n255\n" + other
    junk = b"not an image at all"

    def _write(path, rows, mtime):
        with open(path, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        os.utime(path, (mtime, mtime))

    def b64(b):
        return base64.b64encode(b).decode()

    in_dir, out_dir, ckpt = tmp_path / "min", tmp_path / "mout", tmp_path / "mckpt"
    in_dir.mkdir()
    now = time.time()
    _write(
        str(in_dir / "b1.json"),
        [
            {"doc_id": "1", "content_b64": b64(img_a1), "ingest_ts": "2025-01-01 10:00:00"},
            {"doc_id": "4", "content_b64": b64(junk), "ingest_ts": "2025-01-01 10:01:00"},
        ],
        now,
    )
    _write(
        str(in_dir / "b2.json"),
        [
            {"doc_id": "2", "content_b64": b64(img_a2), "ingest_ts": "2025-01-01 10:20:00"},
            {"doc_id": "3", "content_b64": b64(img_b), "ingest_ts": "2025-01-01 10:21:00"},
            {"doc_id": "5", "content_b64": b64(junk + b"!"), "ingest_ts": "2025-01-01 10:22:00"},
        ],
        now + 2,
    )

    raw = scur.read_json_stream(
        spark, str(in_dir), scur.MEDIA_STREAM_SCHEMA, max_files_per_trigger=1
    )
    admitted = scur.dedup_image_stream(scur.decode_media_stream(raw))
    q = (
        admitted.writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = spark.read.parquet(str(out_dir)).collect()
    surviving = {r["doc_id"] for r in out}
    # 2 rejected (perceptual dup of 1); 4 and 5 dropped (undecodable)
    assert surviving == {1, 3}
    hashes = {r["doc_id"]: r["phash"] for r in out}
    assert len(hashes[1]) == 64 and hashes[1] != hashes[3]


def test_dedup_audio_stream_admits_by_window_digest_across_restart(spark, tmp_path):
    """Audio-modality streaming dedup admission, pinned to the batch
    wav_dup_windows anchor: doc 2's text length equals doc 1's, so the
    attach_wav closed form synthesizes a byte-identical sample stream
    and EVERY doc-2 window digest is a duplicate of an admitted doc-1
    digest — across a checkpoint kill/resume (doc 1 streams in run 1,
    doc 2 in run 2, state survives). A different-length doc is
    admitted; an undecodable payload is dropped, not keyed."""
    import base64
    import json
    import os
    import time

    from data_pipeline_example_spark.operators import multimodal as mm
    from data_pipeline_example_spark.streaming import curation as scur

    docs = spark.createDataFrame(
        [(1, "a" * 25), (2, "b" * 25), (3, "c" * 30)],
        ["doc_id", "text"],
    )
    payloads = {
        r["doc_id"]: bytes(r["content"]) for r in mm.attach_wav(docs).collect()
    }
    assert payloads[1] == payloads[2]  # closed form depends only on len(text)

    def _write(path, rows, mtime):
        with open(path, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        os.utime(path, (mtime, mtime))

    def b64(b):
        return base64.b64encode(b).decode()

    in_dir, out_dir, ckpt = tmp_path / "ain", tmp_path / "aout", tmp_path / "ackpt"
    in_dir.mkdir()
    now = time.time()

    def run_once():
        raw = scur.read_json_stream(
        spark, str(in_dir), scur.MEDIA_STREAM_SCHEMA, max_files_per_trigger=1
    )
        q = (
            scur.dedup_audio_stream(scur.decode_media_stream(raw))
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", str(out_dir))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write(
        str(in_dir / "b1.json"),
        [
            {"doc_id": "1", "content_b64": b64(payloads[1]),
             "ingest_ts": "2025-01-01 10:00:00"},
            {"doc_id": "9", "content_b64": b64(b"RIFF junk, not a container"),
             "ingest_ts": "2025-01-01 10:01:00"},
        ],
        now,
    )
    run_once()  # run 1: doc 1 admitted, junk dropped; then "kill"

    # doc 4: an AIFF container carrying doc 1's exact PCM — the two
    # audio container families share the digest space, so a cross-
    # container duplicate must also be rejected
    import struct

    from data_pipeline_example_spark.operators.multimodal import decode_wav

    rate, _ch, samples = decode_wav(payloads[1])
    assert rate == 16000
    comm = struct.pack(">HIH", 1, len(samples), 16) + bytes.fromhex(
        "400CFA00000000000000"  # 16 kHz as 80-bit extended
    )
    ssnd = struct.pack(">II", 0, 0) + struct.pack(
        ">%dh" % len(samples), *samples
    )
    body = (b"AIFF"
            + b"COMM" + struct.pack(">I", len(comm)) + comm
            + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd)
    aiff_twin = b"FORM" + struct.pack(">I", len(body)) + body

    _write(
        str(in_dir / "b2.json"),
        [
            {"doc_id": "2", "content_b64": b64(payloads[2]),
             "ingest_ts": "2025-01-01 10:20:00"},
            {"doc_id": "3", "content_b64": b64(payloads[3]),
             "ingest_ts": "2025-01-01 10:21:00"},
            {"doc_id": "4", "content_b64": b64(aiff_twin),
             "ingest_ts": "2025-01-01 10:22:00"},
        ],
        now + 2,
    )
    run_once()  # resume: recovered state must still reject docs 2 and 4

    out = spark.read.parquet(str(out_dir)).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], set()).add(r["window_digest"])
    assert set(by_doc) == {1, 3}  # 2 and 4 fully rejected, 9 dropped

    # pin to the batch anchor: wav_dup_windows flags exactly the
    # digests doc 2 duplicated, with doc 1 as the first occurrence —
    # and those are exactly the admitted doc-1 digests
    anchor = mm.wav_dup_windows(docs).collect()
    assert {r["window_digest"] for r in anchor} == by_doc[1]
    assert all(r["first_doc"] == 1 and r["n_docs"] == 2 for r in anchor)
    # admitted window counts equal the closed-form fan-out
    for doc_id in (1, 3):
        _sr, n, _s = _wav_form(docs, doc_id)
        assert len(by_doc[doc_id]) == n  # window_ms=1 at 16/22 kHz → spw>n? no
    assert by_doc[1].isdisjoint(by_doc[3])


def _wav_form(docs, doc_id):
    """Closed-form (sample_rate, n_windows, n_samples) for attach_wav
    payloads at window_ms=1 (spw = rate//1000)."""
    text = {r["doc_id"]: r["text"] for r in docs.collect()}[doc_id]
    rates = (8000, 16000, 22050, 44100)
    sr = rates[len(text) % 4]
    n_samples = len(text) % 37 + 3
    spw = max(sr // 1000, 1)
    n_windows = (n_samples + spw - 1) // spw
    return sr, n_windows, n_samples


def test_dedup_lines_stream_suppresses_boilerplate_across_batches(spark, tmp_path):
    """Streaming line dedup: a boilerplate line re-arriving in a LATER
    micro-batch is rejected; distinct lines are admitted; short lines
    are never keyed (and never emitted)."""
    banner = "please accept our cookie policy before continuing here"
    body1 = "first document body line with several unique words"
    body2 = "second document body line with different unique words"

    in_dir, out_dir, ckpt = tmp_path / "lin", tmp_path / "lout", tmp_path / "lckpt"
    in_dir.mkdir()
    now = time.time()
    _write_docs(
        str(in_dir / "b1.json"),
        [{"doc_id": "1", "text": f"{banner}\n{body1}\nTitle",
          "ingest_ts": "2025-01-01 10:00:00"}],
        now,
    )
    _write_docs(
        str(in_dir / "b2.json"),
        [{"doc_id": "2", "text": f"{banner}\n{body2}",
          "ingest_ts": "2025-01-01 10:05:00"}],
        now + 1,
    )

    stream = sc.decode_doc_stream(
        sc.read_json_stream(spark, str(in_dir), sc.DOC_SCHEMA, max_files_per_trigger=1)
    )
    admitted = sc.dedup_lines_stream(stream, watermark="1 hour")
    q = (
        admitted.writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = spark.read.parquet(str(out_dir))
    rows = {(r["doc_id"], r["line"]) for r in out.collect()}
    # banner admitted once (doc 1's arrival); doc 2's copy rejected
    assert (1, banner) in rows
    assert (2, banner) not in rows
    # substantive body lines admitted from both docs
    assert (1, body1) in rows and (2, body2) in rows
    # short structural line never keyed nor emitted
    assert all(line != "Title" for _, line in rows)
    # line_hash is carried for downstream indexing
    assert out.filter("line_hash is null").count() == 0


def test_gate_agreement_stream_matches_batch_census_across_restart(spark, tmp_path):
    """Streaming inter-gate kappa monitor: per-window rows equal the
    batch ``text.gate_agreement`` on the same documents (shared
    gate_flags/agreement_aggs expressions), windows finalize append-only
    at watermark close, and a checkpoint RESTART with a late third file
    completes the remaining window without re-emitting closed ones."""
    from data_pipeline_example_spark.operators import text as text_ops

    docs_w1 = [
        {"doc_id": "1", "text": "the quick brown fox jumps over the lazy dog and keeps running. " * 30,
         "ingest_ts": "2025-01-01 10:00:00"},
        {"doc_id": "2", "text": "tiny", "ingest_ts": "2025-01-01 10:10:00"},
    ]
    docs_w2 = [
        {"doc_id": "3", "text": "a completely different well formed document with many words flowing nicely along. " * 25,
         "ingest_ts": "2025-01-01 11:30:00"},
        {"doc_id": "4", "text": "{ broken markup page", "ingest_ts": "2025-01-01 11:40:00"},
    ]
    # the closer: far enough past both windows + watermark to seal them
    closer = [{"doc_id": "9", "text": "closer doc", "ingest_ts": "2025-01-01 14:30:00"}]

    in_dir, out_dir, ckpt = tmp_path / "gin", tmp_path / "gout", tmp_path / "gckpt"
    in_dir.mkdir()
    now = time.time()
    _write_docs(str(in_dir / "b1.json"), docs_w1, now)
    _write_docs(str(in_dir / "b2.json"), docs_w2, now + 1)

    def run():
        stream = sc.decode_doc_stream(
            sc.read_json_stream(spark, str(in_dir), sc.DOC_SCHEMA, max_files_per_trigger=1)
        )
        q = (
            sc.gate_agreement_stream(stream, window="1 hour", watermark="10 minutes")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", str(out_dir))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    first = spark.read.parquet(str(out_dir))
    # only window 1 is past the watermark after file b2
    assert {r["window_start"].hour for r in first.collect()} == {10}

    # restart with the closer file: window 2 finalizes, window 1 is NOT re-emitted
    _write_docs(str(in_dir / "b3.json"), closer, now + 2)
    run()
    out = spark.read.parquet(str(out_dir)).collect()
    assert sorted({r["window_start"].hour for r in out}) == [10, 11]
    assert len([r for r in out if r["window_start"].hour == 10]) == 6  # once

    # streamed rows == the batch census over each window's documents
    for hour, docs in ((10, docs_w1), (11, docs_w2)):
        batch = spark.createDataFrame(
            [(int(d["doc_id"]), d["text"]) for d in docs],
            "doc_id long, text string",
        )
        want = {
            (r["gate_a"], r["gate_b"]): (
                r["n_docs"], r["n_both"], r["n_neither"],
                r["agree_milli"], r["kappa_milli"],
            )
            for r in text_ops.gate_agreement(batch).collect()
        }
        got = {
            (r["gate_a"], r["gate_b"]): (
                r["n_docs"], r["n_both"], r["n_neither"],
                r["agree_milli"], r["kappa_milli"],
            )
            for r in out if r["window_start"].hour == hour
        }
        assert got == want


def test_unicode_clean_stream_strips_and_rejects_across_batches(spark, tmp_path):
    """Streaming Unicode-hygiene admission over two micro-batches:
    zero-width fingerprints and C0 controls are stripped in place,
    U+FFFD mojibake lines are dropped, mostly-mojibake docs are
    rejected outright — and the admitted text equals the batch
    ``text.unicode_clean`` output for the same documents (shared
    expression contract)."""
    from data_pipeline_example_spark.operators import text as text_ops

    fingered = "tracked​ page body with a zero width fingerprint"
    noisy = "binary\x01contaminated\x1f but otherwise fine line here"
    in_dir, out_dir, ckpt = tmp_path / "uin", tmp_path / "uout", tmp_path / "uckpt"
    in_dir.mkdir()
    now = time.time()
    _write_docs(
        str(in_dir / "b1.json"),
        [{"doc_id": "1", "text": f"good first line\nmojibake � line\n{fingered}",
          "ingest_ts": "2025-01-01 10:00:00"}],
        now,
    )
    _write_docs(
        str(in_dir / "b2.json"),
        [{"doc_id": "2", "text": noisy, "ingest_ts": "2025-01-01 10:05:00"},
         {"doc_id": "3", "text": "�\n�\n�\nlone survivor",
          "ingest_ts": "2025-01-01 10:05:01"}],
        now + 1,
    )

    stream = sc.decode_doc_stream(
        sc.read_json_stream(spark, str(in_dir), sc.DOC_SCHEMA, max_files_per_trigger=1)
    )
    q = (
        sc.unicode_clean_stream(stream)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = {r["doc_id"]: r for r in spark.read.parquet(str(out_dir)).collect()}
    assert sorted(out) == [1, 2]  # doc 3 is 3/4 mojibake → rejected
    assert out[1]["text"] == "good first line\n" + fingered.replace("​", "")
    assert (out[1]["n_lines_dropped"], out[1]["n_chars_removed"]) == (1, 1)
    assert out[2]["text"] == noisy.replace("\x01", "").replace("\x1f", "")
    assert out[2]["n_chars_removed"] == 2

    # streamed == batch: the shared-expression contract
    batch = spark.createDataFrame(
        [(1, f"good first line\nmojibake � line\n{fingered}"),
         (2, noisy), (3, "�\n�\n�\nlone survivor")],
        "doc_id long, text string",
    )
    expect = {r["doc_id"]: r["text_clean"]
              for r in text_ops.unicode_clean(batch).collect()}
    assert {k: v["text"] for k, v in out.items()} == expect


def test_budget_admission_stream_enforces_quota_across_batches(spark, tmp_path):
    """Per-source token budget (budget=10): batch 1 admits 4+5 tokens
    for s1; batch 2's 3-token doc must be REJECTED from the recovered
    state (9+3>10) while a 1-token doc still fits (=10); a second
    source's quota is independent; missing source falls back to
    'unknown'."""
    import json as _json
    import os as _os
    import time as _time

    from data_pipeline_example_spark.streaming import curation as sc

    in_dir, ckpt = tmp_path / "in", tmp_path / "ckpt"
    in_dir.mkdir()
    now = _time.time()

    def write(name, rows, mtime):
        p = str(in_dir / name)
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _os.utime(p, (mtime, mtime))

    write("b1.json", [
        {"doc_id": "1", "source": "s1", "text": "a b c d"},
        {"doc_id": "2", "source": "s1", "text": "a b c d e"},
        {"doc_id": "3", "source": "s2", "text": "x y z"},
    ], now - 30)
    write("b2.json", [
        {"doc_id": "4", "source": "s1", "text": "p q r"},
        {"doc_id": "5", "source": "s1", "text": "q"},
        {"doc_id": "6", "text": "u v w"},
    ], now)

    schema = "doc_id string, source string, text string"
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    out = sc.budget_admission_stream(raw, budget=10)
    q = (
        out.writeStream.format("memory")
        .queryName("budget_admission")
        .outputMode("update")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["doc_id"]: r for r in spark.sql(
        "SELECT * FROM budget_admission").collect()}
    assert rows[1]["admitted"] == 1 and rows[1]["n_tokens"] == 4
    assert rows[2]["admitted"] == 1  # 4+5 = 9 ≤ 10
    assert rows[3]["admitted"] == 1 and rows[3]["source"] == "s2"
    assert rows[4]["admitted"] == 0  # 9+3 > 10: state crossed batches
    assert rows[5]["admitted"] == 1  # 9+1 = 10 exactly fits
    assert rows[6]["source"] == "unknown" and rows[6]["admitted"] == 1


def test_budget_admission_state_survives_checkpoint_restart(spark, tmp_path):
    """Custom-state restart recovery (the applyInPandasWithState analogue
    of T5): run the admission query to completion, STOP it, append new
    input, restart the SAME query from the SAME checkpoint. Batch-2
    decisions must be made against the RECOVERED spent totals (9+3>10
    rejected, 9+1=10 admitted), and batch-1 rows must not be re-emitted
    (exactly-once across the restart)."""
    import json as _json
    import os as _os
    import time as _time

    from data_pipeline_example_spark.streaming import curation as sc

    in_dir, out_dir, ckpt = tmp_path / "in", str(tmp_path / "out"), str(tmp_path / "ckpt")
    in_dir.mkdir()
    now = _time.time()

    def write(name, rows, mtime):
        p = str(in_dir / name)
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _os.utime(p, (mtime, mtime))

    def run_once():
        schema = "doc_id string, source string, text string"
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir))
        )
        out = sc.budget_admission_stream(raw, budget=10)
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write("b1.json", [
        {"doc_id": "1", "source": "s1", "text": "a b c d"},
        {"doc_id": "2", "source": "s1", "text": "a b c d e"},
    ], now - 30)
    run_once()  # s1 spends 4+5 = 9 of 10; query STOPPED (drained)
    first = {r["doc_id"]: r["admitted"] for r in spark.read.parquet(out_dir).collect()}
    assert first == {1: 1, 2: 1}

    write("b2.json", [
        {"doc_id": "3", "source": "s1", "text": "p q r"},
        {"doc_id": "4", "source": "s1", "text": "q"},
    ], now)
    run_once()  # restart from checkpoint: state must say used=9
    rows = [
        (r["doc_id"], r["admitted"]) for r in spark.read.parquet(out_dir).collect()
    ]
    # exactly-once: batch-1 rows exactly once each, never re-emitted
    assert sorted(rows) == [(1, 1), (2, 1), (3, 0), (4, 1)]


def test_countmin_stream_state_survives_restart_and_equals_batch(spark, tmp_path):
    """The streamed CM sketch is additive across micro-batches AND
    across a checkpoint stop/restart: after feeding two batches in two
    separate query runs, the final cells equal a brute-force one-shot
    sketch of ALL docs (merge-order independence — the property that
    makes CM the right streaming counter), and state stays
    O(depth*width)."""
    import hashlib
    import json as _json
    import os as _os
    import re as _re
    import time as _time
    from collections import Counter

    from pyspark.sql import functions as F

    from data_pipeline_example_spark.streaming import curation as sc

    in_dir, out_dir, ckpt = (
        tmp_path / "in",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    in_dir.mkdir()
    now = _time.time()
    depth, width = 3, 16

    def write(name, rows, mtime):
        p = str(in_dir / name)
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _os.utime(p, (mtime, mtime))

    def run_once():
        raw = (
            spark.readStream.schema("doc_id string, text string")
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir))
        )
        out = sc.countmin_stream(raw, depth=depth, width=width)
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: df.withColumn(
                    "eid", F.lit(eid)
                ).write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    b1 = [
        {"doc_id": "1", "text": "alpha beta beta gamma"},
        {"doc_id": "2", "text": "alpha delta"},
    ]
    b2 = [{"doc_id": "3", "text": "beta gamma gamma epsilon alpha"}]
    write("b1.json", b1, now - 30)
    run_once()
    write("b2.json", b2, now)
    run_once()  # restart from checkpoint — cells must resume, not reset

    rows = spark.read.parquet(out_dir).collect()
    last = {}
    for r in rows:
        if r["i"] not in last or r["eid"] > last[r["i"]]["eid"]:
            last[r["i"]] = r
    assert set(last) == set(range(depth))

    counts = Counter(
        t
        for d in b1 + b2
        for t in _re.findall(r"[a-z0-9]+", d["text"].lower())
    )
    for i in range(depth):
        cells = [0] * width
        for term, n in counts.items():
            b = (
                int(hashlib.md5(f"{i}:{term}".encode()).hexdigest()[:8], 16)
                % width
            )
            cells[b] += n
        got = last[i]
        assert list(got["cells"]) == cells, i
        assert got["mass"] == sum(cells)
        assert got["max_cell"] == max(cells)
        assert got["nonzero_cells"] == sum(1 for c in cells if c > 0)
        assert len(got["cells"]) == width  # state bound: width longs/row


def _bloom_replay(texts_in_order, k_hashes, m_local):
    """Pure-Python replay of bloom_admission_stream's md5 bit
    arithmetic — the determinism oracle: same fingerprint, same
    positions, same test-then-set order."""
    import hashlib

    def fp(text):
        return hashlib.md5(" ".join(text.lower().strip().split()).encode()).hexdigest()

    def positions(f):
        return [
            int(hashlib.md5(f"{i}:{f}".encode()).hexdigest()[:8], 16) % m_local
            for i in range(k_hashes)
        ]

    bits = bytearray(m_local // 8)
    admitted = []
    for t in texts_in_order:
        ps = positions(fp(t))
        seen = all(bits[p // 8] & (1 << (p % 8)) for p in ps)
        if not seen:
            for p in ps:
                bits[p // 8] |= 1 << (p % 8)
        admitted.append(0 if seen else 1)
    return admitted


def test_bloom_admission_no_false_negatives_and_pinned_fp_set(spark, tmp_path):
    """Bloom admission with a DELIBERATELY tiny filter (m=128 bits,
    k=2, one bucket) over 40 distinct docs + 2 exact dups: every true
    duplicate is dropped (one-sided error — no false negatives), and
    the full admitted/dropped vector equals the pure-Python replay of
    the same md5 arithmetic, pinning the false-positive SET, not just
    its rate."""
    import json as _json
    import os as _os
    import time as _time

    from data_pipeline_example_spark.streaming import curation as sc

    in_dir, ckpt = tmp_path / "in", tmp_path / "ckpt"
    in_dir.mkdir()
    now = _time.time()

    def write(name, rows, mtime):
        p = str(in_dir / name)
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _os.utime(p, (mtime, mtime))

    texts = [f"word{i} body{i}" for i in range(40)]
    b1 = [{"doc_id": str(i), "text": texts[i]} for i in range(20)]
    # batch 2: rest of the novels + exact dups of docs 0 and 5
    b2 = [{"doc_id": str(i), "text": texts[i]} for i in range(20, 40)]
    b2 += [
        {"doc_id": "100", "text": texts[0]},
        {"doc_id": "101", "text": "  " + texts[5].upper() + "  "},  # normalizes equal
    ]
    write("b1.json", b1, now - 30)
    write("b2.json", b2, now)

    raw = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    out = sc.bloom_admission_stream(raw, m_bits=128, k_hashes=2, n_buckets=1)
    q = (
        out.writeStream.format("memory")
        .queryName("bloom_admission")
        .outputMode("update")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r["doc_id"]: r["admitted"]
        for r in spark.sql("SELECT * FROM bloom_admission").collect()
    }
    # replay order: batch 1 doc_id-sorted, then batch 2 doc_id-sorted
    # (doc ids 100/101 sort after 20..39 numerically — doc_id is long)
    order = [texts[i] for i in range(20)]
    order += [texts[i] for i in range(20, 40)] + [texts[0], texts[5]]
    want = _bloom_replay(order, k_hashes=2, m_local=128)
    got = [rows[i] for i in range(20)]
    got += [rows[i] for i in range(20, 40)] + [rows[100], rows[101]]
    assert got == want
    # one-sided error: the true dups can never be admitted
    assert rows[100] == 0 and rows[101] == 0
    # the tiny filter must actually be exercising collisions: at this
    # load (40 keys x 2 bits into 128 slots) the deterministic md5
    # family produces exactly 4 false positives among the 40 novels
    assert sum(want) == 36


def test_bloom_admission_state_survives_checkpoint_restart(spark, tmp_path):
    """Restart recovery: a duplicate arriving AFTER a stop/restart is
    still dropped from the recovered bit array (T5 for the bloom
    state), and batch-1 rows are not re-emitted."""
    import json as _json
    import os as _os
    import time as _time

    from data_pipeline_example_spark.streaming import curation as sc

    in_dir, out_dir, ckpt = (
        tmp_path / "in", str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    in_dir.mkdir()
    now = _time.time()

    def write(name, rows, mtime):
        p = str(in_dir / name)
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _os.utime(p, (mtime, mtime))

    def run_once():
        raw = (
            spark.readStream.schema("doc_id string, text string")
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir))
        )
        out = sc.bloom_admission_stream(raw, m_bits=65536, k_hashes=3, n_buckets=8)
        q = (
            out.writeStream.foreachBatch(
                lambda df, eid: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write("b1.json", [
        {"doc_id": "1", "text": "alpha beta gamma"},
        {"doc_id": "2", "text": "delta epsilon zeta"},
    ], now - 30)
    run_once()
    r1 = {r["doc_id"]: r["admitted"]
          for r in spark.read.parquet(out_dir).collect()}
    assert r1 == {1: 1, 2: 1}

    write("b2.json", [
        {"doc_id": "3", "text": "ALPHA  beta   gamma"},  # dup of 1 normalized
        {"doc_id": "4", "text": "eta theta iota"},       # novel
    ], now)
    run_once()  # restart from checkpoint: bits must be recovered
    rows = sorted(
        (r["doc_id"], r["admitted"])
        for r in spark.read.parquet(out_dir).collect()
    )
    # recovered bits drop the dup; batch-1 rows emitted exactly once
    assert rows == [(1, 1), (2, 1), (3, 0), (4, 1)]
