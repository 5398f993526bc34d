"""LLM-operator checks DuckDB can't arbitrate (SURVEY.md §5.2):
MinHash-LSH recall vs exact Jaccard, SimHash near-dup behavior, ANN bucket
recall vs brute force, and the multimodal pandas-stage contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mric_bak_etl_spark.llm.dedup import (
    corpus_with_near_dups,
    exact_jaccard,
    lsh_candidate_pairs,
    minhash_lsh,
    minhash_signatures,
    ngram_jaccard,
    shingle_hashes,
    simhash_pairs,
)
from mric_bak_etl_spark.llm.multimodal import (
    decode_media,
    feature_extract,
    media_table,
)
from mric_bak_etl_spark.llm.similarity import ann_lsh_bucket, cosine_topk


def test_corpus_injects_known_near_dups(spark, sf_dir):
    corpus = corpus_with_near_dups(spark, sf_dir)
    n_docs = corpus.filter(F.col("doc_id") < 1_000_000).count()
    n_variants = corpus.filter(F.col("doc_id") >= 1_000_000).count()
    assert n_variants == spark.range(0).count() + (n_docs + 9) // 10


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    # Every injected variant pair (doc, doc+1M) has Jaccard ≳ 0.8; with
    # 4 bands × 4 rows the collision probability at j=0.8 is
    # 1-(1-0.8^4)^4 ≈ 0.93 per pair — demand ≥ 80% recall overall, and
    # require that everything LSH returns is truly ≥ the 0.5 threshold
    # (precision 1.0 by construction: pairs are exact-verified).
    lsh = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh(spark, sf_dir).collect()}
    exact = {(r["doc_a"], r["doc_b"]) for r in ngram_jaccard(spark, sf_dir).collect()}
    assert lsh <= exact  # verify step guarantees no false positives
    assert len(exact) > 0
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall:.2f} over {len(exact)} true pairs"


def test_lsh_candidate_stage_does_not_flood(spark, sf_dir):
    # A banding bug that floods candidates would hide behind the exact
    # verify (final output stays correct) while silently exploding the
    # verify-stage workload — the O(n²) the bucketed design exists to
    # avoid. Bound candidate VOLUME and demand candidate PRECISION
    # (measured at sf0.01: 75 candidates / 550 docs, precision 1.0).
    corpus = corpus_with_near_dups(spark, sf_dir)
    n_docs = corpus.count()
    sh = corpus.select("doc_id", shingle_hashes().alias("sh"))
    cands = lsh_candidate_pairs(minhash_signatures(sh))
    n_cands = cands.count()
    assert n_cands <= 0.5 * n_docs, f"candidate flood: {n_cands} pairs for {n_docs} docs"
    n_true = exact_jaccard(sh, cands).filter(F.col("jaccard") >= 0.5).count()
    assert n_true >= 0.5 * n_cands, (
        f"candidate precision {n_true}/{n_cands} — banding is admitting junk"
    )


def test_minhash_signature_shape(spark, sf_dir):
    sh = corpus_with_near_dups(spark, sf_dir).select(
        "doc_id", shingle_hashes().alias("sh")
    )
    sigs = minhash_signatures(sh)
    assert len([c for c in sigs.columns if c.startswith("mh_")]) == 16
    # Signatures are deterministic across evaluations.
    a = sorted(map(tuple, sigs.collect()))
    b = sorted(map(tuple, sigs.collect()))
    assert a == b


def test_simhash_flags_injected_variants(spark, sf_dir):
    pairs = simhash_pairs(spark, sf_dir).collect()
    flagged = {(r["doc_a"], r["doc_b"]) for r in pairs}
    injected = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard(spark, sf_dir)
        .filter((F.col("doc_b") - F.col("doc_a") == 1_000_000) & (F.col("jaccard") >= 0.8))
        .collect()
    }
    assert injected, "fixture should contain high-jaccard variant pairs"
    hit = len(flagged & injected) / len(injected)
    # 32-bit simhash on near-identical token multisets: most variant
    # pairs land within hamming ≤ 2.
    assert hit >= 0.6, f"simhash hit-rate {hit:.2f}"


def test_ann_bucket_subset_of_brute_force_scores(spark, sf_dir):
    brute = {r["vec_id"]: r["cosine"] for r in cosine_topk(spark, sf_dir).collect()}
    ann = {r["vec_id"]: r["cosine"] for r in ann_lsh_bucket(spark, sf_dir).collect()}
    # ANN scores are exact cosines (pruning only affects candidate set).
    for vec_id, cos in ann.items():
        if vec_id in brute:
            assert abs(brute[vec_id] - cos) < 1e-9
    # The query's own bucket must recover a decent share of the true top-k.
    assert len(set(ann) & set(brute)) >= 3


def test_media_decode_bmp_real_and_others_stubbed(spark, sf_dir):
    # Non-BMP payloads and non-image types still raise (the codec-lib
    # hook), but a real uncompressed 24-bit BMP round-trips: build ->
    # parse -> fields match the spec geometry, including the 4-byte row
    # padding and a non-multiple-of-4 width.
    from mric_bak_etl_spark.llm.multimodal import make_bmp

    with pytest.raises(NotImplementedError):
        decode_media(b"bytes", "image")
    # audio: non-RIFF payloads are a missing codec (mp3 etc.); a RIFF
    # blob that fails validation is corruption, not a missing codec
    # (the WAV branch is real since m9 — see test_wav_decode_* below).
    with pytest.raises(NotImplementedError):
        decode_media(b"ID3\x03mp3 frames...", "audio")
    with pytest.raises(ValueError):
        decode_media(b"RIFF....WAVE", "audio")
    bmp = make_bmp(b"pixel data source", width=5, height=3)
    got = decode_media(bmp, "image")
    stride = (5 * 3 + 3) // 4 * 4  # 15 -> 16
    assert got == {
        "width": 5,
        "height": 3,
        "bpp": 24,
        "image_size": stride * 3,
        "file_size": 54 + stride * 3,
        "offset": 54,
        "row_stride": stride,
        "top_down": False,
    }
    assert len(bmp) == got["file_size"]
    # Truncated/corrupt declared sizes must be rejected, not decoded.
    with pytest.raises(ValueError):
        decode_media(bmp + b"\x00", "image")
    # biSizeImage = 0 is spec-legal for BI_RGB — must decode, with the
    # size derived from the padded row stride.
    zeroed = bmp[:34] + b"\x00\x00\x00\x00" + bmp[38:]
    assert decode_media(zeroed, "image") == got
    # Unsupported depth is a missing codec (NotImplementedError), not
    # corruption: flip bpp to 32 (sizes made consistent are irrelevant —
    # the depth check fires first).
    bpp32 = bmp[:28] + b"\x20\x00" + bmp[30:]
    with pytest.raises(NotImplementedError):
        decode_media(bpp32, "image")
    # Degenerate geometry: width <= 0 or height == 0 makes every size
    # cross-check vacuously consistent (stride 0, image_size 0) — these
    # SELF-CONSISTENT 54-byte files must still be rejected as corrupt.
    import struct

    def _degenerate(width: int, height: int) -> bytes:
        return (
            b"BM"
            + struct.pack("<III", 54, 0, 54)
            + struct.pack("<IiiHHII", 40, width, height, 1, 24, 0, 0)
            + struct.pack("<iiII", 0, 0, 0, 0)
        )

    for w, h in ((0, 3), (-5, 3), (5, 0), (0, 0)):
        with pytest.raises(ValueError, match="degenerate"):
            decode_media(_degenerate(w, h), "image")


def test_bmp_channel_sums_match_source_bytes(spark):
    """m8's planted cases: the per-channel sums recovered from the DECODED
    pixel array (padding stripped) equal the closed-form sums over the
    cycled source bytes — including text shorter than the pixel array
    (cycling), text longer (truncation), empty text (zero pixels), and a
    width whose row stride carries real padding bytes that must NOT be
    counted."""
    from mric_bak_etl_spark.llm.multimodal import _bmp_channel_row

    # doc_id picks geometry: w = id%16+1, h = id%8+1.
    cases = [
        (5, "abc"),          # w=6,h=6: need=108 ≫ 3 chars -> cycles
        (17, "x" * 500),     # w=2,h=2: need=12 ≪ 500 -> truncates
        (33, ""),            # w=2,h=2: empty -> zero-filled pixels
        (0, "hello world"),  # w=1,h=1: stride 4 carries 1 padding byte
    ]
    for mid, text in cases:
        w, h = mid % 16 + 1, mid % 8 + 1
        need = 3 * w * h
        raw = text.encode()
        src = (raw * (need // max(len(raw), 1) + 1))[:need] if raw else bytes(need)
        [(media_id, n_pixels, *sums)] = _bmp_channel_row(mid, raw)
        assert media_id == mid
        assert n_pixels == w * h
        assert tuple(sums) == (
            sum(src[0::3]), sum(src[1::3]), sum(src[2::3])
        ), (mid, text[:10])


def test_wav_decode_roundtrip_and_rejections():
    """m9's codec core: build → parse → fields match the spec geometry;
    corrupt containers are rejected loudly; non-PCM/non-16-bit are a
    missing codec. Pure Python — no Spark action."""
    import struct

    from mric_bak_etl_spark.llm.multimodal import (
        decode_media,
        make_wav,
        wav_channel_sums,
    )

    wav = make_wav(b"pcm source bytes!", n_channels=2, n_frames=5,
                   sample_rate=8000)
    got = decode_media(wav, "audio")
    assert got == {
        "n_channels": 2,
        "sample_rate": 8000,
        "bits_per_sample": 16,
        "n_frames": 5,
        "block_align": 4,
        "byte_rate": 32000,
        "data_offset": 44,
        "data_size": 20,
    }
    assert len(wav) == 44 + 20

    # Channel sums: signed LE int16, interleaved — recompute by hand.
    need = 5 * 2 * 2
    src = (b"pcm source bytes!" * 3)[:need]
    vals = struct.unpack(f"<{10}h", src)
    assert wav_channel_sums(wav) == [sum(vals[0::2]), sum(vals[1::2])]

    # Negative samples: high byte >= 0x80.
    neg = make_wav(b"\x00\xff\x00\x80", 1, 2, 8000)
    assert wav_channel_sums(neg) == [-256 + -32768]

    # Zero frames: spec-legal, zero sums.
    empty = make_wav(b"", 2, 0, 8000)
    assert decode_media(empty, "audio")["n_frames"] == 0
    assert wav_channel_sums(empty) == [0, 0]

    def corrupt(offset: int, fmt: str, value) -> bytes:
        b = bytearray(wav)
        struct.pack_into(fmt, b, offset, value)
        return bytes(b)

    with pytest.raises(ValueError):  # truncated data
        decode_media(wav[:-1], "audio")
    with pytest.raises(ValueError):  # trailing junk beyond RIFF size
        decode_media(wav + b"\x00", "audio")
    with pytest.raises(ValueError):  # RIFF size lies by one
        decode_media(corrupt(4, "<I", len(wav) - 7), "audio")
    with pytest.raises(ValueError):  # block_align inconsistent with nch
        decode_media(corrupt(32, "<H", 2), "audio")
    with pytest.raises(ValueError):  # byte_rate inconsistent with rate
        decode_media(corrupt(28, "<I", 8000), "audio")
    with pytest.raises(ValueError):  # data not a whole number of frames
        # mono 16-bit (block=2) with a 7-byte data chunk, every declared
        # size consistent (odd chunk gets its RIFF pad byte).
        odd = (
            b"RIFF" + struct.pack("<I", 36 + 8) + b"WAVEfmt "
            + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
            + b"data" + struct.pack("<I", 7) + b"\x01" * 7 + b"\x00"
        )
        decode_media(odd, "audio")
    with pytest.raises(ValueError):  # degenerate channels
        decode_media(corrupt(22, "<H", 0), "audio")
    with pytest.raises(NotImplementedError):  # IEEE float = missing codec
        decode_media(corrupt(20, "<H", 3), "audio")
    with pytest.raises(NotImplementedError):  # 8-bit = missing codec
        decode_media(corrupt(34, "<H", 8), "audio")


def test_wav_channel_sums_survive_extra_chunks():
    """The m8 coupling lesson applied to m9 from day one: a spec-legal
    JUNK chunk (odd size + RIFF pad byte) before `data` moves the data
    offset; sums must come from the DECODER's offset, unchanged."""
    import struct

    from mric_bak_etl_spark.llm.multimodal import (
        decode_media,
        make_wav,
        wav_channel_sums,
    )

    wav = make_wav(b"some pcm payload", 2, 6, 12000)
    base_sums = wav_channel_sums(wav)
    junk = b"JUNK" + struct.pack("<I", 5) + b"\x7f" * 5 + b"\x00"  # pad
    moved = bytearray(wav[:12] + junk + wav[12:])
    struct.pack_into("<I", moved, 4, len(moved) - 8)
    dec = decode_media(bytes(moved), "audio")
    assert dec["data_offset"] == 44 + len(junk)
    assert wav_channel_sums(bytes(moved)) == base_sums


def test_wav_window_stats_pinned():
    """m10's window math pinned against hand arithmetic: fixed 4-frame
    windows, last ragged; stats sliced at the decoder's layout so the
    JUNK-chunk test above covers the offset path transitively."""
    import struct

    from mric_bak_etl_spark.llm.multimodal import (
        make_wav,
        wav_window_stats,
    )

    wav = make_wav(b"hello!", 2, 6, 8000)
    vals = struct.unpack_from("<12h", wav, 44)
    expect = []
    for ch in range(2):
        chan = vals[ch::2]
        for w0 in (0, 4):
            win = chan[w0 : w0 + 4]
            expect.append((ch, w0 // 4, len(win), sum(win), max(win)))
    assert wav_window_stats(wav) == expect
    # Ragged tail is real: second window has only 2 frames.
    assert [t[2] for t in expect] == [4, 2, 4, 2]
    # Zero frames → no windows, not an error.
    assert wav_window_stats(make_wav(b"", 2, 0, 8000)) == []


def test_feature_extract_contract(spark, sf_dir):
    m = media_table(spark, sf_dir)
    assert dict(m.dtypes)["content"] == "binary"
    feats = feature_extract(spark, sf_dir)
    rows = feats.collect()
    assert len(rows) == m.count()
    # Deterministic across runs (no RNG, no partition dependence).
    again = feature_extract(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    r0 = next(r for r in rows if r["media_id"] == 0)
    assert 0.0 <= r0["mean_byte"] <= 1.0


def test_portable_feature_extract_equals_pandas_path(spark, sf_dir):
    """m2b's value-anchoring claim: the engine-neutral JVM arithmetic
    reproduces the mapInPandas byte math ROW FOR ROW, so the oracle-less
    m2 is verified transitively through the value-oracled m2b. Also pins
    the ASCII precondition the mirror depends on (payload bytes == text
    characters on the synthetic corpus)."""
    from pyspark.sql import functions as F

    from mric_bak_etl_spark.llm.multimodal import portable_feature_extract

    n_non_ascii = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(
            F.octet_length(F.encode("text", "UTF-8")) != F.length("text")
        )
        .count()
    )
    assert n_non_ascii == 0
    pandas_rows = sorted(
        map(tuple, feature_extract(spark, sf_dir).collect())
    )
    jvm_rows = sorted(
        map(tuple, portable_feature_extract(spark, sf_dir).collect())
    )
    assert pandas_rows == jvm_rows


def test_portable_wav_window_equals_pandas_path(spark, sf_dir):
    """m10b's value-anchoring claim, the m2/m2b pin applied to the audio
    window stats: the JVM HOF closed form reproduces the decode-then-
    window pandas path ROW FOR ROW, so a builder/decoder/window slip on
    either side breaks this pin even where the DuckDB oracle agrees
    with one of them."""
    from mric_bak_etl_spark.llm.multimodal import (
        portable_wav_window_stats,
        wav_window_query,
    )

    pandas_rows = sorted(
        map(tuple, wav_window_query(spark, sf_dir).collect())
    )
    jvm_rows = sorted(
        map(tuple, portable_wav_window_stats(spark, sf_dir).collect())
    )
    assert pandas_rows == jvm_rows


def test_zip_manifest_decoder_contract():
    """m12/m13 unit face: known bytes → exact sums; the self-extracting
    prefix shifts every offset (oracle-invisible layout — the decoder
    owns it); DEFLATED entries are REAL (inflated, size/CRC-checked,
    method-invariant sums) while exotic methods stay a MISSING CODEC."""
    import io
    import struct
    import zipfile

    from mric_bak_etl_spark.llm.multimodal import (
        decode_media,
        make_zip,
        zip_entry_byte_sums,
    )

    blob = make_zip(b"ab", [3, 2], prefix=b"\xfe\xfe", comment=b"c")
    dec = decode_media(blob, "archive")
    assert dec["prefix_len"] == 2 and dec["n_entries"] == 2
    assert [e["name"] for e in dec["entries"]] == ["e0.bin", "e1.bin"]
    # entry 0: bytes a,b,a → 97+98+97; entry 1 rotated by 1: b,a → 98+97
    assert zip_entry_byte_sums(blob, dec) == [(3, 292), (2, 195)]

    # The identical content deflated: sums are method-invariant (m13).
    dblob = make_zip(b"ab", [3, 2], prefix=b"\xfe\xfe", methods=[8, 8])
    ddec = decode_media(dblob, "archive")
    assert [e["method"] for e in ddec["entries"]] == [8, 8]
    assert zip_entry_byte_sums(dblob, ddec) == [(3, 292), (2, 195)]

    # zipfile-DEFLATED archives decode here, content agreed exactly.
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("x.txt", b"compress me " * 10)
    got = zip_entry_byte_sums(buf.getvalue())
    assert got == [(120, sum(b"compress me " * 10))]

    # An exotic method (12 = bzip2) is a missing codec, not corruption.
    exotic = bytearray(make_zip(b"ab", [3]))
    cd = decode_media(bytes(exotic), "archive")["cd_offset"]
    struct.pack_into("<H", exotic, cd + 10, 12)
    with pytest.raises(NotImplementedError, match="method"):
        decode_media(bytes(exotic), "archive")

    # Flag bit 3 (data descriptor): a zipfile write to a NON-SEEKABLE
    # stream zeroes the local sizes and appends descriptors, but the
    # central directory still carries the truth (APPNOTE 4.4.4) — such
    # spec-valid archives must decode, not read as corrupt (r11 ADVICE).
    class _Unseekable(io.RawIOBase):
        def __init__(self):
            self._buf = io.BytesIO()

        def writable(self):
            return True

        def write(self, b):
            return self._buf.write(b)

        def seekable(self):
            return False

    stream = _Unseekable()
    with zipfile.ZipFile(stream, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("streamed.txt", b"descriptor bytes " * 7)
    sblob = stream._buf.getvalue()
    sdec = decode_media(sblob, "archive")
    assert sdec["entries"][0]["name"] == "streamed.txt"
    assert zip_entry_byte_sums(sblob, sdec) == [
        (119, sum(b"descriptor bytes " * 7))
    ]

    # Name encodings (APPNOTE appendix D): zipfile flags non-ASCII
    # names UTF-8 (bit 11); unflagged names are cp437 — both byte-safe.
    ubuf = io.BytesIO()
    with zipfile.ZipFile(ubuf, "w") as zf:
        zf.writestr("café.txt", b"utf8 name")
    udec = decode_media(ubuf.getvalue(), "archive")
    assert udec["entries"][0]["name"] == "café.txt"
    # cp437 branch: patch 'e0.bin' → '\x82' ('é' in cp437) in BOTH the
    # local and central name copies of an unflagged archive.
    legacy = make_zip(b"ab", [3]).replace(b"e0.bin", b"\x820.bin")
    ldec = decode_media(legacy, "archive")
    assert ldec["entries"][0]["name"] == "é0.bin"
    # A lying UTF-8 flag over non-UTF-8 name bytes is corruption.
    lying = bytearray(legacy)
    lcd = ldec["cd_offset"]
    flags = struct.unpack_from("<H", lying, lcd + 8)[0]
    struct.pack_into("<H", lying, lcd + 8, flags | 0x800)
    with pytest.raises(ValueError, match="UTF-8"):
        decode_media(bytes(lying), "archive")


def test_ivf_scores_consistent_with_brute_force(spark, sf_dir):
    from mric_bak_etl_spark.llm.similarity import ivf_topk

    brute = {r["vec_id"]: r["cosine"] for r in cosine_topk(spark, sf_dir).collect()}
    ivf = {r["vec_id"]: r["cosine"] for r in ivf_topk(spark, sf_dir).collect()}
    # Any vector IVF returns that brute force also ranked must carry the
    # identical exact score (IVF prunes candidates, never rescores).
    for vec_id, cos in ivf.items():
        if vec_id in brute:
            assert abs(brute[vec_id] - cos) < 1e-9
    assert len(ivf) == 10


def test_chunking_edge_cases(spark):
    """Chunk fan-out on boundary inputs: single token, exactly one chunk,
    exactly chunk+1 tokens, and a multi-chunk tail shorter than stride."""
    from mric_bak_etl_spark.llm.text import CHUNK_STRIDE, CHUNK_TOKENS, chunk_documents

    rows = [
        (1, "solo"),
        (2, " ".join(f"w{i}" for i in range(CHUNK_TOKENS))),      # exactly 1 chunk
        (3, " ".join(f"w{i}" for i in range(CHUNK_TOKENS + 1))),  # spills into 2nd
        (4, " ".join(f"w{i}" for i in range(CHUNK_TOKENS + CHUNK_STRIDE * 2 + 3))),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["chunk_no"]): r["n_chunk_tokens"]
        for r in chunk_documents(d).collect()
    }
    assert got[(1, 0)] == 1 and (1, 1) not in got
    assert got[(2, 0)] == CHUNK_TOKENS and (2, 1) not in got
    assert got[(3, 0)] == CHUNK_TOKENS and got[(3, 1)] == CHUNK_TOKENS + 1 - CHUNK_STRIDE
    # doc 4: 83 tokens → 4 chunks; 0-2 full, 3 = clamped 11-token tail
    n4 = CHUNK_TOKENS + CHUNK_STRIDE * 2 + 3
    assert got[(4, 0)] == got[(4, 1)] == got[(4, 2)] == CHUNK_TOKENS
    assert got[(4, 3)] == n4 - 3 * CHUNK_STRIDE
    assert (4, 4) not in got


def test_pq_self_retrieval_and_candidate_recall(spark, duck, sf_dir):
    """l3e: the query's own vector must rank FIRST by ADC distance
    (quantization error is minimal against itself), and widening the
    ADC candidate list must recover a floor of the exact-L2 top-10 —
    a codebook/encode mismatch would send recall to ~0."""
    from mric_bak_etl_spark.catalog import all_specs

    spec = all_specs()["l3e_pq_topk"]
    top = spec.builder(spark, sf_dir).collect()
    assert top[0]["vec_id"] == 0  # self-retrieval sanity

    exact = {
        r[0]
        for r in duck.execute(
            """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
            SELECT e.vec_id FROM e, q WHERE e.vec_id <> 0
            ORDER BY list_sum(list_transform(range(1, 65),
                     i -> (e.v[i]-q.qv[i])^2)), e.vec_id
            LIMIT 10
            """
        ).fetchall()
    }
    pq50 = {
        r[0]
        for r in duck.execute(
            spec.oracle.replace("LIMIT 10", "LIMIT 51")
        ).fetchall()
    }
    # Floor, not a target: isotropic random vectors are PQ's worst case.
    assert len(exact & pq50) >= 2


def test_exact_substring_dedup_planted(spark, tmp_path):
    """l29 on a planted corpus: a pair sharing one 45-char substring
    yields exactly 6 shared 40-char windows; a 39-char share yields
    nothing (window-length boundary); a 40-char boilerplate window
    shared by 60 docs exceeds L29_STOP_CAP and must produce ZERO pairs
    (the hot-window guard, not a quadratic pair set)."""
    from mric_bak_etl_spark.llm.dedup import L29_STOP_CAP, L29_WIN

    assert L29_WIN == 40 and L29_STOP_CAP == 50  # planted sizes assume these

    # Every doc is framed by runs of a character UNIQUE to that frame
    # (CJK pool), so a 40-char window either sits fully inside a planted
    # shared span or contains a doc-unique char — no accidental shares,
    # and no boundary bleed extending a planted span (the first draft of
    # this test used structured ASCII fillers whose token suffixes
    # collided across docs and inflated every count).
    pool = iter(chr(0x4E00 + k) for k in range(200))

    def frame(n=50):
        return next(pool) * n

    shared45 = "S" * 20 + "HARED-SPAN-" + "Q" * 14  # 45 chars
    assert len(shared45) == 45
    shared39 = "T" * 28 + "HIRTYNINE--"  # 39 chars
    assert len(shared39) == 39
    boiler40 = "B" * 29 + "OILERPLATE+"  # 40 chars
    assert len(boiler40) == 40

    rows = [
        (1, frame() + shared45 + frame()),
        (2, frame() + shared45 + frame()),
        (3, frame() + frame()),
        (70, frame() + shared39 + frame()),
        (71, frame() + shared39 + frame()),
    ] + [(100 + i, boiler40 + frame()) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "planted_sf")
    df.coalesce(1).write.parquet(d + "/documents.parquet")

    from mric_bak_etl_spark.catalog import all_specs

    out = all_specs()["l29_exact_substring_dedup"].builder(spark, d).collect()
    got = {(r["doc_a"], r["doc_b"]): r["n_shared_windows"] for r in out}
    assert got == {(1, 2): 6}, got

    # l32 on the same planted corpus: the star-reduced union-find must
    # find exactly the {1, 2} cluster — the 60 boilerplate docs share a
    # window but it exceeds L29_STOP_CAP, so no mega-cluster appears.
    cl = all_specs()["l32_substring_dup_clusters"].builder(spark, d).collect()
    clusters = {
        r["cluster_id"]: (r["n_members"], r["max_member"]) for r in cl
    }
    assert clusters == {1: (2, 2)}, clusters


def test_incremental_dedup_planted_classes(spark, sf_dir):
    """l38/l39 ground truth by construction: every fixture class must
    land in exactly its intended bucket — the parity test proves
    engine-equality, this proves both engines compute the RIGHT thing.
    """
    from mric_bak_etl_spark.catalog import all_specs

    # l38: re-shipped copies of %10==3 docs → all dup_corpus; the
    # twice-shipped ' rev' revisions → one kept + one dup_batch per
    # source doc; the ' v2' revisions → kept.
    rows = {
        r["status"]: r
        for r in all_specs()["l38_incremental_exact_dedup"]
        .builder(spark, sf_dir)
        .collect()
    }
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .selectExpr(
            "sum(case when doc_id % 10 = 3 then 1 else 0 end) AS n3",
            "sum(case when doc_id % 10 = 7 then 1 else 0 end) AS n7",
            "sum(case when doc_id % 10 = 5 then 1 else 0 end) AS n5",
        )
        .collect()[0]
    )
    assert rows["dup_corpus"]["n_docs"] == d["n3"]
    # per ' rev' hash: min new_id (+3M range) kept, max (+4M) dropped —
    # unless two base texts collide, which the fixtures don't have.
    assert rows["dup_batch"]["n_docs"] == d["n7"]
    assert rows["kept"]["n_docs"] == d["n7"] + d["n5"]
    assert rows["dup_batch"]["min_doc_id"] >= 4_000_000

    # l39: every truncated %10==1 doc must match its own source doc
    # (the planted pair), and no synthetic fresh doc (+7M) may match
    # anything.
    pairs = (
        all_specs()["l39_incremental_jaccard_neardup"]
        .builder(spark, sf_dir)
        .collect()
    )
    new_ids = {r["new_id"] for r in pairs}
    assert all(nid < 7_000_000 for nid in new_ids), "fresh doc matched"
    planted = {(r["new_id"], r["match_doc"]) for r in pairs}
    # The >=0.5 guarantee only holds when truncation keeps most
    # shingles: n tokens -> n-2 shingles, truncated -> n-7, so
    # jaccard ~ (n-7)/(n-2) >= 0.5 needs n >= 12; require 16 for slack
    # against array_distinct shrinkage on repetitive texts.
    n1 = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("doc_id % 10 = 1 AND size(split(text, '\\s+')) >= 16")
        .selectExpr("collect_list(doc_id) AS ids")
        .collect()[0]["ids"]
    )
    assert len(n1) > 0
    missing = [
        i for i in n1 if (i + 6_000_000, i) not in planted
    ]
    assert not missing, f"truncated docs missed their source: {missing[:5]}"


def test_banded_incremental_posting_cap(spark, sf_dir):
    """l40's document-frequency cap, proven on the index itself: the 40
    planted identical boilerplate docs produce band posting lists of
    length >= L40_BOILER_COPIES > L40_MAX_POSTING, and the capped index
    contains NO boilerplate doc — the hot posting list is bounded at
    index build, before any probe touches it (r5 verdict item 4)."""
    from pyspark.sql import functions as F

    from mric_bak_etl_spark.llm.dedup import (
        L40_BOILER_COPIES,
        L40_MAX_POSTING,
        _L40_BOILER_TEXT,
        band_hashes,
        bucket_sizes,
        minhash_signatures,
        shingle_hashes,
    )
    from mric_bak_etl_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    boiler = spark.range(L40_BOILER_COPIES).select(
        (F.col("id") + 8_000_000).alias("doc_id"),
        F.lit(_L40_BOILER_TEXT).alias("text"),
    )
    corpus_sh = d.unionByName(boiler).select(
        "doc_id", shingle_hashes().alias("sh")
    )
    # The gate l40 runs: bucket_sizes' posting count, capped at build.
    gated = bucket_sizes(
        band_hashes(minhash_signatures(corpus_sh)), "band", "band_hash"
    )
    sizes = gated.groupBy("band", "band_hash").agg(
        F.max("n").alias("n_docs"),
        F.max(F.col("doc_id") >= 8_000_000).alias("has_boiler"),
    )
    boiler_buckets = sizes.filter("has_boiler").collect()
    assert boiler_buckets, "boilerplate produced no buckets"
    assert all(r["n_docs"] >= L40_BOILER_COPIES for r in boiler_buckets)
    assert all(r["n_docs"] > L40_MAX_POSTING for r in boiler_buckets)
    capped = gated.filter(F.col("n") <= L40_MAX_POSTING)
    assert capped.filter(F.col("doc_id") >= 8_000_000).count() == 0


def test_banded_incremental_planted_classes(spark, sf_dir):
    """l40 output semantics: planted revisions are recovered through the
    band probe (recall >= 0.8 — banding is lossy by design, ~0.98/pair
    at the fixture's Jaccard), fresh docs match nothing, the boilerplate
    probe doc is dropped (cap), and every emitted pair carries exact
    Jaccard >= 0.5 (precision 1.0 by construction of the verify)."""
    from mric_bak_etl_spark.catalog import all_specs

    rows = (
        all_specs()["l40_incremental_banded_neardup"]
        .builder(spark, sf_dir)
        .collect()
    )
    assert rows, "no near-dup pairs emitted"
    assert all(r["jaccard"] >= 0.5 for r in rows)
    # boilerplate: neither the probe doc nor any planted copy appears
    assert all(r["new_id"] != 9_999_999 for r in rows)
    assert all(not 8_000_000 <= r["match_doc"] < 8_100_000 for r in rows)
    # fresh docs (+9.5M ids) match nothing
    assert all(not 9_500_000 <= r["new_id"] < 9_999_999 for r in rows)
    # recall on the planted revision class
    n4 = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("doc_id % 10 = 4")
        .count()
    )
    own = {
        r["new_id"] for r in rows if r["match_doc"] == r["new_id"] - 9_000_000
    }
    assert len(own) >= 0.8 * n4, f"band recall {len(own)}/{n4}"


def test_portable_minhash_matches_engine_private_semantics(spark, sf_dir):
    # l2f swaps the hash family (md5 strings vs xxhash64) but keeps the
    # pipeline: its verified pairs must be a subset of the exact ngram
    # ground truth with IDENTICAL jaccard values, and recall over the
    # true pair set must hold just like l2's (same 4×4 banding curve).
    from mric_bak_etl_spark.llm.dedup import portable_minhash_lsh

    l2f = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in portable_minhash_lsh(spark, sf_dir).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard(spark, sf_dir).collect()
    }
    assert set(l2f) <= set(exact)
    for pair, j in l2f.items():
        assert j == exact[pair], f"{pair}: {j} != {exact[pair]}"
    recall = len(set(l2f) & set(exact)) / len(exact)
    assert recall >= 0.8, f"portable LSH recall {recall:.2f}"


def test_portable_minhash_signatures_are_reproducible_off_spark(spark, sf_dir):
    # The POINT of the portable family: any engine (here plain Python
    # hashlib) recomputes the signature bit-for-bit from the shingle set.
    import hashlib

    from mric_bak_etl_spark.llm.dedup import (
        portable_minhash_signatures,
        shingles,
    )

    corpus = corpus_with_near_dups(spark, sf_dir)
    sh_tbl = corpus.select("doc_id", shingles().alias("sh")).limit(20)
    sigs = portable_minhash_signatures(sh_tbl).collect()
    sh_map = {r["doc_id"]: r["sh"] for r in sh_tbl.collect()}
    for row in sigs:
        sh = sh_map[row["doc_id"]]
        for i in range(16):
            expected = min(
                hashlib.md5(f"{i}:{s}".encode()).hexdigest() for s in sh
            )
            assert row[f"mh_{i}"] == expected


def test_portable_band_index_auditable_by_duckdb(spark, sf_dir, tmp_path, duck):
    # The 100 TB claim behind l2f: a sketch index PERSISTED by one engine
    # is consumable by another. Spark writes the (doc_id, band, band_hash)
    # band index to parquet; DuckDB reads that same parquet cold and
    # derives the candidate pair set — the two engines must agree exactly.
    from mric_bak_etl_spark.llm.dedup import (
        _pairs_from_bands,
        portable_band_hashes,
        portable_minhash_signatures,
        shingles,
    )

    corpus = corpus_with_near_dups(spark, sf_dir)
    sh_tbl = corpus.select("doc_id", shingles().alias("sh"))
    bands = portable_band_hashes(portable_minhash_signatures(sh_tbl))
    path = str(tmp_path / "band_index.parquet")
    bands.write.mode("overwrite").parquet(path)

    spark_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in _pairs_from_bands(spark.read.parquet(path)).collect()
    }
    duck_pairs = {
        tuple(r)
        for r in duck.execute(
            f"""
            SELECT DISTINCT a.doc_id, b.doc_id
            FROM read_parquet('{path}/*.parquet') a
            JOIN read_parquet('{path}/*.parquet') b
              ON a.band = b.band AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
            """
        ).fetchall()
    }
    assert spark_pairs == duck_pairs and len(spark_pairs) > 0


def test_portable_incremental_planted_classes(spark, sf_dir):
    """l40b mirrors l40's planted-class semantics on the md5 hash family:
    revisions recovered through the portable band probe (recall >= 0.8 —
    banding is lossy by design, identically on both engines), fresh docs
    match nothing, the boilerplate probe doc and every planted copy are
    dropped by the posting cap, and each emitted pair carries exact
    Jaccard >= 0.5."""
    from mric_bak_etl_spark.catalog import all_specs

    rows = (
        all_specs()["l40b_portable_incremental_neardup"]
        .builder(spark, sf_dir)
        .collect()
    )
    assert rows, "no near-dup pairs emitted"
    assert all(r["jaccard"] >= 0.5 for r in rows)
    assert all(r["new_id"] != 9_999_999 for r in rows)
    assert all(not 8_000_000 <= r["match_doc"] < 8_100_000 for r in rows)
    assert all(not 9_500_000 <= r["new_id"] < 9_999_999 for r in rows)
    n4 = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("doc_id % 10 = 4")
        .count()
    )
    own = {
        r["new_id"] for r in rows if r["match_doc"] == r["new_id"] - 9_000_000
    }
    assert len(own) >= 0.8 * n4, f"portable band recall {len(own)}/{n4}"


def test_portable_simhash_planted_and_structural(spark, sf_dir):
    """l2g structural contract: every emitted pair is doc_a < doc_b with
    hamming <= 2, pairs are distinct, and the planted truncated
    revisions (doc_id + 1M) are recovered at the deterministic rate the
    32-bit fingerprint yields on this fixture (~half; dropping 5 of ~55
    tokens flips > 2 bits for the rest — the same strictness knob l2c
    has, evaluated identically by both engines)."""
    from mric_bak_etl_spark.llm.dedup import SIMHASH_MAX_HAMMING, portable_simhash

    rows = portable_simhash(spark, sf_dir).collect()
    assert rows
    pairs = [(r["doc_a"], r["doc_b"]) for r in rows]
    assert len(pairs) == len(set(pairs))
    assert all(a < b for a, b in pairs)
    assert all(0 <= r["hamming"] <= SIMHASH_MAX_HAMMING for r in rows)
    n_planted = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("doc_id % 10 = 0")
        .count()
    )
    recovered = sum(1 for a, b in pairs if b - a == 1_000_000)
    assert recovered >= 0.35 * n_planted, f"{recovered}/{n_planted}"


def test_band_width_mismatch_fails_loudly(spark, sf_dir):
    """A signature whose slot count does not divide evenly into the
    requested band count must raise, not silently floor: 16 slots over
    3 bands would index only mh_0..mh_14, quietly dropping a slot and
    degrading LSH recall — the latent-composition class the
    mh_*-derived width fix targeted (round-8 ADVICE)."""
    import pytest
    from pyspark.sql import functions as F

    from mric_bak_etl_spark.llm.dedup import band_hashes, portable_band_hashes

    sig16 = spark.range(3).select(
        F.col("id").alias("doc_id"),
        *[F.lit(i).cast("long").alias(f"mh_{i}") for i in range(16)],
    )
    for fn in (band_hashes, portable_band_hashes):
        with pytest.raises(ValueError, match="band evenly"):
            fn(sig16, n_bands=3)
        with pytest.raises(ValueError, match="no mh_"):
            fn(sig16.select("doc_id"), n_bands=4)
    # the valid shapes still band: 16/4 (default) and 16/8
    assert band_hashes(sig16, n_bands=8).count() == 3 * 8


def test_bpe_apply_fold_and_encode_invariants(spark, sf_dir):
    """l26b's planted semantics: (a) the shared fold is the LEFTMOST
    non-overlapping merge — 'a a a a' with merge (a,a) becomes two 'aa'
    tokens, never three overlapping ones, and 'a a a' becomes ['aa','a'];
    (b) the full encode round-trips every document and never inflates
    the token count past the character count."""
    from pyspark.sql import Row

    from mric_bak_etl_spark.llm.text import _merge_fold_spark, bpe_encode

    folded = (
        spark.createDataFrame(
            [Row(syms="a a a a"), Row(syms="a a a"), Row(syms="b a a b")]
        )
        .select(F.split("syms", " ").alias("s"))
        .select(F.expr(_merge_fold_spark("a", "a")).alias("syms"))
        .collect()
    )
    assert [r["syms"] for r in folded] == ["aa aa", "aa a", "b aa b"]

    out = bpe_encode(spark, sf_dir).collect()
    assert len(out) > 0
    assert all(r["round_trip"] for r in out)
    # merges only ever shrink: n_words <= n_tokens <= clean-word chars,
    # and across the corpus the trained merges actually fire.
    assert all(r["n_words"] <= r["n_tokens"] for r in out)
    chars = dict(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.explode(F.split("text", r"\s+")).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("doc_id")
        .agg(F.sum(F.length("w")).alias("c"))
        .collect()
    )
    assert all(r["n_tokens"] <= chars[r["doc_id"]] for r in out)
    assert sum(r["n_tokens"] for r in out) < sum(chars.values())


def test_bpe_persisted_artifact_is_apply_only(spark, sf_dir, monkeypatch):
    """l26c's contract (r10 verdict task 4): train once, publish, then
    every call is apply-only — pinned by making training raise after the
    artifact exists. Also pins l26c == l26b row for row (same merges →
    same encode via the shared fold)."""
    import os
    import shutil

    import pandas as pd

    from mric_bak_etl_spark.llm import text as T

    base = T._merge_artifact_base(sf_dir)
    shutil.rmtree(base, ignore_errors=True)

    want = T.bpe_encode(spark, sf_dir).toPandas()  # the self-contained face

    first = T.bpe_encode_persisted(spark, sf_dir).toPandas()
    assert os.path.isdir(os.path.join(base, "published"))

    def boom(*_a, **_k):
        raise AssertionError("training ran on the apply-only path")

    monkeypatch.setattr(T, "bpe_merges", boom)
    second = T.bpe_encode_persisted(spark, sf_dir).toPandas()

    pd.testing.assert_frame_equal(first, second)
    pd.testing.assert_frame_equal(first, want)


def test_bpe_artifact_audit_blocks_bad_merge_tables(
    spark, sf_dir, monkeypatch, tmp_path
):
    """The write-audit-publish gate: a trainer that produces a short /
    wrong-ranked merge table must NOT publish (the s11 failed-audit
    shape on the model-artifact path)."""
    import os

    from mric_bak_etl_spark.llm import text as T

    monkeypatch.setattr(
        T, "_merge_artifact_base", lambda _sf: str(tmp_path / "art")
    )
    # The audit judges the WRITTEN rows, so a synthetic short table is
    # the same test as a truncated trained one — without paying a full
    # BPE training for a gate that never reads the corpus (suite-wall
    # trim, r12).
    bad = spark.createDataFrame(
        [(i, "a", "b") for i in range(1, T.BPE_ROUNDS)],
        "rank int, a string, b string",
    )
    monkeypatch.setattr(T, "bpe_merges", lambda *_a: bad)
    with pytest.raises(ValueError, match="audit failed"):
        T.publish_merge_table(spark, sf_dir)
    assert not os.path.isdir(str(tmp_path / "art" / "published"))


def test_bpe_load_audit_refuses_planted_artifact(
    spark, sf_dir, monkeypatch, tmp_path
):
    """r11 ADVICE: the audit must also run at LOAD time — a publish is
    only ever the audited rename, so a 'published' dir that violates the
    contract was planted or tampered with (world-shared path era) and
    must be refused, not silently applied. Also pins the lost-race
    staging cleanup and the user-owned artifact root."""
    import os

    from mric_bak_etl_spark.llm import text as T

    # The artifact root must be user-owned (XDG cache), not the
    # world-shared tempdir.
    import tempfile

    real_base = T._merge_artifact_base(sf_dir)
    assert not real_base.startswith(tempfile.gettempdir())

    base = tmp_path / "art"
    monkeypatch.setattr(T, "_merge_artifact_base", lambda _sf: str(base))
    # Plant a short merge table as an already-"published" artifact.
    # Synthetic rows: the load audit judges row shape only, so paying a
    # BPE training here would test nothing extra (suite-wall trim, r12).
    planted = spark.createDataFrame(
        [(i, "a", "b") for i in range(1, T.BPE_ROUNDS)],
        "rank int, a string, b string",
    )
    planted.write.mode("overwrite").parquet(str(base / "published"))
    with pytest.raises(ValueError, match="tampered or stale"):
        T.load_merge_table(spark, sf_dir)

    # Lost publish race: when 'published' appears between the staging
    # write and the rename, the loser must clean its staging dir up.
    import shutil

    shutil.rmtree(base)
    good = spark.createDataFrame(
        [(i, f"a{i}", f"b{i}") for i in range(1, T.BPE_ROUNDS + 1)],
        "rank int, a string, b string",
    )
    monkeypatch.setattr(T, "bpe_merges", lambda *_a: good)
    real_rename = os.rename

    def racing_rename(src, dst):
        if dst.endswith("published"):
            # The winner publishes first.
            os.makedirs(dst, exist_ok=True)
            good.write.mode("overwrite").parquet(dst)
            raise OSError("simulated lost race")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", racing_rename)
    path = T.publish_merge_table(spark, sf_dir)
    assert os.path.isdir(path)
    leftovers = [p for p in os.listdir(base) if p.startswith("_staging_")]
    assert leftovers == [], f"lost-race staging dirs leaked: {leftovers}"


def test_publish_verifies_an_existing_target_against_its_manifest(tmp_path):
    """The one load check, on the filesystem alone: an intact published
    dir is returned without a rebuild (Hadoop's ``.crc`` side files are
    not part of it); a missing manifest, a changed size, a changed
    parquet footer or an unlisted file is refused."""
    import os
    import shutil

    from mric_bak_etl_spark import artifacts

    target = str(tmp_path / "published")
    part = os.path.join(target, "t", "part-0.parquet")
    footer = b"footer" + (6).to_bytes(4, "little") + b"PAR1"

    def write(staging):
        os.makedirs(os.path.join(staging, "t"))
        with open(os.path.join(staging, "t", "part-0.parquet"), "wb") as fh:
            fh.write(b"PAR1rows" + footer)
        with open(os.path.join(staging, "t", ".part-0.parquet.crc"), "wb"):
            pass

    def rebuild(_staging):
        raise AssertionError("an intact published dir was rebuilt")

    def rewrite(path, offset, data):
        with open(path, "r+b") as fh:
            fh.seek(offset)
            fh.write(data)

    assert artifacts.publish(target, write) == target
    assert artifacts.publish(target, rebuild) == target
    os.remove(os.path.join(target, "t", ".part-0.parquet.crc"))
    assert artifacts.publish(target, rebuild) == target

    tampers = [
        lambda: os.remove(os.path.join(target, artifacts.MANIFEST)),
        lambda: rewrite(part, len(b"PAR1rows") + len(footer), b"!"),
        lambda: rewrite(part, len(b"PAR1rows"), b"F"),  # same size
        lambda: open(os.path.join(target, "t", "extra"), "wb").close(),
    ]
    for tamper in tampers:
        shutil.rmtree(target)
        artifacts.publish(target, write)
        tamper()
        with pytest.raises(ValueError, match="violates its audit contract"):
            artifacts.publish(target, rebuild)


@pytest.mark.parametrize(
    "query, base_fn, subdir",
    [
        ("l42b_incremental_crawl_persisted", "_crawl_index_artifact_base", "bands"),
        ("m14_zip_persisted_manifest", "_archive_artifact_base", ""),
    ],
    ids=["l42b", "m14"],
)
def test_load_refuses_published_artifact_with_a_halved_part_file(
    spark, sf_dir, monkeypatch, tmp_path, query, base_fn, subdir
):
    """A published index or archive column whose part file lost half its
    rows after the publish is refused at load. The ``.crc`` side files
    go first: with them, Hadoop's own checksum fails the read before any
    engine check runs, and the intact copy must still load without
    them."""
    import os
    import shutil
    import sys

    import pyarrow.parquet as pq

    from mric_bak_etl_spark.catalog import all_specs

    build = all_specs()[query].builder
    mod = sys.modules[build.__module__]
    build(spark, sf_dir)  # publishes the artifact, or reuses it
    published = os.path.join(getattr(mod, base_fn)(sf_dir), "published")
    monkeypatch.setattr(mod, base_fn, lambda _sf: str(tmp_path / "art"))
    target = str(tmp_path / "art" / "published")
    shutil.copytree(published, target)
    d = os.path.join(target, subdir)
    for crc in [f for f in os.listdir(d) if f.endswith(".crc")]:
        os.remove(os.path.join(d, crc))
    build(spark, sf_dir)  # the intact copy loads

    parts = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
    biggest = max(parts, key=lambda p: pq.read_metadata(p).num_rows)
    table = pq.read_table(biggest)
    assert table.num_rows >= 2
    pq.write_table(table.slice(0, table.num_rows // 2), biggest)
    with pytest.raises(ValueError, match="violates its audit contract"):
        build(spark, sf_dir)


def test_m14_persisted_archive_is_decode_only(spark, sf_dir, monkeypatch):
    """m14's contract (r11 verdict task 3, the l26c shape on media):
    pack once, publish, then every call is decode-only — pinned by
    making synthesis raise after the artifact exists, and by the plan
    scanning the ARTIFACT parquet, not documents.parquet."""
    import os
    import shutil

    import pandas as pd

    from mric_bak_etl_spark.catalog import all_specs
    from mric_bak_etl_spark.llm import multimodal as M

    base = M._archive_artifact_base(sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    build = all_specs()["m14_zip_persisted_manifest"].builder

    first = build(spark, sf_dir).toPandas()
    assert os.path.isdir(os.path.join(base, "published"))

    def boom(*_a, **_k):
        raise AssertionError("synthesis ran on the apply-only path")

    monkeypatch.setattr(M, "make_zip", boom)
    second = build(spark, sf_dir).toPandas()
    pd.testing.assert_frame_equal(first, second)

    # The scanned files, not the plan text: Spark truncates a scan's
    # Location, so plan substrings depend on the cache root's length.
    files = build(spark, sf_dir).inputFiles()
    published = os.path.join(base, "published")
    assert files and all(published in f for f in files), files
    assert not any("documents.parquet" in f for f in files), (
        "apply path still scans the corpus"
    )


def test_m14_publish_audit_blocks_lossy_packer(
    spark, sf_dir, monkeypatch, tmp_path
):
    """The decode-audit gate: a packer that silently drops blobs (or
    writes undecodable ones) must NOT publish."""
    import os

    from mric_bak_etl_spark.llm import multimodal as M

    monkeypatch.setattr(
        M, "_archive_artifact_base", lambda _sf: str(tmp_path / "art")
    )
    real = M._pack_archive_row

    def lossy(mid, data):
        if mid % 2:  # every even doc's blob is silently dropped
            yield from real(mid, data)

    monkeypatch.setattr(M, "_pack_archive_row", lossy)
    with pytest.raises(ValueError, match="audit failed"):
        M.publish_archive_column(spark, sf_dir)
    assert not os.path.isdir(str(tmp_path / "art" / "published"))


def test_l42_replay_idempotence(spark, sf_dir):
    """The t13b shape for the crawl composite: append the funnel's
    survivors to the corpus and re-ship the SAME batch — the second
    pass must keep ZERO docs (survivors are now exact dups of the
    corpus; in-batch dups fall to the corpus index too, since their
    keeper's text was ingested; near-dups still fall to the band
    probe). This is what makes a daily crawl re-run safe."""
    from mric_bak_etl_spark.llm import dedup as D
    from mric_bak_etl_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    corpus = d.select("doc_id", "text")
    batch = D._l42_batch(d)

    flags = D.crawl_flags(corpus, batch)
    survivors = flags.filter("s4").select(
        (F.col("new_id")).alias("doc_id"), "text"
    )
    n_survivors = survivors.count()
    assert n_survivors > 0, "fixture must keep something on pass 1"

    corpus2 = corpus.unionByName(survivors)
    second = D.crawl_waterfall(corpus2, batch).collect()
    last = next(r for r in second if r["stage_no"] == 4)
    assert last["n_out"] == 0, f"replay kept {last['n_out']} docs"
    assert last["tok_out"] == 0
    # The funnel itself is unchanged upstream of the corpus-dependent
    # gates: the URL gate sees the identical batch.
    first_rows = {r["stage_no"]: r for r in D.crawl_waterfall(corpus, batch).collect()}
    second_rows = {r["stage_no"]: r for r in second}
    assert second_rows[1]["n_out"] == first_rows[1]["n_out"]


def test_l43_model_artifact_is_apply_only(spark, sf_dir, monkeypatch):
    """l43's contract (the l26c/m14 shape on MODEL state): train once,
    publish, then every scoring call is apply-only — pinned by making
    training raise after the artifact exists — and the load-time audit
    refuses a planted weight table."""
    import os
    import shutil

    import pandas as pd

    from mric_bak_etl_spark.catalog import all_specs
    from mric_bak_etl_spark.llm import sampling as S

    base = S._model_artifact_base(sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    build = all_specs()["l43_quality_score_persisted"].builder

    first = build(spark, sf_dir).toPandas()
    assert os.path.isdir(os.path.join(base, "published"))

    def boom(*_a, **_k):
        raise AssertionError("training ran on the apply-only path")

    monkeypatch.setattr(S, "_train_logreg", boom)
    second = build(spark, sf_dir).toPandas()
    pd.testing.assert_frame_equal(first, second)

    # Published weights == the live training trajectory (l33's loop).
    monkeypatch.undo()
    b, w1, w2 = S.load_model(spark, sf_dir)
    tb, tw1, tw2 = S._train_logreg(spark, sf_dir)
    assert (b, w1, w2) == (tb, tw1, tw2)

    # A planted two-row table violates the one-finite-row contract.
    shutil.rmtree(base)
    spark.createDataFrame(
        [(0.1, 0.2, 0.3), (0.4, 0.5, 0.6)],
        "bias double, w_len double, w_aux double",
    ).write.mode("overwrite").parquet(os.path.join(base, "published"))
    with pytest.raises(ValueError, match="tampered or stale"):
        S.load_model(spark, sf_dir)
    shutil.rmtree(base, ignore_errors=True)


def test_l42b_persisted_index_is_probe_only(spark, sf_dir, monkeypatch):
    """l42b's contract (the artifact-trilogy shape on INDEX state):
    build the indexes once, publish, then every funnel run probes the
    parquet artifacts — pinned by making the index build raise once the
    artifact exists, and by row-for-row equality with the inline face
    (same gates, same oracle)."""
    import os
    import shutil

    import pandas as pd

    from mric_bak_etl_spark.catalog import all_specs
    from mric_bak_etl_spark.llm import dedup as D

    base = D._crawl_index_artifact_base(sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    build = all_specs()["l42b_incremental_crawl_persisted"].builder

    first = build(spark, sf_dir).toPandas()
    assert os.path.isdir(os.path.join(base, "published"))

    def boom(*_a, **_k):
        raise AssertionError("index build ran on the probe-only path")

    monkeypatch.setattr(D, "build_crawl_index", boom)
    second = build(spark, sf_dir).toPandas()
    pd.testing.assert_frame_equal(first, second)

    # Persisted-index face == inline face, row for row.
    monkeypatch.undo()
    inline = all_specs()["l42_incremental_crawl"].builder(
        spark, sf_dir
    ).toPandas()
    pd.testing.assert_frame_equal(first, inline)


def test_l42b_publish_audit_blocks_overfull_bucket(
    spark, sf_dir, monkeypatch, tmp_path
):
    """The artifact-invariant audit: an index whose band table violates
    the posting cap (a packer that skipped the cap stage) must NOT
    publish."""
    import os

    from mric_bak_etl_spark.llm import dedup as D

    monkeypatch.setattr(
        D, "_crawl_index_artifact_base", lambda _sf: str(tmp_path / "idx")
    )
    real = D.build_crawl_index

    def uncapped(corpus):
        corpus_h, _, counts = real(corpus)
        # An uncapped bucket: one (band, band_hash) with cap+1 docs.
        bad = spark.range(D.L42_MAX_POSTING + 1).select(
            F.col("id").alias("doc_id"),
            F.lit(0).alias("band"),
            F.lit("deadbeef").alias("band_hash"),
        )
        return corpus_h, bad, counts

    monkeypatch.setattr(D, "build_crawl_index", uncapped)
    with pytest.raises(ValueError, match="audit failed"):
        D.publish_crawl_index(spark, sf_dir)
    assert not os.path.isdir(str(tmp_path / "idx" / "published"))


def test_l42c_append_equals_rebuild(spark, sf_dir, tmp_path):
    """The maintenance invariant (r12 verdict task 1): the folded v2
    index artifacts must equal build_crawl_index run FROM SCRATCH on
    the grown corpus (documents ∪ gen-1 survivors) — probe-after-append
    == inline-on-grown-corpus, table for table."""
    from mric_bak_etl_spark.llm import dedup as D
    from mric_bak_etl_spark.tables import load_table

    base = str(tmp_path / "maint")
    import os

    os.makedirs(base)
    state = {"version": 0}
    fold = D.make_crawl_index_append_sink(spark, sf_dir, base, state)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    fold(D._l42_batch(d), 0)
    fold(D._l42c_batch2(d), 1)
    assert state["version"] == 2

    grown = (
        d.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
        .unionByName(spark.read.parquet(f"{base}/v1/newdocs"))
    )
    want_h, want_b, want_c = D.build_crawl_index(grown)

    def rows(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    got_h = spark.read.parquet(f"{base}/v1/hashes")
    assert rows(got_h, ["h"]) == rows(want_h, ["h"])
    got_b = spark.read.parquet(f"{base}/v1/bands")
    assert rows(got_b, ["doc_id", "band", "band_hash"]) == rows(
        want_b, ["doc_id", "band", "band_hash"]
    )
    got_c = spark.read.parquet(f"{base}/v1/counts")
    assert rows(got_c, ["band", "band_hash", "n"]) == rows(
        want_c, ["band", "band_hash", "n"]
    )

    # And the gen-2 funnel probing v1 == the inline funnel on the grown
    # corpus (the waterfall is the user-visible face of the invariant).
    probe = spark.read.parquet(f"{base}/v2/waterfall").collect()
    inline = D.crawl_waterfall(grown, D._l42c_batch2(d)).collect()
    assert sorted(map(tuple, probe)) == sorted(map(tuple, inline))
    # The appended index is load-bearing: gen 2 drops re-shipped gen-1
    # survivors at the exact gate and their near-dups at the band gate.
    by_stage = {r["stage_no"]: r for r in probe}
    assert by_stage[2]["n_dropped"] > 0, "appended hashes caught nothing"
    assert by_stage[4]["n_dropped"] > 0, "appended bands caught nothing"


def test_l42c_replay_is_idempotent(spark, sf_dir, tmp_path):
    """The t10 exactly-once contract on the index fold: a replayed
    batch_id (crash-recovery semantics) must not re-fold — the
    committed artifacts stay byte-stable across replays and across a
    fresh handler whose in-memory version pointer is cold."""
    import os

    from mric_bak_etl_spark.llm import dedup as D
    from mric_bak_etl_spark.tables import load_table

    base = str(tmp_path / "maint")
    os.makedirs(base)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    state = {"version": 0}
    fold = D.make_crawl_index_append_sink(spark, sf_dir, base, state)
    fold(D._l42_batch(d), 0)
    v1_rows = sorted(
        tuple(r) for r in spark.read.parquet(f"{base}/v1/hashes").collect()
    )
    v1_mtime = os.path.getmtime(f"{base}/v1")

    # Fresh handler (simulates restart): replay batch 0, then batch 1.
    state2 = {"version": 0}
    fold2 = D.make_crawl_index_append_sink(spark, sf_dir, base, state2)
    fold2(D._l42_batch(d), 0)  # must recover version=1 and skip
    assert os.path.getmtime(f"{base}/v1") == v1_mtime
    assert sorted(
        tuple(r) for r in spark.read.parquet(f"{base}/v1/hashes").collect()
    ) == v1_rows
    fold2(D._l42c_batch2(d), 1)
    assert state2["version"] == 2
    # Replaying an already-folded batch after further progress: no-op.
    fold2(D._l42_batch(d), 0)
    assert state2["version"] == 2


def test_l42c_crash_mid_version_then_replay(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A fold that crashes part-way through writing v1 commits nothing:
    the replayed batch builds a v1 equal to a clean run's, and the
    crashed write's stray staging dir is never read as a version."""
    import os
    import shutil

    from pyspark.sql.readwriter import DataFrameWriter

    from mric_bak_etl_spark import artifacts
    from mric_bak_etl_spark.llm import dedup as D
    from mric_bak_etl_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    base = str(tmp_path / "maint")
    os.makedirs(base)
    real_publish = artifacts.publish

    def crashing_publish(target, write):
        if os.path.basename(target) != "v1":
            return real_publish(target, write)

        def crash_after_two_tables(staging):
            # The bootstrap publishes inside v1's write; only the
            # version's own tables count towards the crash.
            real_parquet = DataFrameWriter.parquet
            written = []

            def parquet(self, path, *a, **k):
                if os.path.dirname(path) == staging:
                    if len(written) == 2:
                        raise RuntimeError("simulated crash mid-version")
                    written.append(path)
                return real_parquet(self, path, *a, **k)

            with monkeypatch.context() as m:
                m.setattr(DataFrameWriter, "parquet", parquet)
                write(staging)

        return real_publish(target, crash_after_two_tables)

    monkeypatch.setattr(artifacts, "publish", crashing_publish)
    fold = D.make_crawl_index_append_sink(spark, sf_dir, base, {"version": 0})
    with pytest.raises(RuntimeError, match="mid-version"):
        fold(D._l42_batch(d), 0)
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(base, "v1"))
    stray = [p for p in os.listdir(base) if p.startswith("_staging_")]
    assert len(stray) == 1
    assert len(os.listdir(os.path.join(base, stray[0]))) == 2

    # A clean run from the same committed bootstrap, in its own dir.
    clean = str(tmp_path / "clean")
    shutil.copytree(
        os.path.join(base, "_bootstrap"), os.path.join(clean, "_bootstrap")
    )
    clean_state = {"version": 0}
    D.make_crawl_index_append_sink(spark, sf_dir, clean, clean_state)(
        D._l42_batch(d), 0
    )

    # Replay on a fresh handler (restart): the stray dir is ignored.
    state = {"version": 0}
    D.make_crawl_index_append_sink(spark, sf_dir, base, state)(
        D._l42_batch(d), 0
    )
    assert state["version"] == clean_state["version"] == 1
    assert os.path.isdir(os.path.join(base, stray[0]))
    for name in ("hashes", "bands", "counts", "newdocs", "waterfall"):
        got = spark.read.parquet(os.path.join(base, "v1", name)).collect()
        want = spark.read.parquet(os.path.join(clean, "v1", name)).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want)), name


def test_l42c_cap_reenforced_on_merged_counts(spark, tmp_path, monkeypatch):
    """The subtle half of the fold: a bucket pushed OVER the posting cap
    by an append must drop its pre-append postings too (the from-scratch
    rebuild would), and a bucket that was already hot must stay hot even
    though its postings are gone from the capped table. Planted corpus:
    cap=2, three near-identical docs land in one bucket across two
    generations."""
    import os

    from mric_bak_etl_spark.llm import dedup as D
    from mric_bak_etl_spark.tables import load_table

    # A tiny planted documents table: 2 base docs sharing every band
    # bucket (identical text modulo nothing — verbatim copies would be
    # caught by the hash gate, so use one doc; the batch ships near-
    # identical variants that survive the exact gates).
    docs_dir = tmp_path / "corpus"
    os.makedirs(docs_dir)
    base_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    spark.createDataFrame(
        [(0, base_text, "en", "web")],
        "doc_id long, text string, lang string, source string",
    ).withColumn("n_chars", F.length("text")).write.parquet(
        str(docs_dir / "documents.parquet")
    )
    sf_dir = str(docs_dir)

    base = str(tmp_path / "maint")
    os.makedirs(base)
    state = {"version": 0}
    cap = 2
    fold = D.make_crawl_index_append_sink(spark, sf_dir, base, state, cap=cap)

    def batch(rows):
        return spark.createDataFrame(
            rows, "new_id long, text string, curl string"
        )

    # Gen 1: one lightly-edited variant — survives (jaccard vs base is
    # high but the bucket has only 1 corpus posting, under cap... it may
    # be flagged near-dup; use a distinct-enough text that passes the
    # verify but shares NO bucket? Simpler: a fully fresh doc).
    fold(batch([(100, "one totally fresh document about ships and sails "
                       "with many novel tokens", "u://a")]), 0)
    # Gen 2: two verbatim-distinct but shingle-identical-to-each-other
    # docs that each share the fresh doc's buckets (its exact text plus
    # one tail token each → same leading shingles, high jaccard) — they
    # are DROPPED as near-dups of the appended survivor, so the corpus
    # grows by nothing, but the planted check is on gen-1's fold below.
    fold(batch([(200, "one totally fresh document about ships and sails "
                      "with many novel tokens t1", "u://b")]), 1)
    assert state["version"] == 2

    # Invariant check at every version: folded tables == from-scratch.
    d0 = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    for v in (1, 2):
        grown = d0.unionByName(spark.read.parquet(f"{base}/v{v}/newdocs"))
        _, want_b, want_c = D.build_crawl_index(grown, cap=cap)
        got_b = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{base}/v{v}/bands").collect()
        )
        assert got_b == sorted(tuple(r) for r in want_b.collect()), f"v{v}"
        got_c = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{base}/v{v}/counts").collect()
        )
        assert got_c == sorted(tuple(r) for r in want_c.collect()), f"v{v}"

    # Now the cap crossing: gen 3 ships a doc that SURVIVES (fresh) and
    # whose shingles collide with nothing, plus we verify hot-stays-hot
    # by direct construction: fold a batch of two fresh docs sharing all
    # their buckets with the gen-1 survivor's — each is a near-dup and
    # drops, so instead plant the crossing on a THIRD fresh doc family:
    # two docs whose mutual jaccard is high enough to share buckets but
    # below the 0.5 verify threshold... that needs tuned fixtures, so
    # assert the mechanism directly on the merge arithmetic instead:
    counts_v2 = {
        (r["band"], r["band_hash"]): r["n"]
        for r in spark.read.parquet(f"{base}/v2/counts").collect()
    }
    bands_v2 = {
        (r["band"], r["band_hash"])
        for r in spark.read.parquet(f"{base}/v2/bands").collect()
    }
    for key, n in counts_v2.items():
        if n > cap:
            assert key not in bands_v2, "hot bucket kept postings"


def test_l42b_publish_annotates_duplication_regime(
    spark, tmp_path, monkeypatch
):
    """r12 verdict task 3: a corpus of ~100 LIGHTLY-EDITED variants per
    text blows the posting cap in almost every band bucket, so the
    near-dup gate is silently neutralized (drop-as-boilerplate empties
    the capped index) — the publish must ANNOTATE that regime (audit
    row duplication_warning=true + a UserWarning), not refuse (the
    regime is valid), and a diverse corpus must publish quietly with
    the annotation false."""
    import os

    from mric_bak_etl_spark.llm import dedup as D

    def plant(name, df):
        d = str(tmp_path / name)
        os.makedirs(d)
        df.withColumn("n_chars", F.length("text")).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        return d

    # 100 variants of one base text: each appends a distinct tail token,
    # so the leading shingles (hence most minhash slots, hence most band
    # buckets) are shared across all 100 — every shared bucket holds 100
    # postings > cap.
    base_text = (
        "the quick brown fox jumps over the lazy dog near the river "
        "bank while seven wizards watch quietly from the old stone "
        "bridge at dawn"
    )
    dup_dir = plant(
        "dup",
        spark.range(100).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit(base_text + " variant "), F.col("id").cast("string")
            ).alias("text"),
            F.lit("en").alias("lang"),
            F.lit("web").alias("source"),
        ),
    )
    # Control: 50 docs of fully distinct token material — no shared
    # buckets, nothing capped.
    div_dir = plant(
        "div",
        spark.range(50).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("unique document "),
                F.col("id").cast("string"),
                F.lit(" speaks of topic "),
                (F.col("id") * 31).cast("string"),
                F.lit(" and subject "),
                (F.col("id") * 73 + 11).cast("string"),
                F.lit(" with entirely disjoint vocabulary "),
                (F.col("id") * 127 + 5).cast("string"),
            ).alias("text"),
            F.lit("en").alias("lang"),
            F.lit("web").alias("source"),
        ),
    )
    monkeypatch.setattr(
        D,
        "_crawl_index_artifact_base",
        lambda sf: str(tmp_path / ("idx_" + os.path.basename(sf))),
    )

    with pytest.warns(UserWarning, match="posting cap"):
        pub = D.publish_crawl_index(spark, dup_dir)
    audit = spark.read.parquet(os.path.join(pub, "audit")).collect()[0]
    assert audit["duplication_warning"] is True
    assert audit["capped_frac"] > D.L42_CAP_WARN_FRAC
    assert audit["n_capped"] > 0

    import warnings as W

    with W.catch_warnings():
        W.simplefilter("error")  # any UserWarning here fails the test
        pub2 = D.publish_crawl_index(spark, div_dir)
    audit2 = spark.read.parquet(os.path.join(pub2, "audit")).collect()[0]
    assert audit2["duplication_warning"] is False
    assert audit2["n_capped"] == 0


def test_l3f_apply_path_never_trains(spark, sf_dir, monkeypatch):
    """The l3f artifact contract (r12 verdict task 2): once the ANN
    index is published, the query face must be APPLY-ONLY — no k-means
    fit, no codebook build anywhere on the probe path. Pinned the l42b
    way: both training stages monkeypatched to raise, result must be
    byte-identical to the first (building) run."""
    import pandas as pd

    from mric_bak_etl_spark.catalog import all_specs
    from mric_bak_etl_spark.llm import similarity as S

    build = all_specs()["l3f_ann_persisted"].builder
    first = build(spark, sf_dir).toPandas()

    def boom(*_a, **_k):
        raise AssertionError("ANN training ran on the probe-only path")

    monkeypatch.setattr(S, "fit_spherical_kmeans", boom)
    monkeypatch.setattr(S, "build_pq_codebook", boom)
    second = build(spark, sf_dir).toPandas()
    pd.testing.assert_frame_equal(first, second)
    # The re-rank is EXACT cosine, so every returned score must match
    # the directly-computed score for that vec_id (ANN prunes
    # candidates, never distorts scores). Scored for the 10 returned
    # ids only — a corpus-wide brute-force sort here cost 80 s of
    # suite wall for the same assertion.
    e = S.load_table(spark, sf_dir, "embeddings").select(
        "vec_id", S._as_double().alias("v")
    )
    q = e.filter(S.F.col("vec_id") == S.QUERY_VEC_ID).select(
        S.F.col("v").alias("qv")
    )
    ids = [int(v) for v in first["vec_id"]]
    exact = {
        r["vec_id"]: r["cosine"]
        for r in e.filter(S.F.col("vec_id").isin(ids))
        .crossJoin(S.F.broadcast(q))
        .select(
            "vec_id",
            S.F.round(S._cosine(S.F.col("v"), S.F.col("qv")), 4).alias(
                "cosine"
            ),
        )
        .collect()
    }
    for row in first.itertuples():
        assert abs(exact[row.vec_id] - row.cosine) < 1e-9


def test_l3f_load_refuses_published_index_missing_a_codebook_row(
    spark, sf_dir, monkeypatch, tmp_path
):
    """The load-time half of the audit: a published index whose codebook
    lost a row (tampered or truncated after the publish) is refused."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from mric_bak_etl_spark.llm import similarity as S

    published = S.publish_ann_index(spark, sf_dir)
    monkeypatch.setattr(
        S, "_ann_artifact_base", lambda _sf: str(tmp_path / "ann")
    )
    target = str(tmp_path / "ann" / "published")
    shutil.copytree(published, target)
    S.load_ann_index(spark, sf_dir)  # the intact copy loads

    cb_dir = os.path.join(target, "codebook")
    (part,) = [f for f in os.listdir(cb_dir) if f.endswith(".parquet")]
    table = pq.read_table(os.path.join(cb_dir, part))
    assert table.num_rows == S.PQ_M * S.PQ_K
    pq.write_table(table.slice(1), os.path.join(cb_dir, part))
    for crc in [f for f in os.listdir(cb_dir) if f.endswith(".crc")]:
        os.remove(os.path.join(cb_dir, crc))
    with pytest.raises(ValueError, match="violates its audit contract"):
        S.load_ann_index(spark, sf_dir)


def test_l3f_publish_audit_blocks_bad_codes(
    spark, sf_dir, monkeypatch, tmp_path
):
    """The artifact-invariant audit: an encode pass that emits an
    out-of-range code (or drops vectors) must NOT publish."""
    import os

    from mric_bak_etl_spark.llm import similarity as S

    monkeypatch.setattr(
        S, "_ann_artifact_base", lambda _sf: str(tmp_path / "ann")
    )
    real = S.pq_encode

    def broken(spark_, e, subcb):
        return real(spark_, e, subcb).withColumn(
            "code", S.F.lit(S.PQ_K + 5)
        )

    monkeypatch.setattr(S, "pq_encode", broken)
    with pytest.raises(ValueError, match="audit failed"):
        S.publish_ann_index(spark, sf_dir)
    assert not os.path.isdir(str(tmp_path / "ann" / "published"))
