"""Multimodal columns: opaque binary payloads + typed metadata (north star).

Pattern: media lives as a ``binary`` column (here synthesized
deterministically from document text — no image/audio libs ship in this
environment) with a typed metadata struct beside it; decode / feature-
extract / frame-sample run as Arrow-batched ``mapInPandas`` stages so the
bytes never leave the executors. :func:`decode_media` is the codec hook:
REAL for three containers spanning three parsing families — uncompressed
24-bit BMP (m7/m8, fixed binary structs), 16-bit PCM RIFF/WAVE (m9/m10,
chunk walk), and binary Netpbm P6 (m11, ASCII-tokenized header), all
parsed in pure Python with their decoded payloads anchored by
exact-integer oracles — and a clearly-marked
NotImplementedError for containers that need external codec libs (video,
other image/audio codecs), with a deterministic fake featurizer
standing in for those paths; the Spark-side contract — schema, batch
iteration, fan-out shape, partitioning — is real and tested either way.
Every pandas stage is a per-row function run through ``tables.map_rows``.

Corpus contract: the document-text stages (m7-m14) build their media from
each document's ``text.encode()`` bytes, while their oracles count code
points (``ascii``/``substring``). The two agree only on ASCII text, so
:func:`_map_documents`, the one adapter those stages share, asserts it
per document: a multi-byte corpus fails loudly in the stage, not as a
confusing value mismatch against the oracle.

Scale notes (100 TB of media): binary columns ride normal parquet row
groups, so filters on the *metadata* columns prune scans without touching
payload bytes (column pruning keeps `content` unread until the UDF stage).
The mapInPandas stages are per-partition streaming — one Arrow batch in
flight per task, no driver involvement; frame-sampling fan-out multiplies
rows executor-side, before any shuffle.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mric_bak_etl_spark.artifacts import artifact_dir, publish
from mric_bak_etl_spark.catalog import register
from mric_bak_etl_spark.llm.text import CHUNK_ORACLE as _CHUNK_ORACLE_REF
from mric_bak_etl_spark.tables import load_table, map_rows, spread

_MEDIA_TYPES = ["image", "audio", "video"]


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → synthetic media rows: payload = utf-8 bytes of the text,
    media_type assigned deterministically, metadata struct alongside."""
    d = load_table(spark, sf_dir, "documents")
    media_type = F.element_at(
        F.array(*[F.lit(t) for t in _MEDIA_TYPES]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("content"),
        F.struct(
            media_type.alias("media_type"),
            F.octet_length(F.encode("text", "UTF-8")).alias("n_bytes"),
            (F.col("n_chars") % 640 + 1).cast("int").alias("width"),
            (F.col("n_chars") % 480 + 1).cast("int").alias("height"),
        ).alias("meta"),
    )


@register(
    "m1_multimodal_metadata",
    oracle="""
    SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END                          AS media_type,
           count(*)                                       AS n_items,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           round(avg(n_chars % 640 + 1), 4)               AS avg_width
    FROM documents
    GROUP BY media_type
    ORDER BY media_type
    """,
    doc="Multimodal metadata layer: binary payload + typed metadata struct; "
    "aggregations touch ONLY metadata columns, so the parquet scan prunes "
    "the payload bytes entirely (ReadSchema excludes `content`).",
    tags=("llm", "multimodal"),
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media_table(spark, sf_dir)
    return (
        m.groupBy(F.col("meta.media_type").alias("media_type"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("meta.n_bytes").cast("bigint").alias("total_bytes"),
            F.round(F.avg("meta.width"), 4).alias("avg_width"),
        )
    )


def decode_media(content: bytes, media_type: str) -> dict:
    """Codec hook. REAL for four containers spanning four parsing
    families: uncompressed 24-bit BMP (fixed binary structs), 16-bit PCM
    RIFF/WAVE (chunk walk), binary Netpbm P6/PPM (ASCII-tokenized
    header with comments), and stored/deflated ZIP (tail-anchored
    directory walk over multiple entries, raw-deflate inflation) are parsed here in pure
    Python — magic, declared sizes, geometry, format sanity — and the
    decoded header fields are returned as a dict (including the payload
    offset/stride layout, so consumers slice where the DECODER says the
    samples are). Every other container still raises: video (and other
    image/audio codecs) need pillow/torchaudio/pyav, which do not ship
    in this environment; wire them in here and the m2/m3/m7/m9/m11/m12
    plumbing needs no other change.
    """
    if media_type == "archive":
        # No magic probe: a self-extracting prefix legally hides the
        # local-header signature, so ZIP identity is decided by the
        # tail-anchored EOCD scan inside the walker itself.
        return _decode_zip(content)
    if media_type == "audio" and content[:4] == b"RIFF":
        return _decode_wav(content)
    if media_type == "image" and content[:2] == b"P6":
        return _decode_ppm(content)
    if media_type == "image" and content[:2] == b"BM" and len(content) >= 54:
        import struct

        file_size, _, offset = struct.unpack_from("<III", content, 2)
        (
            hdr_size,
            width,
            height,
            planes,
            bpp,
            compression,
            image_size,
        ) = struct.unpack_from("<IiiHHII", content, 14)
        if (
            hdr_size != 40
            or planes != 1
            or compression != 0
            or bpp != 24
        ):
            raise NotImplementedError(
                "only uncompressed 24-bit BITMAPINFOHEADER BMPs are "
                f"supported (hdr_size={hdr_size}, planes={planes}, "
                f"compression={compression}, bpp={bpp})"
            )
        # biSizeImage = 0 is spec-legal for BI_RGB (common encoders emit
        # it): derive the pixel-array size from the 4-byte-padded row
        # stride. A pixel offset > 54 is also legal (color-profile or
        # palette blocks between header and pixels) — validate that the
        # declared geometry accounts for every byte, not that the layout
        # is exactly the minimal one make_bmp writes.
        # Degenerate geometry (width <= 0, height == 0) would make
        # row_stride/image_size 0 and sail through the size cross-checks
        # below — reject it as corrupt, not "decoded". (Negative height
        # is spec-legal top-down; negative/zero WIDTH is not.)
        if width <= 0 or height == 0:
            raise ValueError(
                f"corrupt BMP: degenerate geometry width={width} "
                f"height={height}"
            )
        row_stride = (width * 3 + 3) // 4 * 4
        isize = image_size or row_stride * abs(height)
        if (
            isize != row_stride * abs(height)
            or offset < 54
            or offset + isize != file_size
            or file_size != len(content)
        ):
            raise ValueError(
                f"corrupt BMP: declared file_size={file_size} "
                f"offset={offset} image_size={image_size} "
                f"(geometry expects {row_stride * abs(height)}) "
                f"actual={len(content)}"
            )
        return {
            "width": width,
            "height": abs(height),  # negative height = top-down rows
            "bpp": bpp,
            "image_size": isize,
            "file_size": file_size,
            # Pixel-array layout, so consumers slice where the DECODER
            # says the pixels are (offset > 54 is spec-legal: color
            # profiles / palette gaps) instead of re-deriving make_bmp's
            # minimal layout — m8 consumes these (round-9 verdict).
            "offset": offset,
            "row_stride": row_stride,
            "top_down": height < 0,
        }
    raise NotImplementedError(
        f"no codec available for media_type={media_type!r}; "
        "install pillow/torchaudio/pyav and route decode_media to it"
    )


def _cycle_bytes(source: bytes, need: int) -> bytes:
    """``need`` bytes drawn from ``source`` cycled (zero-filled when
    empty) — the shared payload-synthesis idiom of make_bmp/make_wav,
    and the exact contract the m8/m9 closed-form oracles model with
    `(p % length(text)) + 1` cycled-position arithmetic."""
    if not source:
        return bytes(need)
    return (source * (need // len(source) + 1))[:need]


def make_bmp(pixel_source: bytes, width: int, height: int) -> bytes:
    """A real, spec-valid 24-bit uncompressed BMP: 14-byte file header,
    40-byte BITMAPINFOHEADER, bottom-up rows padded to 4 bytes, pixel
    bytes drawn from ``pixel_source`` (cycled/zero-padded). Pure Python
    bytes math — deterministic across runs, engines, partitionings."""
    import struct

    row_stride = (width * 3 + 3) // 4 * 4
    image_size = row_stride * height
    need = width * height * 3
    src = _cycle_bytes(pixel_source, need)
    rows = []
    for y in range(height):
        row = src[y * width * 3 : (y + 1) * width * 3]
        rows.append(row + bytes(row_stride - len(row)))
    file_size = 54 + image_size
    header = struct.pack("<2sIII", b"BM", file_size, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, image_size, 2835, 2835, 0, 0
    )
    return header + b"".join(rows)


def _decode_wav(content: bytes) -> dict:
    """RIFF/WAVE parser for 16-bit integer PCM (the m9 codec).

    Spec space accepted: any chunk order / unknown chunks (skipped with
    the RIFF odd-size pad byte), fmt extension bytes (cbSize tail), zero
    sample frames. Lying sizes and inconsistent fmt geometry raise
    ValueError (corrupt); non-PCM codecs (IEEE float, ADPCM, mp3) and
    non-16-bit widths raise NotImplementedError (missing codec, not
    corruption) — the same split the BMP branch draws."""
    import struct

    if len(content) < 12 or content[8:12] != b"WAVE":
        raise ValueError("corrupt WAV: not a RIFF/WAVE container")
    (riff_size,) = struct.unpack_from("<I", content, 4)
    if riff_size != len(content) - 8:
        raise ValueError(
            f"corrupt WAV: declared RIFF size {riff_size} != "
            f"actual {len(content) - 8}"
        )
    fmt = None
    data_offset = data_size = None
    pos = 12
    while pos < len(content):
        if pos + 8 > len(content):
            raise ValueError("corrupt WAV: truncated chunk header")
        cid, csize = struct.unpack_from("<4sI", content, pos)
        body = pos + 8
        if body + csize > len(content):
            raise ValueError(
                f"corrupt WAV: chunk {cid!r} declares {csize} bytes "
                "beyond end of file"
            )
        if cid == b"fmt ":
            if csize < 16:
                raise ValueError(f"corrupt WAV: fmt chunk too short ({csize})")
            fmt = struct.unpack_from("<HHIIHH", content, body)
        elif cid == b"data":
            data_offset, data_size = body, csize
        # unknown chunks (LIST, JUNK, fact, ...) are spec-legal: skip,
        # honoring the RIFF word-alignment pad byte after odd sizes.
        pos = body + csize + (csize & 1)
    if fmt is None or data_offset is None:
        raise ValueError("corrupt WAV: missing fmt or data chunk")
    audio_format, n_channels, sample_rate, byte_rate, block_align, bits = fmt
    if audio_format != 1 or bits != 16:
        raise NotImplementedError(
            "only 16-bit integer PCM WAV is supported "
            f"(audio_format={audio_format}, bits={bits})"
        )
    if n_channels < 1 or sample_rate < 1:
        raise ValueError(
            f"corrupt WAV: degenerate geometry n_channels={n_channels} "
            f"sample_rate={sample_rate}"
        )
    if block_align != n_channels * 2 or byte_rate != sample_rate * block_align:
        raise ValueError(
            f"corrupt WAV: inconsistent fmt geometry block_align="
            f"{block_align} byte_rate={byte_rate} for n_channels="
            f"{n_channels} rate={sample_rate}"
        )
    if data_size % block_align != 0:
        raise ValueError(
            f"corrupt WAV: data size {data_size} is not a whole number "
            f"of {block_align}-byte frames"
        )
    return {
        "n_channels": n_channels,
        "sample_rate": sample_rate,
        "bits_per_sample": bits,
        "n_frames": data_size // block_align,
        "block_align": block_align,
        "byte_rate": byte_rate,
        "data_offset": data_offset,
        "data_size": data_size,
    }


_PPM_WS = b" \t\n\x0b\x0c\r"


def _decode_ppm(content: bytes) -> dict:
    """Binary Netpbm P6 parser (the m11 codec) — the ASCII-tokenized
    header family: `P6`, then width/height/maxval as decimal tokens
    separated by whitespace, with `#`-to-end-of-line comments legal
    wherever whitespace is; EXACTLY ONE whitespace byte after maxval,
    then the raw w*h*3 RGB raster. Lying sizes, degenerate geometry,
    and malformed headers raise ValueError (corrupt); maxval > 255
    (two-byte samples) raises NotImplementedError (missing codec, not
    corruption) — the same split the BMP/WAV branches draw."""
    if content[:2] != b"P6":
        raise ValueError("corrupt PPM: bad magic")
    if len(content) <= 2:
        # Guard before the separator test: b"" is vacuously "in" _PPM_WS,
        # so a bare b"P6" would otherwise fall through to a misleading
        # header-token error instead of naming the truncation.
        raise ValueError("corrupt PPM: truncated after magic")
    if content[2:3] not in _PPM_WS and content[2:3] != b"#":
        raise ValueError("corrupt PPM: magic not followed by whitespace")

    def token(pos: int) -> tuple[int, int]:
        while pos < len(content):
            c = content[pos : pos + 1]
            if c in _PPM_WS:
                pos += 1
            elif c == b"#":
                nl = content.find(b"\n", pos)
                if nl == -1:
                    raise ValueError("corrupt PPM: unterminated comment")
                pos = nl + 1
            else:
                break
        start = pos
        while pos < len(content) and content[pos : pos + 1].isdigit():
            pos += 1
        if start == pos:
            raise ValueError("corrupt PPM: expected decimal header token")
        return int(content[start:pos]), pos

    width, pos = token(2)
    height, pos = token(pos)
    maxval, pos = token(pos)
    if pos >= len(content) or content[pos : pos + 1] not in _PPM_WS:
        raise ValueError("corrupt PPM: missing single-byte raster separator")
    pos += 1
    if width < 1 or height < 1:
        raise ValueError(f"corrupt PPM: degenerate geometry {width}x{height}")
    if maxval < 1 or maxval > 65535:
        raise ValueError(f"corrupt PPM: maxval {maxval} outside 1..65535")
    if maxval > 255:
        raise NotImplementedError(
            f"only single-byte Netpbm samples are supported (maxval={maxval})"
        )
    data_size = width * height * 3
    if len(content) - pos != data_size:
        raise ValueError(
            f"corrupt PPM: raster is {len(content) - pos} bytes, geometry "
            f"expects {data_size}"
        )
    return {
        "width": width,
        "height": height,
        "maxval": maxval,
        "n_pixels": width * height,
        "data_offset": pos,
        "data_size": data_size,
    }


def make_ppm(
    pixel_source: bytes, width: int, height: int, comment: str | None = None
) -> bytes:
    """A real, spec-valid binary Netpbm P6 file: canonical header
    (`P6\\n<w> <h>\\n255\\n`, optionally with a spec-legal `#` comment
    line after the magic — a header-layout variant the closed-form
    oracle never models, so consumers must slice at the decoder's
    offset), then the w*h*3 RGB raster drawn from ``pixel_source``
    cycled/zero-filled — the make_bmp/make_wav discipline for the
    text-headered image family (no row padding: the raster is exactly
    the pixel bytes)."""
    if comment is not None and ("\n" in comment or "\r" in comment):
        # A line break would terminate the comment early and inject the
        # remainder as stray header tokens — the blob would decode to a
        # different geometry than requested (or be rejected).
        raise ValueError("PPM comment must not contain line breaks")
    c = f"# {comment}\n" if comment is not None else ""
    return (
        f"P6\n{c}{width} {height}\n255\n".encode()
        + _cycle_bytes(pixel_source, width * height * 3)
    )


_ZIP_EOCD_SIG = b"PK\x05\x06"
_ZIP_CDIR_SIG = b"PK\x01\x02"
_ZIP_LOCAL_SIG = b"PK\x03\x04"


def _decode_zip(content: bytes) -> dict:
    """ZIP central-directory walker (the m12 codec) — the multi-entry
    archive family: find the end-of-central-directory record from the
    tail (it floats behind a variable-length archive comment), walk the
    central directory, and cross-check every entry against its local
    file header. Mirrors the reference's decompress stage
    (src/bak_unload.ps1:74-75) with the m-family's split: structural
    lies (truncation, size/offset/count mismatches, CRC damage) raise
    ValueError (including invalid or size-lying deflate streams —
    method 8 is REAL here, inflated and cross-checked); entries whose
    content is unreachable without another codec (exotic compression
    methods, encryption, multi-disk spanning) raise NotImplementedError.

    Self-extracting-style prefixes are spec reality: offsets recorded
    in the archive are relative to the ORIGINAL archive start, so a
    blob with prepended bytes decodes only by deriving the shift from
    where the directory ACTUALLY sits vs where the EOCD claims it is —
    the m8/m11 lesson (consumers slice where the DECODER says) in
    archive form; the closed-form oracle never models the prefix.
    """
    import struct
    import zlib

    n = len(content)
    if n < 22:
        raise ValueError("corrupt ZIP: shorter than an EOCD record")
    # EOCD: last 22 bytes + up to 65535 comment bytes. Scan backwards
    # for the signature whose comment length seals the file exactly; a
    # non-sealing hit is payload/comment coincidence (or a lying comment
    # length) — keep scanning, the no-EOCD rejection below covers it.
    floor = max(0, n - 22 - 65535)
    eocd = -1
    pos = n - 22
    while pos >= floor:
        if content[pos : pos + 4] == _ZIP_EOCD_SIG:
            (clen,) = struct.unpack_from("<H", content, pos + 20)
            if pos + 22 + clen == n:
                eocd = pos
                break
        pos -= 1
    if eocd == -1:
        raise ValueError("corrupt ZIP: no end-of-central-directory record")
    disk, cd_disk, n_disk, n_total, cd_size, cd_offset = struct.unpack_from(
        "<HHHHII", content, eocd + 4
    )
    if disk != 0 or cd_disk != 0 or n_disk != n_total:
        raise NotImplementedError("multi-disk ZIP archives are not supported")
    actual_cd = eocd - cd_size
    if actual_cd < 0:
        raise ValueError("corrupt ZIP: central directory size exceeds file")
    shift = actual_cd - cd_offset
    if shift < 0:
        raise ValueError(
            "corrupt ZIP: central directory offset points past its "
            "actual position"
        )

    entries = []
    pos = actual_cd
    for i in range(n_total):
        if content[pos : pos + 4] != _ZIP_CDIR_SIG:
            raise ValueError(
                f"corrupt ZIP: bad central-directory signature at entry {i}"
            )
        (
            _ver_made, _ver_need, flags, method, _time, _date,
            crc, comp_size, uncomp_size, name_len, extra_len, comment_len,
            _disk_start, _int_attrs, _ext_attrs, local_off,
        ) = struct.unpack_from("<HHHHHHIIIHHHHHII", content, pos + 4)
        name_start = pos + 46
        name = content[name_start : name_start + name_len]
        if len(name) != name_len:
            raise ValueError("corrupt ZIP: central directory truncated")
        if flags & 0x1:
            raise NotImplementedError(
                "encrypted ZIP entries are not supported"
            )
        # Flag bit 3 (data descriptor, streamed writers): only the LOCAL
        # header carries zeros — per APPNOTE 4.4.4 the CENTRAL directory
        # always records the real sizes/CRC, which is exactly what this
        # decoder trusts, so bit-3 archives (e.g. zipfile writing to a
        # non-seekable stream) decode normally (r11 ADVICE; previously
        # misclassified as corrupt). The descriptor bytes sit between
        # the data and the next local header, outside every slice this
        # walker takes.
        if method not in (0, 8):
            raise NotImplementedError(
                f"only stored (0) and deflated (8) ZIP entries are "
                f"supported (method={method})"
            )
        if method == 0 and comp_size != uncomp_size:
            raise ValueError(
                f"corrupt ZIP: stored entry {i} sizes disagree "
                f"({comp_size} != {uncomp_size})"
            )
        # Cross-check the local header the central record points at —
        # its OWN name/extra lengths decide where the data starts (local
        # extra fields legally differ from the central copy).
        lpos = shift + local_off
        if lpos + 30 > actual_cd:
            raise ValueError(
                f"corrupt ZIP: entry {i} local header outside archive body"
            )
        if content[lpos : lpos + 4] != _ZIP_LOCAL_SIG:
            raise ValueError(
                f"corrupt ZIP: bad local-header signature for entry {i}"
            )
        l_name_len, l_extra_len = struct.unpack_from("<HH", content, lpos + 26)
        if content[lpos + 30 : lpos + 30 + l_name_len] != name:
            raise ValueError(
                f"corrupt ZIP: entry {i} local/central names disagree"
            )
        data_off = lpos + 30 + l_name_len + l_extra_len
        if data_off + comp_size > actual_cd:
            raise ValueError(
                f"corrupt ZIP: entry {i} data overruns the central directory"
            )
        # Validate the payload the directory declares: decompress the
        # deflate stream (raw, wbits=-15) and cross-check BOTH declared
        # sizes, then CRC-32 over the DECOMPRESSED bytes — the content
        # contract a real unzip enforces. A truncated/garbled stream is
        # corruption, not a missing codec.
        raw = content[data_off : data_off + comp_size]
        if method == 8:
            try:
                d = zlib.decompressobj(wbits=-15)
                payload = d.decompress(raw, uncomp_size + 1)
                if not d.eof or d.unconsumed_tail or d.unused_data:
                    raise ValueError("stream does not seal its sizes")
            except (zlib.error, ValueError) as exc:
                raise ValueError(
                    f"corrupt ZIP: entry {i} deflate stream invalid ({exc})"
                ) from None
            if len(payload) != uncomp_size:
                raise ValueError(
                    f"corrupt ZIP: entry {i} inflates to {len(payload)} "
                    f"bytes, directory declares {uncomp_size}"
                )
        else:
            payload = raw
        if zlib.crc32(payload) != crc:
            raise ValueError(f"corrupt ZIP: entry {i} CRC mismatch")
        # Name encoding per APPNOTE appendix D: flag bit 11 declares
        # UTF-8; otherwise names are cp437 (which decodes every byte, so
        # only the UTF-8 branch can fail — a lying flag is corruption,
        # not a missing codec). r11 ADVICE: the old ascii decode raised
        # a bare UnicodeDecodeError on valid non-ASCII archives.
        try:
            decoded_name = name.decode("utf-8" if flags & 0x800 else "cp437")
        except UnicodeDecodeError:
            raise ValueError(
                f"corrupt ZIP: entry {i} declares UTF-8 (flag bit 11) "
                f"but its name is not valid UTF-8"
            ) from None
        entries.append(
            {
                "name": decoded_name,
                "size": uncomp_size,
                "method": method,
                "comp_size": comp_size,
                "data_offset": data_off,
                "byte_sum": sum(payload),
            }
        )
        pos = name_start + name_len + extra_len + comment_len
    if pos != eocd:
        raise ValueError(
            f"corrupt ZIP: central directory size lies "
            f"(walked to {pos}, EOCD at {eocd})"
        )
    return {
        "n_entries": n_total,
        "cd_offset": actual_cd,
        "prefix_len": shift,
        "entries": entries,
    }


def make_zip(
    payload_source: bytes,
    entry_lens: list[int],
    prefix: bytes = b"",
    comment: bytes = b"",
    methods: list[int] | None = None,
) -> bytes:
    """A real ZIP: entry ``i`` is named ``e{i}.bin`` and carries
    ``entry_lens[i]`` bytes drawn from ``payload_source`` cycled
    starting at position ``i`` (byte ``j`` of entry ``i`` is source byte
    ``(j + i) % len`` — the m8/m9 cycled-position idiom, rotated per
    entry so every entry's sum differs), stored (method 0, default) or
    deflated (method 8, raw zlib stream) per ``methods[i]``. ``prefix``
    models the self-extracting case: recorded offsets stay relative to
    the archive proper, exactly what concatenating a stub in front
    produces. The output opens in stdlib zipfile (interop pinned by the
    container property test)."""
    import struct
    import zlib

    # (No line-break guard here, unlike make_ppm: the EOCD comment is
    # length-prefixed, so any byte content is spec-legal.)
    methods = methods or [0] * len(entry_lens)
    assert len(methods) == len(entry_lens)
    assert all(m in (0, 8) for m in methods)
    payloads = []
    for i, ln in enumerate(entry_lens):
        if payload_source:
            rot = i % len(payload_source)
            rotated = payload_source[rot:] + payload_source[:rot]
        else:
            rotated = b""
        payloads.append(_cycle_bytes(rotated, ln))
    stored = []
    for p, m in zip(payloads, methods):
        if m == 0:
            stored.append(p)
        else:
            c = zlib.compressobj(wbits=-15)
            stored.append(c.compress(p) + c.flush())
    locals_blob = bytearray()
    centrals = bytearray()
    offsets = []
    for i, (payload, raw, m) in enumerate(zip(payloads, stored, methods)):
        name = f"e{i}.bin".encode()
        crc = zlib.crc32(payload)  # CRC is over the UNCOMPRESSED bytes
        offsets.append(len(locals_blob))
        locals_blob += _ZIP_LOCAL_SIG + struct.pack(
            "<HHHHHIIIHH", 20, 0, m, 0, 0x21, crc,
            len(raw), len(payload), len(name), 0,
        ) + name + raw
    for i, (payload, raw, m) in enumerate(zip(payloads, stored, methods)):
        name = f"e{i}.bin".encode()
        centrals += _ZIP_CDIR_SIG + struct.pack(
            "<HHHHHHIIIHHHHHII", 20, 20, 0, m, 0, 0x21, zlib.crc32(payload),
            len(raw), len(payload), len(name), 0, 0, 0, 0, 0,
            offsets[i],
        ) + name
    eocd = _ZIP_EOCD_SIG + struct.pack(
        "<HHHHIIH", 0, 0, len(payloads), len(payloads),
        len(centrals), len(locals_blob), len(comment),
    ) + comment
    return prefix + bytes(locals_blob) + bytes(centrals) + eocd


def zip_entry_byte_sums(blob: bytes, dec: dict | None = None) -> list[tuple]:
    """Per-entry (size, byte_sum) of the entry CONTENT, as the decoder
    summed it in its own CRC pass: sliced at the decoder's data offsets
    (the m8/m11 coupling lesson in archive form: a self-extracting
    prefix, an EOCD comment, or a local extra field moves every offset;
    the sums must not care) and inflated first when the directory says
    the entry is deflated. Content sums are method-invariant by
    construction: the oracle models the original bytes, never the
    stream."""
    if dec is None:
        dec = decode_media(blob, "archive")
    return [(e["size"], e["byte_sum"]) for e in dec["entries"]]


def ppm_channel_sums(blob: bytes, dec: dict | None = None) -> tuple:
    """(n_pixels, r_sum, g_sum, b_sum) — exact integer sums of the
    decoded RGB raster, sliced at the DECODER's data_offset (the m8
    coupling lesson: a header with comments or extra whitespace moves
    the offset; the sums must not care). P6 is RGB order — channel 0
    is RED here, where the BMP raster's channel 0 is blue."""
    if dec is None:
        dec = decode_media(blob, "image")
    data = blob[dec["data_offset"] : dec["data_offset"] + dec["data_size"]]
    return (dec["n_pixels"], sum(data[0::3]), sum(data[1::3]), sum(data[2::3]))


def make_wav(
    pcm_source: bytes, n_channels: int, n_frames: int, sample_rate: int
) -> bytes:
    """A real, spec-valid 16-bit PCM RIFF/WAVE file: canonical 44-byte
    layout (RIFF header, 16-byte fmt chunk, data chunk), interleaved
    little-endian frames whose bytes are drawn from ``pcm_source``
    (cycled/zero-padded) — the make_bmp discipline for audio: pure
    Python bytes math, deterministic across runs, engines, partitions."""
    import struct

    need = n_frames * n_channels * 2
    data = _cycle_bytes(pcm_source, need)
    block = n_channels * 2
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVEfmt "
        + struct.pack(
            "<IHHIIHH", 16, 1, n_channels, sample_rate,
            sample_rate * block, block, 16,
        )
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def wav_channel_sums(blob: bytes, dec: dict | None = None) -> list[int]:
    """Exact per-channel sums of the decoded signed 16-bit samples.

    Slices the sample data where the DECODER says it is (data_offset /
    block_align from the validated header — the m8 coupling lesson), so
    extra RIFF chunks before `data` never misalign the sums. Pass the
    already-decoded header dict via ``dec`` to skip a second chunk walk
    (the m9 hot path decodes once per blob)."""
    import struct

    if dec is None:
        dec = decode_media(blob, "audio")
    nch, nfr = dec["n_channels"], dec["n_frames"]
    data = blob[dec["data_offset"] : dec["data_offset"] + dec["data_size"]]
    vals = struct.unpack_from(f"<{nfr * nch}h", data)
    return [sum(vals[c::nch]) for c in range(nch)]


_FEATURE_DIM = 8
FEATURE_SCHEMA = (
    "media_id long, media_type string, n_bytes long, "
    "mean_byte double, features array<double>"
)


def _fake_features(payload: bytes) -> list[float]:
    """Deterministic stand-in for a decoded-media embedding: byte-histogram
    moments over _FEATURE_DIM equal slices. Pure bytes math — stable across
    runs, engines, and partitionings. RAW doubles by design: quantization
    happens in m2's Spark projection via F.round (HALF_UP, matching the
    oracle engines). A Python round() here is banker's rounding on the
    binary value — e.g. a 128-byte slice summing 12699 has mean exactly
    0.3890625, which Python rounds to .389062 and SQL to .389063 — which
    would break the m2 == m2b value anchor on any corpus that hits a tie
    (the repo-wide F.round convention, r5)."""
    n = max(len(payload), 1)
    step = max(n // _FEATURE_DIM, 1)
    out = []
    for i in range(_FEATURE_DIM):
        chunk = payload[i * step : (i + 1) * step] or b"\x00"
        out.append(sum(chunk) / len(chunk) / 255.0)
    return out


def _extract_row(mid: int, payload: bytes, mtype: str) -> Iterator[tuple]:
    # Raw double; F.round quantizes in the projection (see
    # _fake_features on why Python round() must not run here).
    mean = sum(payload) / max(len(payload), 1) / 255.0
    yield mid, mtype, len(payload), mean, _fake_features(payload)


@register(
    "m2_feature_extract",
    oracle=None,  # pandas-UDF stage; deterministic, but bytes math has no
    # tractable SQL mirror — structurally verified in tests/test_llm.py
    doc="Multimodal feature extraction: mapInPandas over (payload, "
    "metadata) → fixed-dim feature vectors; Arrow-batched, executor-"
    "local, schema-contracted. Deterministic byte-moment featurizer "
    "exercises the plumbing (decode_media handles real BMPs and WAVs, "
    "see m7/m9; other codecs stay stubbed). Rows-only here by nature (pandas "
    "byte math has no direct SQL mirror), but value-anchored "
    "transitively: the m2b portable twin carries a full value oracle "
    "and a test asserts m2b == m2 row for row.",
    tags=("llm", "multimodal", "udf"),
)
def feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media_table(spark, sf_dir).select(
        "media_id", "content", F.col("meta.media_type").alias("media_type")
    )
    # spread before the Python stage: repartitioning ahead of an expensive
    # UDF is the canonical cluster idiom, and the single-row-group input
    # would otherwise featurize in one task (tables.spread).
    feats = map_rows(spread(m), _extract_row, FEATURE_SCHEMA)
    # feature_sum rounds at the SAME 6dp scale as the addends: a sum of
    # 6dp multiples re-rounded at a coarser scale lands exactly on
    # .xxxx5 decimal boundaries, where Spark (shortest-repr HALF_UP)
    # and DuckDB (binary-double) disagree — found by fuzz grammar 16
    # on this very composition; equal scales make ties impossible.
    return feats.select(
        "media_id",
        "media_type",
        "n_bytes",
        F.round("mean_byte", 6).alias("mean_byte"),
        F.round(
            F.aggregate(
                F.transform("features", lambda x: F.round(x, 6)),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            6,
        ).alias("feature_sum"),
    )


# m2b: m2's byte math re-expressed as engine-neutral arithmetic so the
# feature-extract semantics carry a FULL value oracle (r7 verdict item 5).
# Precondition (asserted against every testdata SF, and what makes the
# mirror tractable): the synthetic corpus is pure ASCII, so the utf-8
# payload bytes ARE the characters and ascii(char) is the byte value.
# Production non-ASCII media stays on the m2 binary path; the twin's job
# is to pin the SLICE/MOMENT semantics cross-engine, not to re-implement
# unicode. The slice grid mirrors _fake_features exactly: step =
# max(len // 8, 1); slice i = bytes [i*step, (i+1)*step); an empty slice
# contributes 0.0 (m2 substitutes b"\\x00"); trailing bytes past
# 8*step are dropped by both. All sums are exact integers; each derived
# double is one shared formula shape evaluated by both engines.
_M2B_DIM = _FEATURE_DIM


def _m2b_char_sum(s: str, engine: str) -> str:
    """Exact integer sum of the byte values of string expression ``s`` —
    the one construct the engines spell differently (HOF fold vs
    list_sum); everything downstream is shared double arithmetic."""
    if engine == "spark":
        return (
            f"aggregate(transform(split({s}, ''),"
            " c -> CAST(ascii(c) AS BIGINT)),"
            " CAST(0 AS BIGINT), (a, x) -> a + x)"
        )
    return (
        f"CAST(list_sum(list_transform(string_split({s}, ''),"
        " c -> ascii(c))) AS BIGINT)"
    )


def _m2b_feature(i: int, engine: str) -> str:
    s = f"substring(text, {i} * step + 1, step)"
    return (
        f"(CASE WHEN length({s}) = 0 THEN CAST(0.0 AS DOUBLE)"
        f" ELSE round(CAST({_m2b_char_sum(s, engine)} AS DOUBLE)"
        f" / length({s}) / 255.0, 6) END)"
    )


def _m2b_select(engine: str) -> dict[str, str]:
    feature_sum = " + ".join(
        _m2b_feature(i, engine) for i in range(_M2B_DIM)
    )
    return {
        "media_id": "doc_id",
        "media_type": (
            "CASE WHEN doc_id % 3 = 0 THEN 'image'"
            " WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END"
        ),
        "n_bytes": "CAST(length(text) AS BIGINT)",
        "mean_byte": (
            f"round(CAST({_m2b_char_sum('text', engine)} AS DOUBLE)"
            " / greatest(length(text), 1) / 255.0, 6)"
        ),
        # Final round at the addends' own 6dp scale — a coarser final
        # round (the original 4) puts sums of 6dp multiples exactly on
        # .xxxx5 boundaries where the engines' round() implementations
        # split (Spark shortest-repr HALF_UP vs DuckDB binary-double);
        # fuzz grammar 16 falsified that composition on its first run.
        "feature_sum": f"round({feature_sum}, 6)",
    }


_M2B_ORACLE_SEL = ",\n           ".join(
    f"{e} AS {n}" for n, e in _m2b_select("duck").items()
)


@register(
    "m2b_portable_feature_extract",
    oracle=f"""
    WITH stepped AS (
      SELECT doc_id, text,
             greatest(length(text) // {_M2B_DIM}, 1) AS step
      FROM documents
    )
    SELECT {_M2B_ORACLE_SEL}
    FROM stepped
    ORDER BY media_id
    """,
    doc="M2b: m2's deterministic byte-moment featurizer re-expressed as "
    "engine-neutral integer/double arithmetic (ascii-sum folds over the "
    "same slice grid, shared formula shapes both engines evaluate) — the "
    "portable twin that gives the feature-extract semantics a full value "
    "oracle; tests additionally assert m2b's output EQUALS m2's pandas "
    "path row for row, so the mapInPandas stage is value-anchored "
    "transitively. ASCII-corpus precondition documented in-module; the "
    "JVM path here is also the 100 TB preference whenever the 'codec' "
    "is pure byte math — whole-stage codegen, no Python workers, no "
    "Arrow transfer.",
    tags=("llm", "multimodal"),
)
def portable_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stepped = d.select(
        "doc_id",
        "text",
        F.expr(f"greatest(length(text) div {_M2B_DIM}, 1)").alias("step"),
    )
    # Optimization r13 (guide §4.1/§2.3 — Catalyst HOF lambdas get no
    # common-subexpression elimination): the shared _m2b_select("spark")
    # form re-ran split()+ascii() inside every one of the 33 per-slice
    # folds (~2x|text| single-char string allocations per row). Compute
    # the byte-value array ONCE in its own projection and fold each
    # feature over slice(bytes, ...) of that column instead. Values are
    # bit-identical: slice(bytes, p, n) holds exactly the ascii codes of
    # substring(text, p, n) (same positions; a trailing empty split
    # element can only add ascii('')=0 to the LAST slice's sum), the
    # denominators still come from substring length, and the duck-side
    # formula — the oracle — is untouched. Measured: 1.69 s -> see
    # OPTIMIZATION_r13.md.
    withbytes = stepped.select(
        "doc_id",
        "text",
        "step",
        F.expr(
            "transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT))"
        ).alias("bytes"),
    )

    def slice_sum(start: str, n: str) -> str:
        return (
            f"aggregate(slice(bytes, {start}, {n}),"
            " CAST(0 AS BIGINT), (a, x) -> a + x)"
        )

    features = []
    for i in range(_M2B_DIM):
        s = f"substring(text, {i} * step + 1, step)"
        features.append(
            f"(CASE WHEN length({s}) = 0 THEN CAST(0.0 AS DOUBLE)"
            f" ELSE round(CAST({slice_sum(f'{i} * step + 1', 'step')} AS DOUBLE)"
            f" / length({s}) / 255.0, 6) END)"
        )
    sel = {
        "media_id": "doc_id",
        "media_type": (
            "CASE WHEN doc_id % 3 = 0 THEN 'image'"
            " WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END"
        ),
        "n_bytes": "CAST(length(text) AS BIGINT)",
        "mean_byte": (
            f"round(CAST({slice_sum('1', 'length(text)')} AS DOUBLE)"
            " / greatest(length(text), 1) / 255.0, 6)"
        ),
        "feature_sum": f"round({' + '.join(features)}, 6)",
    }
    return withbytes.select(
        *[F.expr(e).alias(n) for n, e in sel.items()]
    )


_FRAME_SCHEMA = "media_id long, frame_no int, frame_bytes long"
_FRAME_SIZE = 64  # bytes per fake "frame"
_FRAME_STRIDE = 4  # sample every 4th frame


def _sample_row(mid: int, payload: bytes) -> Iterator[tuple]:
    n_frames = max(len(payload) // _FRAME_SIZE, 1)
    for frame_no in range(0, n_frames, _FRAME_STRIDE):
        chunk = payload[frame_no * _FRAME_SIZE : (frame_no + 1) * _FRAME_SIZE]
        yield mid, frame_no, len(chunk)


@register(
    "m3_frame_sample",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(ceil(greatest(octet_length(encode(text)) // 64, 1) / 4.0) AS BIGINT)
             AS n_sampled_frames
    FROM documents
    ORDER BY media_id
    """,
    doc="Multimodal frame sampling: mapInPandas fan-out — one 'video' row "
    "explodes to every 4th 64-byte frame (UDTF shape); count per media "
    "checked against the closed-form oracle. At scale the fan-out happens "
    "executor-side before any shuffle.",
    tags=("llm", "multimodal", "udf"),
)
def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media_table(spark, sf_dir).select("media_id", "content")
    # spread: same rationale as m2 — parallelize the Python fan-out stage.
    frames = map_rows(spread(m, "media_id"), _sample_row, _FRAME_SCHEMA)
    return (
        frames.groupBy("media_id")
        .agg(F.count(F.lit(1)).alias("n_sampled_frames"))
    )


def _map_documents(
    spark: SparkSession,
    sf_dir: str,
    fn: Callable[[int, bytes], Iterable[tuple]],
    schema: str,
) -> DataFrame:
    """A document-text stage: ``fn(doc_id, text bytes)`` over the spread
    ``documents`` table, with the ASCII corpus contract (module docstring)
    asserted here, for every such stage."""

    def row(doc_id: int, text: str) -> Iterable[tuple]:
        assert text.isascii(), f"the oracle assumes ASCII text; doc {doc_id} is not"
        return fn(doc_id, text.encode())

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(spread(d), row, schema)


_M7_SCHEMA = (
    "media_id long, width long, height long, bpp long, "
    "image_size long, file_size long"
)


def _bmp_roundtrip_row(mid: int, data: bytes) -> Iterator[tuple]:
    dec = decode_media(make_bmp(data, mid % 16 + 1, mid % 8 + 1), "image")
    yield mid, *(dec[k] for k in ("width", "height", "bpp", "image_size", "file_size"))


@register(
    "m7_bmp_decode",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(doc_id % 16 + 1 AS BIGINT) AS width,
           CAST(doc_id % 8 + 1 AS BIGINT)  AS height,
           CAST(24 AS BIGINT)              AS bpp,
           CAST(((doc_id % 16 + 1) * 3 + 3) // 4 * 4 * (doc_id % 8 + 1)
                AS BIGINT)                 AS image_size,
           CAST(54 + ((doc_id % 16 + 1) * 3 + 3) // 4 * 4
                     * (doc_id % 8 + 1)
                AS BIGINT)                 AS file_size
    FROM documents
    ORDER BY media_id
    """,
    doc="M7: REAL container decode — each document's bytes become a "
    "spec-valid uncompressed 24-bit BMP (14-byte file header, 40-byte "
    "BITMAPINFOHEADER, 4-byte-padded bottom-up rows) and decode_media "
    "parses the header back: magic, declared sizes cross-checked "
    "against the actual byte count, dimensions, bpp. This replaces the "
    "engine's former always-raising codec hook with a working parser "
    "for one real format (the hook still raises for containers that "
    "need external codec libs). The oracle is the closed-form BMP "
    "geometry (row stride = (3w+3)//4*4), so the driver verifies that "
    "the builder and parser agree with the SPEC, not just with each "
    "other. Same 100 TB shape as m2/m3: Arrow-batched mapInPandas, "
    "bytes never leave the executor, metadata-only output.",
    tags=("llm", "multimodal", "udf"),
)
def bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _map_documents(spark, sf_dir, _bmp_roundtrip_row, _M7_SCHEMA)


_M8_SCHEMA = (
    "media_id long, n_pixels long, b_sum long, g_sum long, r_sum long"
)


def bmp_channel_sums(blob: bytes) -> tuple[int, int, int, int]:
    """(n_pixels, b_sum, g_sum, r_sum) of a decoded BMP's pixel array.

    Slices the pixel bytes where the DECODER says they are — offset and
    row stride come from the validated header, so a spec-legal
    offset > 54 blob (color-profile gap between header and pixels) stays
    aligned, and m8 anchors decode_media's own layout math instead of
    re-deriving make_bmp's minimal 54-byte layout (round-9 verdict)."""
    dec = decode_media(blob, "image")
    stride, off = dec["row_stride"], dec["offset"]
    px = blob[off : off + dec["image_size"]]
    # Strip the 4-byte row padding (channel sums are row-order-invariant,
    # so bottom-up vs top-down storage needs no special-casing).
    src = b"".join(
        px[j * stride : j * stride + dec["width"] * 3]
        for j in range(dec["height"])
    )
    return (
        dec["width"] * dec["height"],
        sum(src[0::3]),
        sum(src[1::3]),
        sum(src[2::3]),
    )


def _bmp_channel_row(mid: int, data: bytes) -> Iterator[tuple]:
    yield mid, *bmp_channel_sums(make_bmp(data, mid % 16 + 1, mid % 8 + 1))


def _m8_chan_oracle(c: int) -> str:
    """DuckDB channel-c pixel sum, closed-form from the document text:
    make_bmp cycles the text bytes into a w*h*3 pixel array, so channel
    c's bytes sit at source positions c, c+3, ... — recomputed here
    directly from the text (padding bytes never counted), which is what
    makes the sum an exact-integer anchor for the DECODED pixel array."""
    return f"""CAST(CASE WHEN length(text) = 0 THEN 0 ELSE
           list_sum(list_transform(
             generate_series({c}, 3 * (doc_id % 16 + 1) * (doc_id % 8 + 1) - 1, 3),
             i -> ascii(substring(text, (i % length(text)) + 1, 1))))
           END AS BIGINT)"""


@register(
    "m8_bmp_channel_stats",
    oracle=f"""
    SELECT doc_id AS media_id,
           CAST((doc_id % 16 + 1) * (doc_id % 8 + 1) AS BIGINT) AS n_pixels,
           {_m8_chan_oracle(0)} AS b_sum,
           {_m8_chan_oracle(1)} AS g_sum,
           {_m8_chan_oracle(2)} AS r_sum
    FROM documents
    ORDER BY media_id
    """,
    doc="M8: decoded PIXEL-ARRAY anchor — m7 verifies the header fields; "
    "this verifies the payload. Each document becomes a 24-bit BMP "
    "(m7's geometry), the decoder validates the container, and the "
    "pixel array is sliced back out — per-row 4-byte padding stripped "
    "— into exact per-channel (B,G,R) byte sums. The oracle recomputes "
    "the same sums closed-form from the text (channel c = source "
    "positions c, c+3, ... of the cycled bytes), so a stride, padding, "
    "or row-slicing bug in the builder/decoder pair diverges from the "
    "oracle even when the headers still agree. All-integer output: no "
    "float rounding anywhere (the grammar-16 tie class can't occur). "
    "Corpus contract: the oracle counts CODE POINTS (ascii/substring) "
    "while the builder cycles encode() bytes — identical only on ASCII "
    "text, which the builder asserts per document (fails loudly if a "
    "future corpus goes multi-byte). "
    "Same 100 TB shape as m2/m7: Arrow-batched mapInPandas after a "
    "spread() repartition, bytes never leave the executor, "
    "metadata-sized output.",
    tags=("llm", "multimodal", "udf"),
)
def bmp_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _map_documents(spark, sf_dir, _bmp_channel_row, _M8_SCHEMA)


_M9_SCHEMA = (
    "media_id long, channel long, sample_rate long, n_frames long, "
    "sample_sum long"
)


def _wav_row(mid: int, data: bytes) -> Iterator[tuple]:
    blob = make_wav(data, mid % 2 + 1, mid % 12 + 1, 8000 + mid % 3 * 4000)
    dec = decode_media(blob, "audio")
    for ch, s in enumerate(wav_channel_sums(blob, dec)):
        yield mid, ch, dec["sample_rate"], dec["n_frames"], s


def _m9_byte_oracle(p: str) -> str:
    """DuckDB byte at cycled position ``p`` of the document text (the m8
    cycling idiom: make_wav draws data bytes from text.encode() cycled,
    and on the asserted-ASCII corpus ascii(char) == byte)."""
    return f"ascii(substring(text, (({p}) % length(text)) + 1, 1))"


@register(
    "m9_wav_decode",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, text,
             doc_id % 2 + 1            AS nch,
             doc_id % 12 + 1           AS nfr,
             8000 + doc_id % 3 * 4000  AS rate
      FROM documents
    ),
    c AS (
      SELECT doc_id, text, nch, nfr, rate, unnest(range(0, nch)) AS ch
      FROM g
    )
    SELECT doc_id              AS media_id,
           CAST(ch AS BIGINT)  AS channel,
           CAST(rate AS BIGINT) AS sample_rate,
           CAST(nfr AS BIGINT) AS n_frames,
           CAST(CASE WHEN length(text) = 0 THEN 0 ELSE
             list_sum(list_transform(generate_series(0, nfr - 1), f ->
               ({_m9_byte_oracle("2 * (f * nch + ch)")}
                + 256 * {_m9_byte_oracle("2 * (f * nch + ch) + 1")}
                + 32768) % 65536 - 32768))
           END AS BIGINT)      AS sample_sum
    FROM c
    ORDER BY media_id, channel
    """,
    doc="M9: second REAL container — 16-bit PCM RIFF/WAVE (the audio "
    "face of the m7/m8 discipline). Each document's bytes become a "
    "spec-valid canonical WAV (RIFF + fmt + data, mono or stereo, "
    "varied sample rates); decode_media walks the chunk list — "
    "skipping spec-legal unknown chunks with the RIFF pad byte, "
    "cross-checking every declared size, splitting corrupt (ValueError) "
    "from missing-codec (NotImplementedError) — and the samples are "
    "sliced at the DECODER's data_offset/block_align into exact "
    "per-channel signed-16-bit sums. The oracle recomputes the sums "
    "closed-form from the text (channel ch of frame f = bytes "
    "2(f·nch+ch), +1 of the cycled bytes; sign via the branchless "
    "(b0+256·b1+32768) % 65536 − 32768, exact in BIGINT — no float "
    "surface, the grammar-16 tie class can't occur). Corpus contract: "
    "ASCII-only, asserted in the builder (the m8 lesson). Same 100 TB "
    "shape as m7/m8: Arrow-batched mapInPandas after spread(), bytes "
    "never leave the executor, metadata-sized output (≤2 rows/doc).",
    tags=("llm", "multimodal", "udf"),
)
def wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _map_documents(spark, sf_dir, _wav_row, _M9_SCHEMA)


_M10_SCHEMA = (
    "media_id long, channel long, win_no long, n_win_frames long, "
    "win_sum long, win_peak long"
)
_M10_WIN_FRAMES = 4  # fixed analysis-window size (frames per window)


def wav_window_stats(
    blob: bytes, dec: dict | None = None, win_frames: int | None = None
) -> list[tuple]:
    """Per-(channel, window) exact integer stats of the decoded samples:
    (channel, win_no, n_win_frames, win_sum, win_peak) for fixed
    ``win_frames``-frame windows (default ``_M10_WIN_FRAMES``), last
    window ragged. Slices the sample data where the DECODER says it is
    (data_offset / block layout — the m8 coupling lesson, shared with
    wav_channel_sums). ``win_frames`` is an explicit argument (not a
    patched global) because the grammar-18 fuzz drives it from inside
    Python workers, where a driver-side monkeypatch never arrives."""
    import struct

    if dec is None:
        dec = decode_media(blob, "audio")
    if win_frames is None:
        win_frames = _M10_WIN_FRAMES
    if win_frames < 1:
        # Fail loudly: 0 would raise a bare range() ValueError below and
        # a negative value would silently yield NO windows.
        raise ValueError(f"win_frames must be >= 1, got {win_frames}")
    nch, nfr = dec["n_channels"], dec["n_frames"]
    data = blob[dec["data_offset"] : dec["data_offset"] + dec["data_size"]]
    vals = struct.unpack_from(f"<{nfr * nch}h", data)
    out = []
    for ch in range(nch):
        chan = vals[ch::nch]
        for w0 in range(0, nfr, win_frames):
            win = chan[w0 : w0 + win_frames]
            out.append((ch, w0 // win_frames, len(win), sum(win), max(win)))
    return out


def _wav_window_row(mid: int, data: bytes) -> Iterator[tuple]:
    blob = make_wav(data, mid % 2 + 1, mid % 24 + 1, 8000 + mid % 3 * 4000)
    for stats in wav_window_stats(blob, decode_media(blob, "audio")):
        yield mid, *stats


def _m10_sample_oracle() -> str:
    """DuckDB signed-16-bit sample for frame ``f``, channel ``ch`` of the
    cycled text bytes — m9's branchless sign idiom, exact in BIGINT."""
    return (
        f"({_m9_byte_oracle('2 * (f * nch + ch)')}"
        f" + 256 * {_m9_byte_oracle('2 * (f * nch + ch) + 1')}"
        " + 32768) % 65536 - 32768"
    )


def _m10_oracle() -> str:
    """The m10 window-stats oracle — module-level so m10b (the JVM-path
    twin) registers the IDENTICAL closed form under its own name."""
    return f"""
    WITH g AS (
      SELECT doc_id, text,
             doc_id % 2 + 1  AS nch,
             doc_id % 24 + 1 AS nfr
      FROM documents
    ),
    c AS (
      SELECT doc_id, text, nch, nfr, unnest(range(0, nch)) AS ch FROM g
    ),
    w AS (
      SELECT doc_id, text, nch, nfr, ch,
             unnest(range(0, (nfr + {_M10_WIN_FRAMES - 1}) // {_M10_WIN_FRAMES})) AS win
      FROM c
    )
    SELECT doc_id               AS media_id,
           CAST(ch AS BIGINT)   AS channel,
           CAST(win AS BIGINT)  AS win_no,
           CAST(least({_M10_WIN_FRAMES}, nfr - {_M10_WIN_FRAMES} * win)
                AS BIGINT)      AS n_win_frames,
           CAST(CASE WHEN length(text) = 0 THEN 0 ELSE
             list_sum(list_transform(
               generate_series({_M10_WIN_FRAMES} * win,
                               least({_M10_WIN_FRAMES} * win + {_M10_WIN_FRAMES - 1},
                                     nfr - 1)),
               f -> {_m10_sample_oracle()}))
           END AS BIGINT)       AS win_sum,
           CAST(CASE WHEN length(text) = 0 THEN 0 ELSE
             list_max(list_transform(
               generate_series({_M10_WIN_FRAMES} * win,
                               least({_M10_WIN_FRAMES} * win + {_M10_WIN_FRAMES - 1},
                                     nfr - 1)),
               f -> {_m10_sample_oracle()}))
           END AS BIGINT)       AS win_peak
    FROM w
    ORDER BY media_id, channel, win_no
    """


@register(
    "m10_wav_window_stats",
    oracle=_m10_oracle(),
    doc="M10: audio FEATURE EXTRACTION over the decoded payload — the "
    "windowing/framing stage every audio pipeline runs before VAD, "
    "silence trimming, or loudness filtering: each document becomes a "
    "16-bit PCM WAV (m9's builder, up to 24 frames so the windows are "
    "non-trivial), decode_media validates the container, and the "
    "samples — sliced at the DECODER's data_offset/block layout, never "
    "the builder's — are cut into fixed 4-frame analysis windows with "
    "exact integer energy-sum and peak per (channel, window), last "
    "window ragged. The oracle recomputes every window closed-form "
    "from the text (frame f, channel ch = cycled bytes 2(f·nch+ch), "
    "+1; sign via the branchless m9 idiom; window membership via "
    "strided generate_series) — all-BIGINT output, no float surface. "
    "Corpus contract: ASCII-only, asserted in the builder. 100 TB "
    "shape: Arrow-batched mapInPandas after spread(), audio bytes "
    "never leave the executor, output is metadata-sized (≤12 rows/doc "
    "— 2 channels × ≤6 windows); the windowing is pure executor-local "
    "arithmetic, so the stage scales with payload bytes exactly like "
    "m9 (SCALE.md round-10 curves).",
    tags=("llm", "multimodal", "udf"),
)
def wav_window_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _map_documents(spark, sf_dir, _wav_window_row, _M10_SCHEMA)


# m10b: the sample value as one Spark-SQL fragment — signed 16-bit
# little-endian at cycled byte positions 2(f·nch+ch), +1 of the text,
# the exact arithmetic m9's oracle established (branchless sign, exact
# in BIGINT). `f` is the HOF lambda variable; `nch`/`ch` are projected
# columns in scope at the use site. CAST to BIGINT up front so the
# position arithmetic and the %65536 fold stay in the 64-bit domain
# both engines share.
_M10B_SAMPLE = (
    "(ascii(substring(text,"
    " ((2 * (f * nch + ch)) % length(text)) + 1, 1))"
    " + 256 * ascii(substring(text,"
    " ((2 * (f * nch + ch) + 1) % length(text)) + 1, 1))"
    " + 32768) % 65536 - 32768"
)
_M10B_FRAMES = (
    f"sequence(CAST({_M10_WIN_FRAMES} * win AS BIGINT), "
    f"CAST(least({_M10_WIN_FRAMES} * win + {_M10_WIN_FRAMES - 1}, nfr - 1)"
    " AS BIGINT))"
)
_M10B_SAMPLES = f"transform({_M10B_FRAMES}, f -> {_M10B_SAMPLE})"
# Both window stats in ONE evaluation: higher-order functions are not
# whole-stage-codegen'd, so they get no common-subexpression
# elimination — a naive `aggregate(samples) AS win_sum,
# array_max(samples) AS win_peak` builds the sample array TWICE per row
# (measured 2.33 s vs 1.29 s for the pandas path at sf0.1 before this
# form). The fix: one transform builds the samples once, one aggregate
# folds sum and peak together into a struct, and inline(array(...))
# turns the struct into real output attributes through a Generator —
# which Catalyst evaluates once per row, immune to the projection
# collapse that would otherwise duplicate a struct-field extraction.
_M10B_STATS = f"""inline(array(CASE WHEN length(text) = 0
  THEN named_struct('win_sum', CAST(0 AS BIGINT),
                    'win_peak', CAST(0 AS BIGINT))
  ELSE aggregate(
    {_M10B_SAMPLES},
    named_struct('win_sum', CAST(0 AS BIGINT),
                 'win_peak', CAST(-32769 AS BIGINT)),
    (acc, x) -> named_struct('win_sum', acc.win_sum + x,
                             'win_peak', greatest(acc.win_peak, x)))
  END))"""


@register(
    "m10b_portable_wav_window_stats",
    oracle=_m10_oracle(),
    doc="M10b: m10's windowed audio stats re-expressed as pure Spark-SQL "
    "higher-order functions — no Python worker, no Arrow transfer, no "
    "codec: because make_wav derives the samples deterministically from "
    "the text bytes, the window sums/peaks have a closed form the JVM "
    "can evaluate directly (sequence→transform→aggregate/array_max over "
    "the cycled-byte sample arithmetic, all exact BIGINT). The portable "
    "twin of the m2/m2b pattern: tests pin m10b == m10 row for row, so "
    "the pandas decode path is value-anchored against the JVM path AND "
    "both against the DuckDB oracle. At 100 TB this is the preferred "
    "form whenever the 'decode' is pure byte math — whole-stage-"
    "codegen-adjacent HOFs, zero Python — while m10 carries the shape "
    "real codecs need; the permanent A/B keeps the Python-stage premium "
    "measured (bench: m10 vs m10b). Measured premium (r11 same-session "
    "A/B, twice, plus the r10 driver bench — all three agree): at sf0.1 "
    "m10b runs 1.3-1.7x SLOWER than m10 — the Catalyst HOF fold gets no "
    "common-subexpression elimination (each window re-derives its "
    "samples inside aggregate+array_max), which at this payload size "
    "costs more than m10's Arrow round-trip; SCALE.md's earlier parity "
    "rows were host-weather noise. The twin stays: at larger frames/doc "
    "the Arrow transfer grows linearly while the HOF overhead is "
    "per-expression, and the value anchor is the point.",
    tags=("llm", "multimodal"),
)
def portable_wav_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    g = d.select(
        "doc_id",
        "text",
        F.expr("doc_id % 2 + 1").alias("nch"),
        F.expr("doc_id % 24 + 1").alias("nfr"),
    )
    c = g.select(
        "doc_id", "text", "nch", "nfr",
        F.explode(F.expr("sequence(0, nch - 1)")).alias("ch"),
    )
    w = c.select(
        "doc_id", "text", "nch", "nfr", "ch",
        F.explode(
            F.expr(
                f"sequence(0, (nfr + {_M10_WIN_FRAMES - 1})"
                f" div {_M10_WIN_FRAMES} - 1)"
            )
        ).alias("win"),
    )
    return w.select(
        F.col("doc_id").alias("media_id"),
        F.col("ch").cast("long").alias("channel"),
        F.col("win").cast("long").alias("win_no"),
        F.expr(
            f"CAST(least({_M10_WIN_FRAMES}, nfr - {_M10_WIN_FRAMES} * win)"
            " AS BIGINT)"
        ).alias("n_win_frames"),
        F.expr(_M10B_STATS),
    )


_M11_SCHEMA = (
    "media_id long, width long, height long, maxval long, n_pixels long, "
    "r_sum long, g_sum long, b_sum long"
)


def _ppm_row(mid: int, data: bytes) -> Iterator[tuple]:
    # Odd ids carry a spec-legal header comment — a layout the oracle
    # never models, so the sums stay right only if they slice at the
    # decoder's offset (the WAV JUNK-gap idiom).
    comment = f"synthetic {mid}" if mid % 2 else None
    blob = make_ppm(data, mid % 16 + 1, mid % 8 + 1, comment=comment)
    dec = decode_media(blob, "image")
    dims = dec["width"], dec["height"], dec["maxval"]
    yield mid, *dims, *ppm_channel_sums(blob, dec)


@register(
    "m11_ppm_decode",
    oracle=f"""
    SELECT doc_id AS media_id,
           CAST(doc_id % 16 + 1 AS BIGINT) AS width,
           CAST(doc_id % 8 + 1 AS BIGINT)  AS height,
           CAST(255 AS BIGINT)             AS maxval,
           CAST((doc_id % 16 + 1) * (doc_id % 8 + 1) AS BIGINT) AS n_pixels,
           {_m8_chan_oracle(0)} AS r_sum,
           {_m8_chan_oracle(1)} AS g_sum,
           {_m8_chan_oracle(2)} AS b_sum
    FROM documents
    ORDER BY media_id
    """,
    doc="M11: third REAL container — binary Netpbm P6/PPM, the "
    "ASCII-TOKENIZED-HEADER parsing family the fixed-struct BMP and "
    "chunk-walked WAV branches don't exercise: decimal tokens separated "
    "by arbitrary whitespace, `#` comments legal wherever whitespace "
    "is, exactly one separator byte before the raster, every declared "
    "byte accounted for (corrupt vs missing-codec split: maxval > 255 "
    "two-byte samples raise NotImplementedError). Each document becomes "
    "a spec-valid P6 (odd ids carry a header COMMENT the oracle never "
    "models — the offset shift exists only on the Spark side, so the "
    "channel sums survive only by slicing at the decoder's "
    "data_offset), and the raster comes back as exact per-channel "
    "(R,G,B) sums against m8's closed-form cycled-bytes oracle — the "
    "raster layout is byte-identical to the BMP pixel array minus row "
    "padding, which is exactly why the shared oracle anchors BOTH "
    "decoders' slicing. All-integer output; ASCII corpus asserted. "
    "Same 100 TB shape as m7-m10: Arrow-batched mapInPandas after "
    "spread(), bytes never leave the executor, one row per media.",
    tags=("llm", "multimodal", "udf"),
)
def ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _map_documents(spark, sf_dir, _ppm_row, _M11_SCHEMA)


_M12_SCHEMA = (
    "media_id long, entry_no long, name string, n_bytes long, byte_sum long"
)


def _zip_manifest_rows(mid: int, blob: bytes, field: str) -> Iterator[tuple]:
    """m12-m14's manifest: one (media_id, entry_no, entry ``field``,
    n_bytes, byte_sum) row per entry, sliced where the decoder says."""
    for i, e in enumerate(decode_media(blob, "archive")["entries"]):
        yield mid, i, e[field], e["size"], e["byte_sum"]


def _zip_row(mid: int, data: bytes) -> Iterator[tuple]:
    lens = [mid % 13 + 1 + 7 * i for i in range(mid % 3 + 1)]
    blob = make_zip(
        data,
        lens,
        # Self-extracting junk prefix (odd ids) and EOCD comment
        # (ids ≡ 1 mod 3): layout the oracle never models —
        # correctness REQUIRES slicing at the decoder's shifted offsets.
        prefix=b"\xfe" * (mid % 5 + 1) if mid % 2 else b"",
        comment=f"synthetic {mid}".encode() if mid % 3 == 1 else b"",
    )
    return _zip_manifest_rows(mid, blob, "name")


@register(
    "m12_zip_manifest",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, text, doc_id % 3 + 1 AS ne FROM documents
    ),
    e AS (SELECT doc_id, text, unnest(range(0, ne)) AS i FROM g),
    s AS (SELECT doc_id, text, i, doc_id % 13 + 1 + 7 * i AS len FROM e)
    SELECT doc_id                 AS media_id,
           CAST(i AS BIGINT)      AS entry_no,
           'e' || i || '.bin'     AS name,
           CAST(len AS BIGINT)    AS n_bytes,
           CAST(CASE WHEN length(text) = 0 THEN 0 ELSE
             list_sum(list_transform(generate_series(0, len - 1), j ->
               {_m9_byte_oracle("j + i")}))
           END AS BIGINT)         AS byte_sum
    FROM s
    ORDER BY media_id, entry_no
    """,
    doc="M12: fourth REAL container, and the first MULTI-ENTRY one — a "
    "ZIP central-directory walk, closing the loop back to the "
    "reference's own decompress stage (src/bak_unload.ps1:74-75) with "
    "the m-family's exact-integer oracle discipline. Each document "
    "becomes a stored-method archive of 1-3 entries (entry i carries "
    "the text bytes cycled from position i); decode_media('archive') "
    "finds the EOCD from the tail (it floats behind a variable-length "
    "comment), walks the central directory, cross-checks every entry "
    "against its local header (whose OWN name/extra lengths place the "
    "data), validates CRC-32, and derives the self-extracting prefix "
    "shift from where the directory ACTUALLY sits vs where the EOCD "
    "claims — the manifest sums are sliced at the decoder's shifted "
    "offsets (odd ids carry a junk prefix the oracle never models: the "
    "m8/m11 coupling lesson in archive form). Structural lies "
    "(truncated EOCD, lying cd_size/counts/sizes, CRC damage, garbled "
    "deflate streams) raise ValueError; content needing another codec "
    "(exotic methods, encryption, multi-disk) raises "
    "NotImplementedError; stdlib-zipfile "
    "interop is pinned both directions by the container property. Same "
    "100 TB shape as m7-m11: Arrow-batched mapInPandas after spread(), "
    "bytes never leave the executor, manifest-sized output (1-3 "
    "rows/doc) — exactly how a crawl turns an archive column into a "
    "training-data manifest.",
    tags=("llm", "multimodal", "udf", "reference-fidelity"),
)
def zip_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _map_documents(spark, sf_dir, _zip_row, _M12_SCHEMA)


_M13_SCHEMA = (
    "media_id long, entry_no long, method long, n_bytes long, byte_sum long"
)


def _zip_deflate_row(mid: int, data: bytes) -> Iterator[tuple]:
    ne = mid % 4 + 1
    blob = make_zip(
        data,
        [mid % 11 + 1 + 5 * i for i in range(ne)],
        prefix=b"\xfd" * (mid % 3) if mid % 2 else b"",
        methods=[(mid + i) % 2 * 8 for i in range(ne)],
    )
    return _zip_manifest_rows(mid, blob, "method")


@register(
    "m13_zip_deflate_manifest",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, text, doc_id % 4 + 1 AS ne FROM documents
    ),
    e AS (SELECT doc_id, text, unnest(range(0, ne)) AS i FROM g),
    s AS (SELECT doc_id, text, i, doc_id % 11 + 1 + 5 * i AS len FROM e)
    SELECT doc_id                          AS media_id,
           CAST(i AS BIGINT)               AS entry_no,
           CAST((doc_id + i) % 2 * 8 AS BIGINT) AS method,
           CAST(len AS BIGINT)             AS n_bytes,
           CAST(CASE WHEN length(text) = 0 THEN 0 ELSE
             list_sum(list_transform(generate_series(0, len - 1), j ->
               {_m9_byte_oracle("j + i")}))
           END AS BIGINT)                  AS byte_sum
    FROM s
    ORDER BY media_id, entry_no
    """,
    doc="M13: the ZIP codec's DEFLATE face — real decompression (stdlib "
    "zlib, raw wbits=-15), which is what almost every archive a crawl "
    "meets actually uses. Each document becomes a 1-4 entry archive "
    "with methods alternating stored/deflated per (doc_id + entry) "
    "parity; the decoder inflates deflated entries, cross-checks BOTH "
    "declared sizes against the stream (non-sealing, truncated, or "
    "over-inflating streams are corruption — ValueError), and "
    "validates CRC-32 over the DECOMPRESSED bytes, exactly the "
    "contract a real unzip enforces. The oracle is method-INVARIANT by "
    "construction: it models the original cycled text bytes and never "
    "sees the stream — so any inflation slip (wrong window bits, "
    "gzip-vs-raw confusion, partial reads) diverges immediately, while "
    "the compressed bytes themselves (zlib-version-dependent) never "
    "enter the verified surface. Same 100 TB shape as m12: "
    "Arrow-batched mapInPandas after spread(), decompression stays on "
    "the executor, manifest-sized output. Closes the reference's "
    "decompress stage (src/bak_unload.ps1:74-75) for real: m12 walks "
    "the container, m13 extracts content.",
    tags=("llm", "multimodal", "udf", "reference-fidelity"),
)
def zip_deflate_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _map_documents(spark, sf_dir, _zip_deflate_row, _M13_SCHEMA)


def _m14_geometry(mid: int) -> tuple[list[int], list[int]]:
    """Per-archive layout for the persisted column: 2-4 entries, mixed
    stored/deflated, sizes a closed-form function of doc_id alone (the
    m12/m13 oracle discipline)."""
    ne = mid % 3 + 2
    lens = [mid % 9 + 2 + 6 * i for i in range(ne)]
    methods = [0 if (mid + i) % 3 == 0 else 8 for i in range(ne)]
    return lens, methods


def _pack_archive_row(mid: int, data: bytes) -> Iterator[tuple]:
    """The SYNTHESIS stage — runs only inside publish_archive_column,
    never on the m14 apply path (pinned by test: make_zip monkeypatched
    to raise once the artifact exists)."""
    lens, methods = _m14_geometry(mid)
    yield mid, make_zip(
        data,
        lens,
        # Same layout variety as m12: junk prefix (odd ids) and EOCD
        # comment (ids ≡ 2 mod 3) the oracle never models — decode must
        # slice at shifted offsets.
        prefix=b"\xfc" * (mid % 4) if mid % 2 else b"",
        comment=f"m14 {mid}".encode() if mid % 3 == 2 else b"",
        methods=methods,
    )


def _decode_persisted_row(mid: int, blob: bytes) -> Iterator[tuple]:
    """The APPLY stage: decode + manifest only. No synthesis anywhere —
    this function must never reference make_zip."""
    return _zip_manifest_rows(mid, blob, "method")


def _archive_artifact_base(sf_dir: str) -> str:
    """Keyed by the packer config (one version tag)."""
    config = "zipcol-v2-m14"
    return artifact_dir(sf_dir, "documents", "mric_media_artifacts", config)


def publish_archive_column(spark: SparkSession, sf_dir: str) -> str:
    """Pack-if-missing: return the published archive-column path (a
    parquet of ``media_id, content binary``), packing only when absent —
    the s11/l26c write-audit-publish shape applied to a MEDIA column.
    The audit decodes every blob that was ACTUALLY written (distributed,
    full structural validation: EOCD walk, local-header cross-checks,
    inflate, CRC) and compares three aggregates — blob count, entry
    count, total payload bytes — against the closed-form geometry; only
    then does the atomic rename publish (`artifacts.publish`).
    """
    import os

    def write(staging: str) -> None:
        _map_documents(
            spark, sf_dir, _pack_archive_row, "media_id long, content binary"
        ).write.mode("overwrite").parquet(staging)
        # Audit what was written: decode every blob, aggregate, compare
        # to the closed-form expectation. One distributed pass; 1 row
        # collected.
        staged = spark.read.parquet(staging)
        got = (
            map_rows(staged, _decode_persisted_row, _M13_SCHEMA)
            .agg(
                F.countDistinct("media_id").alias("n_blobs"),
                F.count(F.lit(1)).alias("n_entries"),
                F.sum("n_bytes").alias("n_payload_bytes"),
            )
            .collect()[0]
        )
        ne = F.col("doc_id") % 3 + 2
        want = (
            load_table(spark, sf_dir, "documents")
            .select(
                ne.alias("ne"),
                (ne * (F.col("doc_id") % 9 + 2) + 3 * ne * (ne - 1)).alias(
                    "pb"
                ),
            )
            .agg(
                F.count(F.lit(1)).alias("n_blobs"),
                F.sum("ne").alias("n_entries"),
                F.sum("pb").alias("n_payload_bytes"),
            )
            .collect()[0]
        )
        if tuple(got) != tuple(want):
            raise ValueError(
                f"archive-column audit failed (wrote {tuple(got)}, "
                f"geometry says {tuple(want)}) — NOT published"
            )

    base = _archive_artifact_base(sf_dir)
    return publish(os.path.join(base, "published"), write)


@register(
    "m14_zip_persisted_manifest",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, text, doc_id % 3 + 2 AS ne FROM documents
    ),
    e AS (SELECT doc_id, text, unnest(range(0, ne)) AS i FROM g),
    s AS (SELECT doc_id, text, i, doc_id % 9 + 2 + 6 * i AS len FROM e)
    SELECT doc_id                          AS media_id,
           CAST(i AS BIGINT)               AS entry_no,
           CAST(CASE WHEN (doc_id + i) % 3 = 0 THEN 0 ELSE 8 END
                AS BIGINT)                 AS method,
           CAST(len AS BIGINT)             AS n_bytes,
           CAST(CASE WHEN length(text) = 0 THEN 0 ELSE
             list_sum(list_transform(generate_series(0, len - 1), j ->
               {_m9_byte_oracle("j + i")}))
           END AS BIGINT)                  AS byte_sum
    FROM s
    ORDER BY media_id, entry_no
    """,
    doc="M14: the m-family's PRODUCTION face — what a crawl actually "
    "pays (r11 verdict task 3, the l26c pattern applied to media). "
    "m12/m13 are honest self-contained oracle pairs but synthesize "
    "each archive in the same mapInPandas call that decodes it, so "
    "their bench numbers measure pack+decode. A pipeline reads "
    "PERSISTED bytes: publish_archive_column packs at most once per "
    "corpus fingerprint (write → decode-audit-what-was-written → one "
    "atomic rename; the artifact key pins corpus identity + packer "
    "config, rooted in the user-owned cache), and the steady-state "
    "query is scan-parquet → decode → manifest — NO synthesis stage "
    "(pinned by test: make_zip monkeypatched to raise once the "
    "artifact exists, and the apply plan must scan the artifact, not "
    "documents.parquet). Geometry: 2-4 entries per doc, mixed "
    "stored/deflated, junk prefixes and EOCD comments the oracle never "
    "models. The audit is itself distributed (every blob re-decoded "
    "with full CRC/inflate validation before publish; 1 row collected). "
    "At 100 TB: the archive column rides normal parquet row groups, "
    "payload bytes stay executor-local through the Arrow batches, and "
    "the bench number now measures the decode a pipeline actually "
    "runs — the m12 5.1x heavy-ratio adjudication made measurable.",
    tags=("llm", "multimodal", "udf", "artifact", "reference-fidelity"),
)
def zip_persisted_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = publish_archive_column(spark, sf_dir)
    m = spark.read.parquet(path)
    return map_rows(spread(m), _decode_persisted_row, _M13_SCHEMA)


@register(
    "x2_grouped_pandas_agg",
    oracle="""
    SELECT lang,
           round(sum(n_chars * CAST(doc_id + 1 AS DOUBLE))
                 / sum(CAST(doc_id + 1 AS DOUBLE)), 4) AS weighted_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    doc="X2: user-defined aggregate via applyInPandas — per-group pandas "
    "weighted mean (one row out per group), the UDAF escape hatch when "
    "built-in aggregates can't express the math; oracle-checked against "
    "the closed-form SQL.",
    tags=("llm", "udf"),
)
def grouped_pandas_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")

    def weighted(pdf: pd.DataFrame) -> pd.DataFrame:
        w = (pdf["doc_id"] + 1).astype("float64")
        return pd.DataFrame(
            {
                "lang": [pdf["lang"].iloc[0]],
                # Raw mean; F.round below (half-away, matching the
                # oracle) — Python round() is banker's (the x10 lesson).
                "weighted_chars": [(pdf["n_chars"] * w).sum() / w.sum()],
            }
        )

    return (
        d.groupBy("lang")
        .applyInPandas(weighted, schema="lang string, weighted_chars double")
        .select("lang", F.round("weighted_chars", 4).alias("weighted_chars"))
    )


@register(
    "x3_python_udtf",
    oracle=_CHUNK_ORACLE_REF,
    doc="X3: Python UDTF (Spark 4 @udtf) — the table-function escape "
    "hatch: one input row fans out to N output rows from Python, invoked "
    "via LATERAL join in SQL. Same chunking semantics as l7_chunking "
    "(which stays JVM-side and is the production path); this verifies the "
    "UDTF plumbing — registration, lateral correlation, Arrow batching — "
    "against the identical DuckDB oracle.",
    tags=("llm", "udf"),
)
def python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math
    import re as _re

    from pyspark.sql.functions import udtf

    from mric_bak_etl_spark.llm.text import CHUNK_STRIDE, CHUNK_TOKENS

    @udtf(returnType="chunk_no int, chunk_text string, n_chunk_tokens long", useArrow=True)
    class ChunkUDTF:
        def eval(self, text: str):
            toks = _re.split(r"\s+", text)
            n = len(toks)
            n_chunks = (
                1 if n <= CHUNK_TOKENS
                else math.ceil((n - CHUNK_TOKENS) / CHUNK_STRIDE) + 1
            )
            for i in range(n_chunks):
                chunk = toks[i * CHUNK_STRIDE : i * CHUNK_STRIDE + CHUNK_TOKENS]
                yield i, " ".join(chunk), len(chunk)

    spark.udtf.register("x3_chunk_udtf", ChunkUDTF)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    spread(d).createOrReplaceTempView("x3_docs")
    return spark.sql(
        """
        SELECT doc_id, c.chunk_no, c.chunk_text, c.n_chunk_tokens
        FROM x3_docs, LATERAL x3_chunk_udtf(text) c
        """
    )


@register(
    "x4_scalar_pandas_udf",
    oracle="""
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-(n_chars - 250.0) / 100.0)), 6) AS length_score
    FROM documents
    ORDER BY doc_id
    LIMIT 100
    """,
    doc="X4: scalar pandas UDF — Arrow-batched, vectorized numpy math "
    "(logistic length score), one batch per Arrow chunk rather than one "
    "Python call per row. Deterministic closed form, so fully "
    "oracle-checkable; completes the UDF taxonomy alongside x1 "
    "(mapInPandas), x2 (grouped agg), x3 (UDTF), t6 (stateful). Use "
    "ONLY when no built-in expression exists — this exact formula "
    "would normally stay JVM-side via F.exp.",
    tags=("llm", "udf"),
)
def scalar_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def length_score(n_chars: pd.Series) -> pd.Series:
        # Raw score; np.round is half-to-even — quantize via F.round.
        return 1.0 / (1.0 + np.exp(-(n_chars - 250.0) / 100.0))

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (
        d.select(
            "doc_id",
            F.round(length_score("n_chars"), 6).alias("length_score"),
        )
        .orderBy("doc_id")
        .limit(100)
    )


_RESIZE_FACTOR = 4  # keep every 4th byte — the stand-in for spatial downscale

_RESIZE_SCHEMA = (
    "media_id long, media_type string, "
    "orig_bytes long, resized_bytes long, new_width int, new_height int"
)


def _resize_row(
    mid: int, payload: bytes, mtype: str, width: int, height: int
) -> Iterator[tuple]:
    # Real path: decode_media() → spatial resample → re-encode.
    # Deterministic stand-in: stride-subsample the payload bytes and
    # halve the nominal dimensions, so sizes are closed-form.
    resized = payload[::_RESIZE_FACTOR]
    new_w, new_h = max(width // 2, 1), max(height // 2, 1)
    yield mid, mtype, len(payload), len(resized), new_w, new_h


@register(
    "m4_resize",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END                                AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT)           AS orig_bytes,
           CAST(ceil(octet_length(encode(text)) / 4.0) AS BIGINT) AS resized_bytes,
           CAST(greatest((n_chars % 640 + 1) // 2, 1) AS INT)   AS new_width,
           CAST(greatest((n_chars % 480 + 1) // 2, 1) AS INT)   AS new_height
    FROM documents
    ORDER BY media_id
    """,
    doc="Multimodal resize: mapInPandas over (payload, typed metadata) — "
    "stride-subsampled bytes + halved nominal dimensions as the "
    "deterministic stand-in for decode→resample→re-encode "
    "(decode_media raises for containers without a real parser — "
    "BMP/WAV have one, see m7/m9 — so m4's synthetic payloads stay on "
    "the stand-in path by design). "
    "Closed-form output sizes make the whole pandas stage "
    "oracle-checkable; embarrassingly parallel, no shuffle.",
    tags=("llm", "multimodal", "udf"),
)
def resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media_table(spark, sf_dir).select(
        "media_id",
        "content",
        F.col("meta.media_type").alias("media_type"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )
    return map_rows(spread(m, "media_id"), _resize_row, _RESIZE_SCHEMA)


@register(
    "x5_map_in_arrow",
    oracle="""
    SELECT vec_id,
           label,
           round(list_aggregate(
             list_transform(embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
             'sum'), 4) AS sq_norm
    FROM embeddings
    ORDER BY vec_id
    LIMIT 100
    """,
    doc="X5: mapInArrow — the zero-copy Arrow batch surface: the Python "
    "side receives pyarrow.RecordBatch (no pandas conversion, no object "
    "boxing), computes per-row squared L2 norms with numpy over the "
    "flattened list buffer + reduceat on the offsets, and emits Arrow "
    "back. Same math as l10's JVM-side array expressions — here as the "
    "taxonomy slot for Arrow-native UDFs (cheapest Python interop when "
    "pandas semantics aren't needed, e.g. tensor/binary payloads). "
    "Sequential left-to-right float64 accumulation on both sides keeps "
    "the oracle exact.",
    tags=("llm", "udf", "arrow"),
)
def map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pyarrow as pa

    def sq_norms(batches):
        for batch in batches:
            col = batch.column(batch.schema.get_field_index("embedding"))
            flat = np.asarray(col.flatten(), dtype=np.float64)
            offsets = np.asarray(col.offsets)
            starts = offsets[:-1].astype(np.int64)
            sq = flat * flat
            sums = np.add.reduceat(sq, starts) if len(flat) else np.array([])
            # reduceat misbehaves on empty segments; embeddings are fixed-dim
            # non-empty, enforced by the schema upstream.
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(batch.schema.get_field_index("vec_id")),
                    batch.column(batch.schema.get_field_index("label")),
                    # Raw sums; np.round is half-to-even — F.round below.
                    pa.array(sums, type=pa.float64()),
                ],
                names=["vec_id", "label", "sq_norm"],
            )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    out = e.mapInArrow(sq_norms, "vec_id long, label int, sq_norm double")
    return (
        out.select("vec_id", "label", F.round("sq_norm", 4).alias("sq_norm"))
        .orderBy("vec_id")
        .limit(100)
    )


@register(
    "m5_binary_dedup",
    oracle="""
    WITH m AS (
      SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS media_type,
             md5(text) AS h,  -- DuckDB md5 is VARCHAR-only; hashes the same UTF-8 bytes
             octet_length(encode(text)) AS nb
      FROM documents
    ),
    u AS (
      SELECT media_type, h, min(nb) AS nb, count(*) AS copies
      FROM m GROUP BY media_type, h
    )
    SELECT media_type,
           CAST(sum(copies) AS BIGINT)            AS n_items,
           CAST(count(*) AS BIGINT)               AS n_unique,
           CAST(sum(copies) - count(*) AS BIGINT) AS n_dup_rows,
           CAST(sum(nb) AS BIGINT)                AS unique_bytes
    FROM u GROUP BY media_type ORDER BY media_type
    """,
    doc="M5: binary-payload dedup — content-hash the opaque media bytes "
    "(md5 over the binary column, JVM-side) and count unique payloads "
    "and reclaimable duplicate rows per modality. The multimodal form "
    "of l1: the shuffle carries (media_type, 16-byte hash, n_bytes) — "
    "never the payloads — which is what makes exact dedup of a 100 TB "
    "media corpus a metadata-sized problem.",
    tags=("llm", "multimodal", "dedup"),
)
def binary_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media_table(spark, sf_dir).select(
        F.col("meta.media_type").alias("media_type"),
        F.md5("content").alias("h"),
        F.octet_length("content").alias("nb"),
    )
    u = m.groupBy("media_type", "h").agg(
        F.min("nb").alias("nb"), F.count(F.lit(1)).alias("copies")
    )
    return (
        u.groupBy("media_type")
        .agg(
            F.sum("copies").cast("bigint").alias("n_items"),
            F.count(F.lit(1)).cast("bigint").alias("n_unique"),
            (F.sum("copies") - F.count(F.lit(1))).cast("bigint").alias("n_dup_rows"),
            F.sum("nb").cast("bigint").alias("unique_bytes"),
        )
    )


@register(
    "x6_grouped_pandas_map",
    oracle="""
    SELECT lang, doc_id, n_chars, CAST(rnk AS INT) AS rnk
    FROM (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id) AS rnk
      FROM documents
    ) WHERE rnk <= 3
    ORDER BY lang, rnk
    """,
    doc="X6: grouped-map pandas (applyInPandas) — whole-group-at-a-time "
    "Python: each language's documents arrive as ONE pandas frame, "
    "ranked and truncated locally, completing the UDF taxonomy's last "
    "shape (x4 scalar, x2 grouped-agg, x1/m* map, x3 UDTF, x5 Arrow, "
    "t6 stateful). The group-sized frame is the scale hazard — a skewed "
    "group must fit one executor's memory, exactly what the JVM window "
    "form (the oracle's row_number, w1) avoids; use this shape only "
    "when the per-group logic genuinely needs pandas.",
    tags=("llm", "udf"),
)
def grouped_pandas_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    def top3(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.sort_values(
            ["n_chars", "doc_id"], ascending=[False, True]
        ).head(3)
        out = out.assign(rnk=range(1, len(out) + 1))
        return out[["lang", "doc_id", "n_chars", "rnk"]]

    d = load_table(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    return (
        d.groupBy("lang")
        .applyInPandas(top3, "lang string, doc_id long, n_chars long, rnk int")
    )


@register(
    "x7_polymorphic_udtf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS t
      FROM documents WHERE doc_id % 29 = 0
    ),
    grams AS (
      SELECT doc_id, CAST(i AS INTEGER) AS pos,
             t[i]     AS tok_1,
             t[i + 1] AS tok_2,
             t[i + 2] AS tok_3
      FROM toks, range(1, 6) r(i)
      WHERE i + 2 <= len(t)
    )
    SELECT doc_id, pos, tok_1, tok_2, tok_3
    FROM grams ORDER BY doc_id, pos
    """,
    doc="X7: POLYMORPHIC Python UDTF (Spark 4 analyze()) — the output "
    "schema is computed at plan time from a literal argument: "
    "ngrams(text, 3) emits (pos, tok_1..tok_3), ngrams(text, 5) would "
    "emit five token columns; analyze() receives the constant-folded "
    "argument and returns the StructType, so Catalyst plans the lateral "
    "join against an exact schema with zero runtime schema inference. "
    "The static-schema UDTF (x3) can't express width-by-argument; this "
    "is the table-function face of schema-on-demand. Capped at 5 grams/"
    "doc on a 1/29 doc slice — the cap is in eval(), so the fan-out "
    "bound holds at any corpus size.",
    tags=("llm", "udf"),
)
def polymorphic_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re as _re

    from pyspark.sql.functions import udtf
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    @udtf
    class NgramUDTF:
        @staticmethod
        def analyze(text, n):
            from pyspark.sql.udtf import AnalyzeResult

            width = int(n.value)
            return AnalyzeResult(
                StructType(
                    [StructField("pos", IntegerType())]
                    + [StructField(f"tok_{i + 1}", StringType()) for i in range(width)]
                )
            )

        def eval(self, text: str, n: int):
            toks = _re.split(r"\s+", text)
            for i in range(min(5, len(toks) - n + 1)):
                yield (i + 1, *toks[i : i + n])

    spark.udtf.register("x7_ngrams", NgramUDTF)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 29 == 0)
    d.select("doc_id", "text").createOrReplaceTempView("x7_docs")
    return spark.sql(
        """
        SELECT doc_id, g.pos, g.tok_1, g.tok_2, g.tok_3
        FROM x7_docs, LATERAL x7_ngrams(text, 3) g
        """
    )


@register(
    "x8_arrow_python_udf",
    oracle="""
    SELECT doc_id,
           round(ln(1.0 + n_chars) * 100, 4) AS log_score
    FROM documents ORDER BY doc_id LIMIT 100
    """,
    doc="X8: Arrow-optimized Python UDF (Spark 4 useArrow=True) — the "
    "row-function API with pandas-UDF transport: each invocation is "
    "still per-row Python (unlike x4's vectorized series-at-a-time), "
    "but arguments/results cross the JVM boundary as Arrow batches "
    "instead of pickled rows (~2-5× on the wire). The right tool when "
    "porting legacy per-row logic that can't vectorize; deterministic "
    "closed form keeps it oracle-checkable. Completes the UDF ladder: "
    "x8 (Arrow row) < x4 (pandas vector) < built-in expression.",
    tags=("llm", "udf"),
)
def arrow_python_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from pyspark.sql.functions import udf

    @udf(returnType="double", useArrow=True)
    def log_score(n_chars: int) -> float:
        # Raw score; Python round() is banker's — quantize via F.round.
        return math.log(1.0 + n_chars) * 100

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (
        d.select(
            "doc_id", F.round(log_score("n_chars"), 4).alias("log_score")
        )
        .orderBy("doc_id")
        .limit(100)
    )


@register(
    "x9_iter_pandas_udf",
    oracle="""
    SELECT doc_id,
           round((n_chars - 250.0) / 100.0, 6) AS scaled_len
    FROM documents
    ORDER BY doc_id
    LIMIT 100
    """,
    doc="X9: iterator-of-series pandas UDF (SCALAR_ITER) — the variant "
    "for EXPENSIVE ONE-TIME SETUP: the function body runs once per "
    "executor task, initializes state (here a scaler 'model' with "
    "fixed parameters; in production a tokenizer, an ONNX session, a "
    "GPU context), then streams every Arrow batch of the partition "
    "through it — amortizing init over the whole task instead of "
    "paying it per batch like x4's plain scalar form. Same Arrow "
    "transport, same vectorized numpy math; the iterator contract is "
    "the ONLY difference, and it is the one that matters when setup "
    "costs seconds and a 100 TB scan has millions of batches. "
    "Deterministic closed form keeps it oracle-checkable.",
    tags=("llm", "udf"),
)
def iter_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def scaled_len(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # One-time per-task init: the "model" (center/scale) loads here,
        # NOT once per batch.
        center, scale = 250.0, 100.0
        for n_chars in batches:
            # Raw value; np.round is half-to-even — F.round quantizes.
            yield (n_chars - center) / scale

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (
        d.select(
            "doc_id", F.round(scaled_len("n_chars"), 6).alias("scaled_len")
        )
        .orderBy("doc_id")
        .limit(100)
    )


@register(
    "x10_grouped_arrow_apply",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT)      AS n_docs,
           CAST(max(n_chars) AS BIGINT)  AS max_chars,
           round(avg(n_chars), 4)        AS avg_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    doc="X10: grouped-map applyInArrow — the zero-pandas rung of the "
    "grouped-UDF ladder (x2 grouped pandas agg, x6 grouped pandas "
    "map): each group arrives as a raw pyarrow.Table and the function "
    "computes with Arrow compute kernels directly — no "
    "Arrow-to-pandas materialization, no object-dtype copies, no "
    "index bookkeeping, which is exactly what matters when groups are "
    "wide binary/media batches (pandas conversion would copy every "
    "payload). Grouping key partitioning, skew behavior, and schema "
    "contract are identical to x6; only the in-process representation "
    "changes. The group computation here (count/max/mean over the "
    "group's rows) is deliberately oracle-expressible so the Arrow "
    "path gets a full value-hash driver row, unlike byte-math stages.",
    tags=("llm", "udf"),
)
def grouped_arrow_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    def per_lang(table: pa.Table) -> pa.Table:
        n = table.num_rows
        chars = table.column("n_chars")
        return pa.table(
            {
                "lang": [table.column("lang")[0].as_py()],
                "n_docs": pa.array([n], pa.int64()),
                "max_chars": pa.array(
                    [pc.max(chars).as_py()], pa.int64()
                ),
                "avg_chars": pa.array(
                    [pc.mean(chars).as_py()], pa.float64()
                ),
            }
        )

    d = load_table(spark, sf_dir, "documents").select("lang", "n_chars")
    return (
        d.groupBy("lang")
        .applyInArrow(
            per_lang,
            schema="lang string, n_docs long, max_chars long, "
            "avg_chars double",
        )
        # Round in the Spark projection (repo convention, F.round =
        # half-away like DuckDB), not with Python round() inside the
        # Arrow batch (banker's rounding would diverge on exact ties).
        .select(
            "lang",
            "n_docs",
            "max_chars",
            F.round("avg_chars", 4).alias("avg_chars"),
        )
    )


@register(
    "m6_pair_assembly",
    oracle="""
    WITH j AS (
      SELECT d.doc_id, d.n_chars, e.vec_id, e.label,
             CASE WHEN e.embedding IS NULL THEN NULL
                  ELSE len(e.embedding) END AS dim,
             CASE WHEN e.embedding IS NULL THEN NULL
                  ELSE sqrt(list_sum(list_transform(
                         CAST(e.embedding AS DOUBLE[]), x -> x * x)))
             END AS l2
      FROM documents d FULL OUTER JOIN embeddings e ON e.vec_id = d.doc_id
    )
    SELECT CAST(count(*) FILTER (WHERE doc_id IS NOT NULL
                                 AND vec_id IS NOT NULL) AS BIGINT)
             AS n_pairs,
           CAST(count(*) FILTER (WHERE vec_id IS NULL) AS BIGINT)
             AS n_text_orphans,
           CAST(count(*) FILTER (WHERE doc_id IS NULL) AS BIGINT)
             AS n_vector_orphans,
           CAST(count(*) FILTER (WHERE dim IS NOT NULL AND dim <> 64)
                AS BIGINT) AS n_bad_dim,
           round(avg(l2) FILTER (WHERE doc_id IS NOT NULL
                                 AND vec_id IS NOT NULL), 4)
             AS avg_pair_norm,
           round(avg(n_chars) FILTER (WHERE doc_id IS NOT NULL
                                      AND vec_id IS NOT NULL), 4)
             AS avg_pair_chars
    FROM j
    """,
    doc="M6: training-pair assembly + alignment audit — the join that "
    "builds (text, embedding) training pairs from separately-produced "
    "tables, with the integrity numbers a pairing job must ship: "
    "orphan texts (doc never embedded — an embedding-job gap), orphan "
    "vectors (stale embedding for a deleted doc), wrong-dimension "
    "vectors (mixed model versions), and profile stats over the "
    "surviving pairs (mean L2 norm catches unnormalized batches, mean "
    "length catches truncation). FULL OUTER join on the id so both "
    "orphan directions surface in one pass; norm is a JVM-side "
    "higher-order array expression, no Python. At 100 TB both sides "
    "co-partition on the id — this is the canonical pre-training "
    "assembly step between a text pipeline and a GPU embedding fleet "
    "writing to separate tables.",
    tags=("llm", "multimodal"),
)
def pair_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    j = d.join(e, d["doc_id"] == e["vec_id"], "full_outer").select(
        "doc_id",
        "n_chars",
        "vec_id",
        F.when(
            F.col("embedding").isNotNull(), F.size("embedding")
        ).alias("dim"),
        F.when(
            F.col("embedding").isNotNull(),
            F.sqrt(
                F.aggregate(
                    F.transform(
                        "embedding", lambda x: x.cast("double")
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x * x,
                )
            ),
        ).alias("l2"),
    )
    paired = F.col("doc_id").isNotNull() & F.col("vec_id").isNotNull()
    return j.agg(
        F.sum(F.when(paired, 1).otherwise(0)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("vec_id").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_text_orphans"),
        F.sum(F.when(F.col("doc_id").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_vector_orphans"),
        F.sum(
            F.when(F.col("dim").isNotNull() & (F.col("dim") != 64), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_bad_dim"),
        F.round(F.avg(F.when(paired, F.col("l2"))), 4).alias(
            "avg_pair_norm"
        ),
        F.round(F.avg(F.when(paired, F.col("n_chars"))), 4).alias(
            "avg_pair_chars"
        ),
    )


@register(
    "x11_arrow_udtf",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws
      FROM documents WHERE doc_id < 100
    ),
    toks AS (
      SELECT doc_id, ws[CAST(i AS INT)] AS tok,
             CAST(i - 1 AS INTEGER) AS pos
      FROM w, unnest(range(1, len(ws) + 1)) AS u(i)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT)  AS n_tokens,
           min(CASE WHEN pos = 0 THEN tok END) AS first_tok,
           CAST(max(pos) AS INTEGER)           AS last_pos
    FROM toks
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="X11: Arrow-optimized Python UDTF (useArrow=True) — the last "
    "rung of the UDTF ladder (x3 plain, x7 polymorphic): same "
    "row-expanding LATERAL join contract, but rows cross the "
    "Python boundary as Arrow batches instead of pickled rows — the "
    "same serialization upgrade x8->x4 demonstrates for scalar UDFs, "
    "applied to table functions. The function itself stays "
    "deliberately trivial (whitespace tokenizer with positions) so "
    "the ORACLE can replay it relationally (indexed list unnest) "
    "and the entry verifies the TRANSPORT, not the tokenizer; "
    "anything string-split-shaped should be F.split/posexplode in "
    "production (JVM-side) — a UDTF earns its cost only when the "
    "expansion needs real Python (parsers, model inference).",
    tags=("llm", "udf"),
)
def arrow_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="tok string, pos int", useArrow=True)
    class TokenizeArrow:
        def eval(self, text: str):
            # `is not None` (not truthiness): string_split('') yields
            # [''] in the oracle, i.e. one ('', 0) row — an empty text
            # must produce that row here too, only NULL yields nothing.
            if text is not None:
                for i, tok in enumerate(text.split(" ")):
                    yield tok, i

    spark.udtf.register("x11_tokenize_arrow", TokenizeArrow)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    d.select("doc_id", "text").createOrReplaceTempView("x11_docs")
    return spark.sql(
        """
        SELECT doc_id,
               CAST(count(*) AS BIGINT)            AS n_tokens,
               min(CASE WHEN t.pos = 0 THEN t.tok END) AS first_tok,
               CAST(max(t.pos) AS INT)             AS last_pos
        FROM x11_docs, LATERAL x11_tokenize_arrow(text) t
        GROUP BY doc_id
        """
    )
