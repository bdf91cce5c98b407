"""Real PNG pixel codec (operators/multimodal.decode_png/encode_png):
decode is pinned against HAND-BUILT spec-vector files (constructed
here with struct+zlib directly, independent of encode_png, filters
computed by hand from RFC 2083 §6), round-trips with the encoder
across sizes/channel counts/filter choices/palette depths/Adam7
interlace (r11), sub-8-bit greyscale (r12), and the still-unsupported
16-bit shapes raise instead of answering wrong."""

import struct
import zlib

import pytest
from hypothesis import given, settings, strategies as st

from cc2dataset_spark.operators.multimodal import decode_png, encode_png

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _hand_png(w, h, bit_depth, color_type, interlace, idat_raw):
    ihdr = struct.pack(
        ">IIBBBBB", w, h, bit_depth, color_type, 0, 0, interlace
    )
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(idat_raw))
        + _chunk(b"IEND", b"")
    )


def test_hand_vector_sub_and_up_filters_rgb():
    # 2x2 RGB: row0 [(1,2,3),(4,5,6)] Sub-filtered, row1
    # [(7,8,9),(10,11,12)] Up-filtered — filter bytes computed by
    # hand from the spec, never via encode_png.
    idat = bytes(
        [1, 1, 2, 3, 3, 3, 3]  # Sub: x - a (bpp=3)
        + [2, 6, 6, 6, 6, 6, 6]  # Up: x - b
    )
    png = _hand_png(2, 2, 8, 2, 0, idat)
    assert decode_png(png) == (
        2,
        2,
        3,
        bytes([1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12]),
    )


def test_hand_vector_paeth_and_average_grey():
    # 2x2 greyscale, row0 None, row1 Paeth (predictors: b=10 then
    # a=30 — both tie-break paths), plus a 1x3 Average column.
    idat = bytes([0, 10, 20] + [4, 20, 10])
    assert decode_png(_hand_png(2, 2, 8, 0, 0, idat)) == (
        2,
        2,
        1,
        bytes([10, 20, 30, 40]),
    )
    # Average down a single column: x - (a + b)//2 with a=0
    # pixels 8, 20, 9 -> filtered 8, 20-4=16, 9-10=255 (mod 256)
    idat2 = bytes([3, 8] + [3, 16] + [3, 255])
    assert decode_png(_hand_png(1, 3, 8, 0, 0, idat2)) == (
        1,
        3,
        1,
        bytes([8, 20, 9]),
    )


def test_multi_idat_chunks_concatenate():
    raw = bytes([0, 1, 2, 3])  # 1x1 RGBA, filter None
    z = zlib.compress(bytes([0]) + raw)
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 6, 0, 0, 0)
    png = (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", z[:3])
        + _chunk(b"IDAT", z[3:])
        + _chunk(b"IEND", b"")
    )
    assert decode_png(png) == (1, 1, 4, raw)


@pytest.mark.parametrize(
    "bit_depth,color_type,interlace,err",
    [
        (16, 2, 0, NotImplementedError),  # 16-bit truecolor
        (16, 0, 0, NotImplementedError),  # 16-bit greyscale
        (3, 3, 0, ValueError),  # illegal palette depth
        (8, 3, 0, ValueError),  # palette missing PLTE
    ],
)
def test_unsupported_shapes_raise(bit_depth, color_type, interlace, err):
    png = _hand_png(1, 1, bit_depth, color_type, interlace, bytes(4))
    with pytest.raises(err):
        decode_png(png)


def test_hand_vector_palette_2bit():
    """Hand-built 3x2 palette PNG at 2-bit depth (MSB-first packing,
    RFC 2083 §2.3), filter None — never touches the encoder twin.
    Row px indices (2,0,1) pack to one byte 0b10_00_01_00 = 0x84."""
    pal = b"\x10\x20\x30" + b"\x40\x50\x60" + b"\x70\x80\x90"
    ihdr = struct.pack(">IIBBBBB", 3, 2, 2, 3, 0, 0, 0)
    idat_raw = b"\x00\x84" + b"\x00\x44"  # rows (2,0,1), (1,0,1)
    png = (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", pal)
        + _chunk(b"IDAT", zlib.compress(idat_raw))
        + _chunk(b"IEND", b"")
    )
    w, h, c, rgb = decode_png(png)
    assert (w, h, c) == (3, 2, 3)
    P = [pal[i : i + 3] for i in (0, 3, 6)]
    assert rgb == P[2] + P[0] + P[1] + P[1] + P[0] + P[1]


def test_hand_vector_adam7_2x2_grey():
    """Hand-built 2x2 Adam7 greyscale: passes 1/2/3/5/7 are empty at
    this size except pass 1 (pixel 0,0), pass 2 is empty (xs=4),
    pass 4 (xs=2) empty, pass 5 empty (ys=2), pass 6 (1,0,2,2) ->
    pixel (1,0), pass 7 (0,1,1,2) -> pixels (0,1),(1,1). Stream =
    pass1 row [0,10], pass6 row [0,20], pass7 row [0,30,40]."""
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 1)
    idat_raw = bytes([0, 10]) + bytes([0, 20]) + bytes([0, 30, 40])
    png = (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(idat_raw))
        + _chunk(b"IEND", b"")
    )
    assert decode_png(png) == (2, 2, 1, bytes([10, 20, 30, 40]))


def test_palette_and_interlace_roundtrips():
    from cc2dataset_spark.operators.multimodal import encode_png_indexed

    import random

    rng = random.Random(7)
    for depth in (1, 2, 4, 8):
        ncol = 1 << min(depth, 4)
        pal = [
            (rng.randrange(256), rng.randrange(256), rng.randrange(256))
            for _ in range(ncol)
        ]
        for w, h in [(1, 1), (5, 7), (16, 3)]:
            idx = bytes(rng.randrange(ncol) for _ in range(w * h))
            want = b"".join(bytes(pal[i]) for i in idx)
            for il in (False, True):
                got = decode_png(
                    encode_png_indexed(w, h, pal, idx, depth, interlace=il)
                )
                assert got == (w, h, 3, want)
    # truecolor Adam7 with position-distinct pixels (catches scatter
    # slips that channel sums would hide)
    raw = bytes(range(13 * 11 * 3 % 256)) * 0 + bytes(
        (i * 7 + 3) % 256 for i in range(13 * 11 * 3)
    )
    assert decode_png(encode_png(13, 11, 3, raw, interlace=True)) == (
        13,
        11,
        3,
        raw,
    )


def test_palette_index_outside_plte_raises():
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0)
    png = (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", b"\x01\x02\x03")  # 1 entry
        + _chunk(b"IDAT", zlib.compress(b"\x00\x05"))  # index 5
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="outside PLTE"):
        decode_png(png)


def test_corrupt_crc_and_non_png_raise():
    good = encode_png(2, 2, 1, bytes([1, 2, 3, 4]))
    bad = bytearray(good)
    bad[-5] ^= 0xFF  # flip a bit inside IEND's CRC
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"GIF89a....")
    with pytest.raises(ValueError):
        decode_png(None)


@settings(max_examples=20, deadline=None)
@given(
    w=st.integers(1, 12),
    h=st.integers(1, 12),
    ch=st.sampled_from([1, 2, 3, 4]),
    seed=st.integers(0, 2**31),
    flt=st.sampled_from([None, 0, 1, 2, 3, 4]),
)
def test_roundtrip_fuzz(w, h, ch, seed, flt):
    import random

    rng = random.Random(seed)
    raw = bytes(rng.randrange(256) for _ in range(w * h * ch))
    kw = {} if flt is None else {"filter_for_row": lambda r: flt}
    png = encode_png(w, h, ch, raw, **kw)
    assert decode_png(png) == (w, h, ch, raw)


def test_encode_deterministic_and_sized():
    raw = bytes(range(48))
    assert encode_png(4, 4, 3, raw) == encode_png(4, 4, 3, raw)
    # 2 channels = grey+alpha, supported since r11
    assert decode_png(encode_png(2, 2, 2, bytes(8)))[2] == 2
    with pytest.raises(ValueError, match="channels"):
        encode_png(2, 2, 5, bytes(20))
    with pytest.raises(ValueError, match="expected"):
        encode_png(2, 2, 3, bytes(5))


def test_header_dims_agree_with_jvm_image_dims(spark):
    """The pure-JVM header parser (image_dims) and the full pixel
    decoder must agree on dimensions over REAL encoded files."""
    from cc2dataset_spark.operators.multimodal import image_dims

    payloads = [
        (i, encode_png(i % 9 + 1, i % 7 + 1, 3, bytes((i % 9 + 1) * (i % 7 + 1) * 3)))
        for i in range(1, 8)
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    got = {
        r.doc_id: (r.d["format"], r.d["width"], r.d["height"])
        for r in df.select("doc_id", image_dims("payload").alias("d")).collect()
    }
    for i, p in payloads:
        w, h, c, _ = decode_png(p)
        assert got[i] == ("png", w, h)


def test_decode_media_signature_dispatch(spark):
    """decode_media (r11) dispatches on payload MAGIC BYTES: real PNG
    and baseline-JPEG payloads return their actual pixel dimensions
    through the real codecs; unrecognized payloads (the fixture's
    UTF-8 stand-ins) keep the deterministic stub formula that
    multimodal_decode_stub's oracle replays; gated codec classes
    propagate loudly instead of answering wrong."""
    import pytest
    from pyspark.sql import functions as F

    from cc2dataset_spark.operators import multimodal as MM
    from cc2dataset_spark.operators.jpeg import encode_jpeg

    from cc2dataset_spark.operators.multimodal import encode_gif

    png = encode_png(5, 9, 3, bytes(5 * 9 * 3))
    jpg = encode_jpeg(16, 8, 1, bytes([42]) * (16 * 8))
    gif = encode_gif(7, 3, [(0, 0, 0), (9, 9, 9)], bytes(21))
    txt = "hello media".encode()

    rows = [(1, png, "png"), (2, jpg, "jpeg"), (3, txt, "webm"),
            (4, gif, "gif")]
    df = spark.createDataFrame(
        rows, "doc_id long, payload binary, fmt string"
    ).select(
        "doc_id",
        "payload",
        F.struct(
            F.col("fmt").alias("format"),
            F.length("payload").cast("long").alias("n_bytes"),
            F.col("doc_id").alias("source_id"),
        ).alias("meta"),
    )
    got = {r.doc_id: r.asDict() for r in MM.decode_media(df).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["n_frames"]) == (5, 9, 1)
    assert (got[2]["width"], got[2]["height"], got[2]["n_frames"]) == (16, 8, 1)
    h = len(txt)
    assert (got[3]["width"], got[3]["height"], got[3]["n_frames"]) == (
        64 + h % 512, 64 + (h * 7) % 512, 1 + h % 30,
    )
    assert (got[4]["width"], got[4]["height"], got[4]["n_frames"]) == (7, 3, 1)

    # gated class: SOF0 -> SOF9 (arithmetic coding) must surface, not
    # fake (r12: SOF2 progressive decodes now, so the gate check
    # moved to the arithmetic class)
    bad = bytearray(jpg)
    i = bad.index(b"\xff\xc0")
    bad[i + 1] = 0xC9
    bdf = spark.createDataFrame(
        [(9, bytes(bad), "jpeg")], "doc_id long, payload binary, fmt string"
    ).select(
        "doc_id",
        "payload",
        F.struct(
            F.col("fmt").alias("format"),
            F.length("payload").cast("long").alias("n_bytes"),
            F.col("doc_id").alias("source_id"),
        ).alias("meta"),
    )
    with pytest.raises(Exception, match="non-baseline"):
        MM.decode_media(bdf).collect()


def test_resize_media_real_pixels(spark):
    """resize_media (r11): decodable payloads resize for REAL —
    decode through the repo codecs, deterministic nearest-neighbor
    resample (src = (dst*len_src)//len_dst), re-encode as PNG. The
    output PNG's decoded pixels must equal the formula applied to
    the source pixels; unrecognized payloads keep the stub slice."""
    import numpy as np
    from pyspark.sql import functions as F

    from cc2dataset_spark.operators import multimodal as MM
    from cc2dataset_spark.operators.jpeg import encode_jpeg

    rng = np.random.default_rng(5)
    png_px = rng.integers(0, 256, (9, 7, 3), dtype=np.uint8)
    png = encode_png(7, 9, 3, png_px.tobytes())
    jpg = encode_jpeg(16, 8, 1, bytes([99]) * 128)  # solid: exact
    pal = [(j, j * 2, j * 3) for j in range(8)]
    gif_idx = bytes(p % 8 for p in range(5 * 6))
    gif = MM.encode_gif(5, 6, pal, gif_idx)
    txt = b"not an image"

    rows = [(1, png, "png"), (2, jpg, "jpeg"), (3, gif, "gif"),
            (4, txt, "webp")]
    df = spark.createDataFrame(
        rows, "doc_id long, payload binary, fmt string"
    ).select(
        "doc_id",
        "payload",
        F.struct(
            F.col("fmt").alias("format"),
            F.length("payload").cast("long").alias("n_bytes"),
            F.col("doc_id").alias("source_id"),
        ).alias("meta"),
    )
    out = {r.doc_id: r for r in MM.resize_media(df, 4, 5).collect()}

    def nn(a, out_h, out_w):
        rows_ = (np.arange(out_h) * a.shape[0]) // out_h
        cols_ = (np.arange(out_w) * a.shape[1]) // out_w
        return a[rows_][:, cols_]

    # PNG: exact pixel formula through the lossless chain
    got = decode_png(bytes(out[1].payload))
    assert got[:3] == (4, 5, 3)
    assert got[3] == nn(png_px, 5, 4).tobytes()
    assert out[1].format == "png"
    # solid JPEG: decodes exactly, so resize output is solid too
    got = decode_png(bytes(out[2].payload))
    assert got == (4, 5, 1, bytes([99]) * 20)
    # GIF: palette-mapped source pixels through the same formula
    src = np.frombuffer(
        b"".join(bytes(pal[i]) for i in gif_idx), dtype=np.uint8
    ).reshape(6, 5, 3)
    got = decode_png(bytes(out[3].payload))
    assert got[3] == nn(src, 5, 4).tobytes()
    # unrecognized: legacy stub slice, format passthrough
    assert out[4].format == "webp"
    assert bytes(out[4].payload) == txt[: max(1, 20 % 4096)]


# ---------------------------------------------------------------------
# r12: record-level error containment (X7) + GIF frame counting
# ---------------------------------------------------------------------


def _media_df(spark, rows):
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        rows, "doc_id long, payload binary, fmt string"
    ).select(
        "doc_id",
        "payload",
        F.struct(
            F.col("fmt").alias("format"),
            F.length("payload").cast("long").alias("n_bytes"),
            F.col("doc_id").alias("source_id"),
        ).alias("meta"),
    )


def _arith_jpeg() -> bytes:
    """A JPEG whose frame header is SOF9 (arithmetic-coded sequential)
    — a permanently-gated entropy coder, so the 'gated' class in these
    fixtures survives the progressive-JPEG decoder landing."""
    body = b"\x08\x00\x08\x00\x08\x01\x01\x11\x00"
    return (
        b"\xff\xd8\xff\xc9"
        + struct.pack(">H", len(body) + 2)
        + body
        + b"\xff\xd9"
    )


def _two_frame_gif():
    """Splice two single-frame encodes into one GIF89a animation:
    frame 2's descriptor+data block is appended before the trailer.
    Returns (payload, screen_w, screen_h)."""
    from cc2dataset_spark.operators.multimodal import encode_gif

    pal = [(j, 2 * j, 3 * j) for j in range(4)]
    g1 = encode_gif(6, 4, pal, bytes(i % 4 for i in range(24)))
    g2 = encode_gif(6, 4, pal, bytes((i + 1) % 4 for i in range(24)))
    table_n = 4  # 4-entry palette pads to 4
    frame2 = g2[13 + 3 * table_n :]  # descriptor .. trailer
    return g1[:-1] + frame2, 6, 4


def test_gif_frame_count_walk():
    """Descriptor-walk frame counting: single-frame GIFs count 1,
    spliced animations count 2 with the logical-screen dims, and
    structural damage raises ValueError like the pixel decoder."""
    from cc2dataset_spark.operators.multimodal import (
        encode_gif,
        gif_frame_count,
    )

    g1 = encode_gif(7, 3, [(0, 0, 0), (9, 9, 9)], bytes(21))
    assert gif_frame_count(g1) == (7, 3, 1)
    anim, sw, sh = _two_frame_gif()
    assert gif_frame_count(anim) == (sw, sh, 2)
    with pytest.raises(ValueError):
        gif_frame_count(anim[:20])
    with pytest.raises(ValueError):
        gif_frame_count(b"not a gif")


def test_decode_media_animation_frame_count(spark):
    """decode_media reports an animation's screen dims + REAL frame
    count from the descriptor walk (header metadata, no pixel lie),
    while pixel-needing decode_gif still gates on multi-frame."""
    from cc2dataset_spark.operators import multimodal as MM

    anim, sw, sh = _two_frame_gif()
    with pytest.raises(NotImplementedError, match="multi-frame"):
        MM.decode_gif(anim)
    df = _media_df(spark, [(1, anim, "gif")])
    [row] = MM.decode_media(df).collect()
    assert (row.width, row.height, row.n_frames) == (sw, sh, 2)


def test_decode_media_errors_status_and_skip(spark):
    """X7 containment (r12): errors='status' keeps every record with
    a typed status + deterministic error string and NULL pixel
    columns on failure; errors='skip' drops exactly the failed
    records; errors='raise' (default) still fails the stage; only
    codec-shaped exceptions are contained."""
    from cc2dataset_spark.operators import multimodal as MM
    from cc2dataset_spark.operators.jpeg import encode_jpeg

    png = encode_png(5, 9, 3, bytes(5 * 9 * 3))
    jpg = encode_jpeg(16, 8, 1, bytes([42]) * 128)
    trunc_png = png[:20]  # dies inside the chunk walk
    gated = _arith_jpeg()
    rows = [
        (1, png, "png"),
        (2, jpg, "jpeg"),
        (3, trunc_png, "png"),
        (4, gated, "jpeg"),
        (5, b"plain text", "webm"),
    ]
    df = _media_df(spark, rows)

    # raise mode: whichever planted failure a task hits first fails
    # the stage (truncated-PNG struct.error or the SOF9 gate)
    with pytest.raises(Exception, match="(?i)unpack|png|jpeg|sof|baseline"):
        MM.decode_media(df).collect()

    got = {r.doc_id: r for r in MM.decode_media(df, errors="status").collect()}
    assert len(got) == 5
    assert got[1].status == "ok" and got[1].error is None
    assert (got[1].width, got[1].height) == (5, 9)
    assert got[2].status == "ok" and (got[2].width, got[2].height) == (16, 8)
    assert got[3].status == "corrupt"
    assert got[3].width is None and got[3].error
    assert got[4].status == "gated"
    assert got[4].error.startswith("NotImplementedError:")
    assert got[5].status == "ok"  # stub path contains nothing

    kept = MM.decode_media(df, errors="skip").collect()
    assert sorted(r.doc_id for r in kept) == [1, 2, 5]
    assert {f.name for f in MM.decode_media(df, errors="skip").schema} == {
        f.name for f in MM.DECODED_SCHEMA
    }

    with pytest.raises(ValueError, match="errors must be"):
        MM.decode_media(df, errors="lenient")

    stats = MM.media_decode_stats(
        MM.decode_media(df, errors="status")
    ).collect()[0]
    assert (
        stats.records_total,
        stats.records_ok,
        stats.records_gated,
        stats.records_corrupt,
        stats.records_dropped,
    ) == (5, 3, 1, 1, 2)


def test_resize_media_errors_and_source_format(spark):
    """resize_media mirrors decode_media's policy and carries
    provenance: re-encoded images report format='png' but keep the
    original tag in source_format (ADVICE r11). The expected-failure
    job runs last: its stage is cancelled, and no later job of this
    test reuses a Python worker whose channel the cancellation closed."""
    from cc2dataset_spark.operators import multimodal as MM
    from cc2dataset_spark.operators.jpeg import encode_jpeg

    jpg = encode_jpeg(8, 8, 1, bytes([7]) * 64)
    gated = _arith_jpeg()
    rows = [(1, jpg, "jpeg"), (2, gated, "jpeg"), (3, b"xyz", "webp")]
    df = _media_df(spark, rows)

    got = {r.doc_id: r for r in MM.resize_media(df, 4, 4, errors="status").collect()}
    assert got[1].status == "ok"
    assert got[1].format == "png" and got[1].source_format == "jpeg"
    assert decode_png(bytes(got[1].payload)) == (4, 4, 1, bytes([7]) * 16)
    assert got[2].status == "gated" and got[2].payload is None
    assert got[2].source_format == "jpeg" and got[2].format is None
    assert got[3].status == "ok" and got[3].source_format == "webp"

    kept = MM.resize_media(df, 4, 4, errors="skip").collect()
    assert sorted(r.doc_id for r in kept) == [1, 3]

    with pytest.raises(Exception, match="(?i)jpeg|sof|baseline|arith"):
        MM.resize_media(df, 4, 4).collect()


def test_hand_vector_sub8_greyscale():
    """r12: 1/2/4-bit greyscale decodes through the exact integer
    expansion v*255/(2^d-1) — hand-built vectors (MSB-first packing,
    odd widths exercising pad bits), never touching the encoder."""
    # 4-bit, 3x2: rows pack two samples/byte, odd width pads
    rows = b"\x00" + bytes([0x0F, 0xA0]) + b"\x00" + bytes([0x51, 0x30])
    png = _hand_png(3, 2, 4, 0, 0, rows)
    w, h, ch, raw = decode_png(png)
    assert (w, h, ch) == (3, 2, 1)
    assert raw == bytes(v * 17 for v in [0, 15, 10, 5, 1, 3])
    # 1-bit, 9x1: 9 samples span two bytes
    png = _hand_png(9, 1, 1, 0, 0, b"\x00" + bytes([0b10110001, 0b10000000]))
    assert decode_png(png)[3] == bytes(
        255 * b for b in [1, 0, 1, 1, 0, 0, 0, 1, 1]
    )
    # 2-bit, 2x2 with Sub filter on row 2 (filters operate on BYTES)
    row1 = bytes([0b01_10_0000])  # samples 1,2
    row2_raw = bytes([0b11_00_0000])  # samples 3,0
    sub = bytes([(row2_raw[0] - 0) & 0xFF])
    png = _hand_png(2, 2, 2, 0, 0, b"\x00" + row1 + b"\x01" + sub)
    assert decode_png(png)[3] == bytes(85 * v for v in [1, 2, 3, 0])


def test_png16_full_fidelity_roundtrip_and_hand_vector():
    """r12: 16-bit PNG decodes at FULL fidelity via decode_png16 —
    hand vector independent of the encoder twin, roundtrip fuzz,
    Adam7, and all filter classes (byte-wise with bpp=2*ch)."""
    import numpy as np

    from cc2dataset_spark.operators.multimodal import (
        decode_png16,
        encode_png16,
    )

    # hand vector: 2x1 grey, values 0x0102 and 0xFFFE, filter None
    row = b"\x00" + bytes([0x01, 0x02, 0xFF, 0xFE])
    png = _hand_png(2, 1, 16, 0, 0, row)
    w, h, ch, raw = decode_png16(png)
    assert (w, h, ch) == (2, 1, 1)
    assert list(np.frombuffer(raw, dtype="<u2")) == [0x0102, 0xFFFE]
    # hand vector with Sub filter (byte-wise distance bpp=2):
    # true samples 0x1234, 0x1255 -> second filtered vs first
    r1 = bytes([0x12, 0x34, 0x12 - 0x12 & 0xFF, (0x55 - 0x34) & 0xFF])
    png = _hand_png(2, 1, 16, 0, 0, b"\x01" + r1)
    assert list(
        np.frombuffer(decode_png16(png)[3], dtype="<u2")
    ) == [0x1234, 0x1255]

    rng = np.random.default_rng(9)
    for ch_n in (1, 2, 3, 4):
        for w_, h_ in [(1, 1), (5, 7), (8, 3)]:
            vals = rng.integers(
                0, 65536, w_ * h_ * ch_n, dtype=np.uint16
            ).astype("<u2")
            png = encode_png16(w_, h_, ch_n, vals.tobytes())
            got = decode_png16(png)
            assert got[:3] == (w_, h_, ch_n)
            assert got[3] == vals.tobytes()
    # wrong-depth payloads route to the other codec, each way
    with pytest.raises(ValueError, match="use decode_png"):
        decode_png16(encode_png(2, 2, 1, bytes(4)))
    with pytest.raises(NotImplementedError):
        decode_png(encode_png16(1, 1, 1, b"\x00\x01"))


def test_decode_media_16bit_png_real_dims(spark):
    from cc2dataset_spark.operators import multimodal as MM
    from cc2dataset_spark.operators.multimodal import encode_png16

    png16 = encode_png16(6, 4, 3, bytes(6 * 4 * 3 * 2))
    df = _media_df(spark, [(1, png16, "png")])
    [row] = MM.decode_media(df).collect()
    assert (row.width, row.height, row.n_frames) == (6, 4, 1)


def test_png16_adam7_hand_vector():
    """2x2 Adam7 16-bit grey: same pass layout as the 8-bit twin
    test, two bytes per sample."""
    import numpy as np

    from cc2dataset_spark.operators.multimodal import decode_png16

    def px(v):
        return bytes([v >> 8, v & 0xFF])

    idat_raw = (
        b"\x00" + px(0x1000)          # pass 1: (0,0)
        + b"\x00" + px(0x2000)        # pass 6: (1,0)
        + b"\x00" + px(0x3000) + px(0x4000)  # pass 7: (0,1),(1,1)
    )
    png = _hand_png(2, 2, 16, 0, 1, idat_raw)
    w, h, ch, raw = decode_png16(png)
    assert list(np.frombuffer(raw, dtype="<u2")) == [
        0x1000, 0x2000, 0x3000, 0x4000
    ]
