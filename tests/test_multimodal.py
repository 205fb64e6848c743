"""Multimodal tests: schemas, determinism, batch behavior of the
decode / frame-sample / stats tiers; the REAL stdlib header codec
(PNG/GIF/BMP/JPEG) and its error contract; and the pluggable-decoder
contract that a PIL/ffmpeg pixel codec would inherit."""

from __future__ import annotations

import hashlib

import pytest

from comperhensive_bigdata_analysis__spark.multimodal import (
    attach_fake_media,
    codec_decoder,
    decode_media,
    fake_decoder,
    media_stats,
    sample_frames,
)
from comperhensive_bigdata_analysis__spark.sources.tables import load_table


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").limit(60)
    return attach_fake_media(d, "doc_id", "text").cache()


def test_decode_schema_and_determinism(spark, media):
    out = decode_media(media)
    assert out.schema.simpleString() == (
        "struct<id:bigint,media_type:string,n_bytes:bigint,width:int,"
        "height:int,channels:int,digest:string>"
    )
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, decode_media(media).collect()))
    assert a == b and len(a) == 60
    for r in a:
        assert 64 <= r[3] < 64 + 1024 and 1 <= r[5] <= 4


def test_decode_matches_local_kernel(media):
    row = media.orderBy("id").first()
    meta = fake_decoder(bytes(row["content"]), row["media_type"])
    got = decode_media(media).filter(f"id = {row['id']}").first()
    assert (got["width"], got["height"], got["channels"], got["digest"]) == (
        meta["width"], meta["height"], meta["channels"], meta["digest"]
    )


def test_frame_sampling(media):
    frames = sample_frames(media, n_frames=3).collect()
    n_videos = media.filter("media_type = 'video'").count()
    assert len(frames) == 3 * n_videos
    one = [f for f in frames if f["frame_idx"] == 1][0]
    raw = bytes(
        media.filter(f"id = {one['id']}").first()["content"]
    )
    assert one["frame_digest"] == hashlib.md5(raw + (1).to_bytes(4, "big")).hexdigest()


def test_media_stats_jvm_only(media):
    stats = media_stats(media).collect()
    assert all(r["n_bytes"] > 0 and len(r["digest"]) == 32 for r in stats)


def test_resize_preserves_aspect_and_never_upscales(media):
    from comperhensive_bigdata_analysis__spark.multimodal import resize_media

    rows = resize_media(media, max_dim=256).collect()
    assert len(rows) == 60
    for r in rows:
        assert max(r["target_width"], r["target_height"]) <= 256
        # no upscaling: small media pass through untouched
        if max(r["width"], r["height"]) <= 256:
            assert (r["target_width"], r["target_height"]) == (r["width"], r["height"])
        else:  # aspect preserved within rounding
            ar_in = r["width"] / r["height"]
            ar_out = r["target_width"] / r["target_height"]
            assert abs(ar_in - ar_out) / ar_in < 0.02
        assert r["content"] is not None


def test_feature_extraction_feeds_similarity_tier(spark, media):
    """The multimodal near-dup pipeline: bytes -> unit features ->
    cosine. Duplicate payloads must surface at cosine ~1.0."""
    from comperhensive_bigdata_analysis__spark.multimodal import extract_features

    feats = extract_features(media, dim=16)
    first = feats.first()
    assert len(first["features"]) == 16
    assert abs(sum(x * x for x in first["features"]) - 1.0) < 1e-9  # unit norm

    # duplicate content ids (exact payload copies) must pair at ~1.0
    import pyspark.sql.functions as F

    dup = media.limit(5).select((F.col("id") + 100000).alias("id"),
                                "content", "media_type")
    both = extract_features(media.limit(5).unionByName(dup), dim=16)
    vecs = {r["id"]: r["features"] for r in both.collect()}
    ids = [r["id"] for r in media.limit(5).collect()]
    assert len(ids) == 5
    for i in ids:
        a, b = vecs[i], vecs[i + 100000]
        cos = sum(x * y for x, y in zip(a, b)) / (
            sum(x * x for x in a) * sum(y * y for y in b)
        ) ** 0.5
        assert cos >= 0.999, (i, cos)


def test_codec_decoder_raises_on_unknown_format():
    with pytest.raises(NotImplementedError):
        codec_decoder(b"bytes", "image")


def test_codec_decoder_parses_real_formats():
    """codec_decoder is a REAL header decoder: round-trip an actual PNG
    (stdlib encoder) and parse hand-built GIF/BMP/JPEG containers."""
    import struct

    from comperhensive_bigdata_analysis__spark.multimodal import png_bytes

    png = png_bytes(37, 21, (10, 200, 30))
    m = codec_decoder(png, "image")
    assert (m["width"], m["height"], m["channels"]) == (37, 21, 3)
    assert m["digest"] == hashlib.md5(png).hexdigest()

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 20
    assert codec_decoder(gif, "image")["width"] == 320

    bmp = (
        b"BM" + b"\x00" * 16 + struct.pack("<ii", 640, -480)
        + b"\x01\x00" + struct.pack("<H", 24) + b"\x00" * 40
    )
    b_meta = codec_decoder(bmp, "image")
    assert (b_meta["width"], b_meta["height"], b_meta["channels"]) == (640, 480, 3)

    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
        + struct.pack(">HH", 480, 640) + b"\x03" + b"\x00" * 10
        + b"\xff\xd9"
    )
    j = codec_decoder(jpeg, "image")
    assert (j["width"], j["height"], j["channels"]) == (640, 480, 3)


def test_real_codec_flows_through_decode_pipeline(spark):
    """Plug-in contract: a registered decoder (here the real header
    codec over real PNG bytes) flows through decode_media unchanged —
    dims recovered in the executors match the encoder's inputs."""
    from comperhensive_bigdata_analysis__spark.multimodal import png_bytes

    rows = [(i, png_bytes(16 + i, 9 + 2 * i), "image") for i in range(20)]
    media = spark.createDataFrame(
        rows, "id long, content binary, media_type string"
    )
    got = {
        r["id"]: (r["width"], r["height"], r["channels"])
        for r in decode_media(media, decoder=codec_decoder).collect()
    }
    assert got == {i: (16 + i, 9 + 2 * i, 3) for i in range(20)}


def test_codec_decoder_error_contract():
    """Recognized-but-corrupt containers raise ValueError (skippable);
    only unknown formats raise NotImplementedError (the plug-in seam)."""
    import struct

    from comperhensive_bigdata_analysis__spark.multimodal import png_bytes

    with pytest.raises(ValueError):
        codec_decoder(png_bytes(5, 5)[:18], "image")  # truncated PNG
    with pytest.raises(ValueError):
        codec_decoder(b"GIF89a\x01", "image")  # truncated GIF
    with pytest.raises(NotImplementedError):
        codec_decoder(b"not media at all", "image")
    with pytest.raises(ValueError):
        codec_decoder(b"BM\x00\x01", "image")  # truncated BMP: recognized magic
    with pytest.raises(ValueError):
        # SOF-less JPEG ending in EOI: the scan must stop at EOI
        # deterministically (not read bytes past it as a length field).
        codec_decoder(b"\xff\xd8\xff\xd9", "image")

    # 0xFF fill bytes before a marker are legal padding (ISO 10918
    # B.1.1.2) — the scan must step over them and still find SOF0.
    jpeg_fill = (
        b"\xff\xd8"
        + b"\xff\xff\xff\xc0" + struct.pack(">H", 17) + b"\x08"
        + struct.pack(">HH", 120, 80) + b"\x03" + b"\x00" * 10
        + b"\xff\xd9"
    )
    m = codec_decoder(jpeg_fill, "image")
    assert (m["width"], m["height"]) == (80, 120)


def test_decode_media_on_error_skip(spark):
    """One corrupt file in a corpus must not kill the job when
    on_error='skip': the bad row drops, the good rows decode."""
    from comperhensive_bigdata_analysis__spark.multimodal import png_bytes

    media = spark.createDataFrame(
        [
            (1, png_bytes(10, 11), "image"),
            (2, png_bytes(12, 13)[:18], "image"),  # truncated
            (3, b"junk", "image"),  # unknown format
        ],
        "id long, content binary, media_type string",
    )
    got = {
        r["id"]: (r["width"], r["height"])
        for r in decode_media(media, decoder=codec_decoder, on_error="skip").collect()
    }
    assert got == {1: (10, 11)}
    with pytest.raises(Exception):
        decode_media(media, decoder=codec_decoder).collect()  # default raises


def test_custom_decoder_contract(spark):
    """Any callable (bytes, media_type) -> dict plugs into decode_media;
    its outputs must land verbatim in the result columns."""

    def tagging_decoder(content: bytes, media_type: str) -> dict:
        return {
            "width": len(content),
            "height": 7,
            "channels": 2,
            "digest": media_type + ":" + hashlib.md5(content).hexdigest(),
        }

    media = spark.createDataFrame(
        [(1, b"abc", "audio"), (2, b"defgh", "video")],
        "id long, content binary, media_type string",
    )
    got = sorted(
        (r["id"], r["width"], r["height"], r["channels"], r["digest"][:6])
        for r in decode_media(media, decoder=tagging_decoder).collect()
    )
    assert got == [(1, 3, 7, 2, "audio:"), (2, 5, 7, 2, "video:")]


def test_codec_error_contract_under_random_corruption():
    """Property: ANY byte string either decodes to a complete meta dict
    or raises exactly ValueError / NotImplementedError — never a raw
    struct.error/IndexError that would bypass decode_media's skip path.
    Exercises random bytes, truncations of valid containers, and
    valid-magic-corrupt-body hybrids."""
    import struct

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from comperhensive_bigdata_analysis__spark.multimodal import png_bytes

    valid = [
        png_bytes(9, 7),
        b"GIF89a" + struct.pack("<HH", 32, 16) + b"\x00" * 8,
        b"BM" + b"\x00" * 16 + struct.pack("<ii", 4, 4) + b"\x01\x00"
        + struct.pack("<H", 24) + b"\x00" * 12,
        b"\xff\xd8\xff\xc0" + struct.pack(">H", 17) + b"\x08"
        + struct.pack(">HH", 5, 6) + b"\x03" + b"\x00" * 10,
    ]

    @given(
        base=st.sampled_from(valid),
        cut=st.integers(min_value=0, max_value=80),
        junk=st.binary(max_size=24),
    )
    @settings(max_examples=200, deadline=None)
    def check(base, cut, junk):
        for payload in (base[:cut], base[:cut] + junk, junk):
            try:
                m = codec_decoder(payload, "image")
                assert {"width", "height", "channels", "digest"} <= m.keys()
            except (ValueError, NotImplementedError):
                pass  # the documented contract

    check()


# --- REAL stdlib PNG pixel codec (VERDICT r2 ask #3) ---------------------


def test_png_pixel_roundtrip_all_filters_and_channels():
    """png_encode applies filter type y%5 per row (all five PNG filters),
    so a byte-exact round trip proves every unfilter branch — without
    PIL in the container."""
    import random

    from comperhensive_bigdata_analysis__spark.multimodal import (
        png_encode,
        png_pixels,
    )

    rnd = random.Random(7)
    for ch in (1, 2, 3, 4):
        for (w, h) in [(1, 1), (7, 3), (16, 9), (33, 21)]:
            pix = bytes(rnd.randrange(256) for _ in range(w * h * ch))
            assert png_pixels(png_encode(pix, w, h, ch)) == (w, h, ch, pix)


def test_png_pixels_decodes_solid_color_encoder():
    from comperhensive_bigdata_analysis__spark.multimodal import (
        png_bytes,
        png_pixels,
    )

    w, h, ch, pix = png_pixels(png_bytes(5, 4, (10, 20, 30)))
    assert (w, h, ch) == (5, 4, 3) and pix == bytes([10, 20, 30]) * 20


def test_png_pixels_palette_expansion():
    """Palette (color type 3) images expand to RGB through PLTE."""
    import struct
    import zlib

    from comperhensive_bigdata_analysis__spark.multimodal import png_pixels

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    plte = bytes([255, 0, 0, 0, 255, 0])  # palette: red, green
    raw = b"\x00\x00\x01" + b"\x00\x01\x00"  # rows (filter 0): RG / GR
    png = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    w, h, ch, pix = png_pixels(png)
    assert (w, h, ch) == (2, 2, 3)
    assert pix == bytes([255, 0, 0, 0, 255, 0, 0, 255, 0, 255, 0, 0])


def test_png_pixels_capability_and_corruption_contract():
    """NotImplementedError = capability gap (16-bit, interlaced);
    ValueError = corrupt stream (bad IDAT, truncation, bad filter)."""
    import zlib

    from comperhensive_bigdata_analysis__spark.multimodal import (
        png_bytes,
        png_pixels,
    )

    good = png_bytes(6, 5)
    deep = bytearray(good)
    deep[24] = 16  # bit depth 16
    with pytest.raises(NotImplementedError):
        png_pixels(bytes(deep))
    inter = bytearray(good)
    inter[28] = 1  # Adam7 interlace
    with pytest.raises(NotImplementedError):
        png_pixels(bytes(inter))
    with pytest.raises(ValueError):
        png_pixels(good[:40])  # truncated chunk
    corrupt = bytearray(good)
    corrupt[45] ^= 0xFF  # flip a byte inside the IDAT payload
    with pytest.raises(ValueError):
        png_pixels(bytes(corrupt))
    with pytest.raises(ValueError):
        png_pixels(b"ordinary bytes")  # not a PNG at all


def test_pixel_pipeline_decode_resize_features_without_pil(spark):
    """The whole pixel tier on REAL images, no PIL: encode gradient PNGs
    in executors -> decode_media(pixel_decoder) recovers true dims ->
    resize_media writes genuinely resampled PNGs (re-decoded to prove
    validity) -> extract_features computes moments from real pixels."""
    import pandas as pd

    from comperhensive_bigdata_analysis__spark.multimodal import (
        decode_media,
        extract_features,
        pixel_decoder,
        pixel_features,
        png_encode,
        png_pixels,
        resize_media,
    )

    def make_png(i):
        w, h = 20 + i, 10 + 2 * i
        pix = bytes(
            (x * 3 + y * 5 + c * 11 + i) % 256
            for y in range(h)
            for x in range(w)
            for c in range(3)
        )
        return png_encode(pix, w, h, 3)

    pdf = pd.DataFrame(
        {
            "id": range(8),
            "content": [make_png(i) for i in range(8)],
            "media_type": ["image"] * 8,
        }
    )
    media = spark.createDataFrame(pdf)

    # decode: true dims from full pixel decode
    dims = {
        r["id"]: (r["width"], r["height"])
        for r in decode_media(media, decoder=pixel_decoder).collect()
    }
    assert dims == {i: (20 + i, 10 + 2 * i) for i in range(8)}

    # resize: output bytes are valid PNGs at the integer-fit target dims
    for r in resize_media(media, max_dim=12).collect():
        w2, h2, _, _ = png_pixels(bytes(r["content"]))
        assert (w2, h2) == (r["target_width"], r["target_height"])
        assert max(w2, h2) == 12  # long side hits the cap exactly

    # features: real pixel moments, unit-norm, equal to the local kernel
    feats = {r["id"]: r["features"] for r in extract_features(media, dim=16).collect()}
    for i in range(8):
        local = pixel_features(make_png(i), 16)
        assert feats[i] == pytest.approx(local, abs=0)
        assert sum(x * x for x in feats[i]) == pytest.approx(1.0, abs=1e-9)


def test_sample_frames_digests_real_pixel_bands(spark):
    """For PNG payloads typed as video, frame i is the md5 of the i-th
    equal-height band of DECODED pixel rows — a genuine pixel read."""
    import hashlib as hl

    import pandas as pd

    from comperhensive_bigdata_analysis__spark.multimodal import (
        png_encode,
        png_pixels,
        sample_frames,
    )

    pix = bytes((x + y) % 256 for y in range(12) for x in range(6) for _ in range(3))
    png = png_encode(pix, 6, 12, 3)
    media = spark.createDataFrame(
        pd.DataFrame({"id": [1], "content": [png], "media_type": ["video"]})
    )
    frames = sorted(
        (r["frame_idx"], r["frame_digest"])
        for r in sample_frames(media, n_frames=4).collect()
    )
    w, h, ch, dec = png_pixels(png)
    stride = w * ch
    expect = [
        (f, hl.md5(dec[(f * h // 4) * stride : ((f + 1) * h // 4) * stride]).hexdigest())
        for f in range(4)
    ]
    assert frames == expect


# -- stdlib GIF pixel codec (round 3) --------------------------------------


def _pal4():
    return bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30])


def test_gif_round_trip_exact_pixels():
    import random

    from comperhensive_bigdata_analysis__spark.multimodal import (
        gif_encode,
        gif_pixels,
    )

    pal = _pal4()
    for w, h in [(4, 3), (64, 48), (300, 200)]:  # 300x200 forces 12-bit + CLEAR resets
        rnd = random.Random(w * h)
        idx = bytes(rnd.randrange(4) for _ in range(w * h))
        out_w, out_h, ch, pix = gif_pixels(gif_encode(w, h, idx, pal))
        assert (out_w, out_h, ch) == (w, h, 3)
        assert pix == b"".join(pal[i * 3 : i * 3 + 3] for i in idx)


def test_gif_interlaced_decodes_to_same_image():
    import random

    from comperhensive_bigdata_analysis__spark.multimodal import (
        gif_encode,
        gif_pixels,
    )

    pal = _pal4()
    w, h = 13, 17
    rnd = random.Random(42)
    idx = bytes(rnd.randrange(4) for _ in range(w * h))
    # Build the 4-pass interlaced row order, encode rows in THAT order,
    # then set the interlace flag in the image descriptor — the decoder
    # must reassemble the original row order.
    pass_rows = [y for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
                 for y in range(start, h, step)]
    shuffled = b"".join(idx[y * w : (y + 1) * w] for y in pass_rows)
    g = bytearray(gif_encode(w, h, shuffled, pal))
    gct_len = 3 * (2 << (g[10] & 0x07))
    desc = 13 + gct_len  # image separator 0x2c
    assert g[desc] == 0x2C
    g[desc + 9] |= 0x40  # interlace flag
    out_w, out_h, ch, pix = gif_pixels(bytes(g))
    assert (out_w, out_h) == (w, h)
    assert pix == b"".join(pal[i * 3 : i * 3 + 3] for i in idx)


def test_gif_error_contract():
    import pytest

    from comperhensive_bigdata_analysis__spark.multimodal import (
        gif_encode,
        gif_pixels,
        media_pixels,
    )

    pal = _pal4()
    g = gif_encode(8, 8, bytes(64), pal)
    # truncation anywhere after the header is the skippable ValueError class
    for cut in (10, 14, 30, len(g) - 3):
        with pytest.raises(ValueError):
            gif_pixels(g[:cut])
    with pytest.raises(ValueError):
        gif_pixels(b"GIF89a" + b"\x00" * 4)  # truncated screen descriptor
    with pytest.raises(ValueError):
        gif_pixels(b"notagif")
    # dispatcher: unknown container is the plug-in seam
    with pytest.raises(NotImplementedError):
        media_pixels(b"RIFF....WEBP")


def test_gif_feeds_pixel_features_and_frames(spark):
    """GIF payloads now ride the REAL pixel tier end-to-end: features
    come from decoded channel moments (solid red gif -> known vector
    head), frame digests come from actual pixel bands."""
    from comperhensive_bigdata_analysis__spark.multimodal import (
        extract_features,
        gif_encode,
        pixel_features,
        sample_frames,
    )

    pal = _pal4()
    solid_red = gif_encode(8, 8, bytes(64), pal)  # index 0 = (255,0,0)
    v = pixel_features(solid_red, dim=8)
    # channel means: r=255 -> 1.0 pre-norm, g=b=0; std all 0
    assert v[0] > 0 and abs(v[2]) < 1e-12 and abs(v[4]) < 1e-12

    rows = [(1, "image", bytearray(solid_red)), (2, "video", bytearray(solid_red))]
    media = spark.createDataFrame(rows, "id long, media_type string, content binary")
    feats = {r["id"]: r["features"] for r in extract_features(media, dim=8).collect()}
    assert abs(feats[1][0] - v[0]) < 1e-12

    frames = sample_frames(media, n_frames=4).collect()
    assert len(frames) == 4
    # solid image: every band identical -> identical digests
    assert len({r["frame_digest"] for r in frames}) == 1


def test_gif_round_trip_property():
    """Property: ANY indexed image round-trips bit-exactly through
    gif_encode -> gif_pixels for any palette size 2..16 and dims up to
    40x40 (covers width growth, CLEAR boundaries, sub-block splits)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from comperhensive_bigdata_analysis__spark.multimodal import (
        gif_encode,
        gif_pixels,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 40),
        ncol=st.integers(2, 16),
        data=st.data(),
    )
    def check(w, h, ncol, data):
        pal = bytes(data.draw(st.integers(0, 255)) for _ in range(ncol * 3))
        idx = bytes(
            data.draw(st.integers(0, ncol - 1)) for _ in range(w * h)
        )
        gw, gh, ch, pix = gif_pixels(gif_encode(w, h, idx, pal))
        assert (gw, gh, ch) == (w, h, 3)
        assert pix == b"".join(pal[i * 3 : i * 3 + 3] for i in idx)

    check()


def test_gif_resize_real_pixels(spark):
    """resize_media routes GIF through the REAL indexed-resample tier:
    output bytes are a decodable smaller GIF whose pixels are the
    nearest-neighbor sample of the source."""
    from comperhensive_bigdata_analysis__spark.multimodal import (
        gif_encode,
        gif_pixels,
        resize_media,
    )

    pal = _pal4()
    import random

    rnd = random.Random(11)
    idx = bytes(rnd.randrange(4) for _ in range(24 * 16))
    g = gif_encode(24, 16, idx, pal)
    media = spark.createDataFrame(
        [(1, "image", bytearray(g))], "id long, media_type string, content binary"
    )
    row = resize_media(media, max_dim=8).collect()[0]
    assert (row["width"], row["height"]) == (24, 16)
    assert (row["target_width"], row["target_height"]) == (8, 5)
    w, h, ch, pix = gif_pixels(bytes(row["content"]))
    assert (w, h) == (8, 5)
    # corner pixel maps from source (0,0)
    assert bytes(pix[:3]) == pal[idx[0] * 3 : idx[0] * 3 + 3]


# -- stdlib BMP pixel codec (round 3) --------------------------------------


def test_bmp_round_trip_and_contract():
    import random

    import pytest

    from comperhensive_bigdata_analysis__spark.multimodal import (
        bmp_encode,
        bmp_pixels,
        media_pixels,
        pixel_features,
    )

    rnd = random.Random(9)
    for w, h in [(1, 1), (17, 9), (64, 48)]:
        rgb = bytes(rnd.randrange(256) for _ in range(w * h * 3))
        b = bmp_encode(w, h, rgb)
        assert bmp_pixels(b) == (w, h, 3, rgb)
        assert media_pixels(b) == (w, h, 3, rgb)  # dispatcher routes BMP
    # error contract: truncation = ValueError, capability gap = NotImplementedError
    b = bmp_encode(8, 8, bytes(8 * 8 * 3))
    with pytest.raises(ValueError):
        bmp_pixels(b[: len(b) // 2])
    import struct

    ba = bytearray(b)
    ba[28:30] = struct.pack("<H", 8)  # 8-bit palette BMP: capability seam
    with pytest.raises(NotImplementedError):
        bmp_pixels(bytes(ba))
    # features run on real BMP pixels: solid red -> known channel head
    red = bmp_encode(6, 6, b"\xff\x00\x00" * 36)
    v = pixel_features(red, dim=8)
    assert v[0] > 0 and abs(v[2]) < 1e-12 and abs(v[4]) < 1e-12


def test_gif_trailing_subblocks_after_eoi_ignored():
    """Sub-block bytes AFTER the LZW end-of-information code must be
    ignored (GIF spec appendix F): some encoders pad the final sub-block
    group. Before the ``done`` flag (ADVICE r3/r4) the decoder kept
    consuming them as LZW codes and could raise 'corrupt GIF LZW code'
    on a perfectly decodable image."""
    from comperhensive_bigdata_analysis__spark.multimodal import (
        gif_encode,
        gif_pixels,
    )

    pal = _pal4()
    idx = bytes(i % 4 for i in range(8 * 8))
    g = gif_encode(8, 8, idx, pal)
    assert g.endswith(b"\x00\x3b")
    # splice a garbage data sub-block between the real sub-blocks (which
    # end with EOI) and the block terminator
    padded = g[:-2] + b"\x03\xff\xa5\x5a" + b"\x00\x3b"
    out_w, out_h, ch, pix = gif_pixels(padded)
    assert (out_w, out_h, ch) == (8, 8, 3)
    assert pix == b"".join(pal[i * 3 : i * 3 + 3] for i in idx)


def test_wav_round_trip_exact_samples():
    """PCM samples survive encode -> RIFF framing -> decode bit-exactly
    for 8/16/32-bit widths and mono/stereo interleaving."""
    import random

    from comperhensive_bigdata_analysis__spark.multimodal import (
        wav_encode,
        wav_samples,
    )

    rnd = random.Random(7)
    cases = [
        (1, 1, [rnd.randrange(-128, 128) for _ in range(33)]),
        (2, 1, [rnd.randrange(-32768, 32768) for _ in range(50)]),
        (2, 2, [rnd.randrange(-32768, 32768) for _ in range(64)]),
        (4, 1, [rnd.randrange(-(2**31), 2**31) for _ in range(17)]),
    ]
    for sw, ch, sig in cases:
        wav = wav_encode(sig, sample_rate=44100, channels=ch, sampwidth=sw)
        got_ch, got_fr, got_sw, dec = wav_samples(wav)
        assert (got_ch, got_fr, got_sw) == (ch, 44100, sw)
        assert dec == sig


def test_wav_error_contract():
    """ValueError for recognized-but-corrupt RIFF/WAVE; 
    NotImplementedError for foreign containers and capability gaps
    (24-bit PCM) — same classes as the image codecs."""
    import pytest

    from comperhensive_bigdata_analysis__spark.multimodal import (
        media_samples,
        wav_encode,
        wav_samples,
    )

    good = wav_encode([1, 2, 3, 4], sample_rate=8000)
    with pytest.raises(ValueError):
        wav_samples(good[:20])  # truncated inside the fmt chunk
    with pytest.raises(NotImplementedError):
        wav_samples(b"nonsense bytes, not RIFF")
    with pytest.raises(NotImplementedError):
        media_samples(b"\x89PNG\r\n\x1a\n")  # image container, no samples
    assert media_samples(good)[3] == [1, 2, 3, 4]


def test_wav_feeds_spark_plan(spark):
    """wav_audio_stats end-to-end on the smoke corpus: stats computed
    from DECODED samples match the signal formula."""
    from comperhensive_bigdata_analysis__spark.plans.multimodal import (
        wav_audio_stats,
    )

    from .conftest import SF_SMOKE

    row = wav_audio_stats(spark, SF_SMOKE).filter("doc_id = 5").first()
    n, b = 32 + 5 % 41, 5 % 64
    sig = [((b * 37 + k * 17) % 2048) - 1024 for k in range(n)]
    assert row["n_samples"] == n
    assert row["sum_amp"] == sum(sig)
    assert row["sum_sq"] == sum(s * s for s in sig)
    assert row["peak"] == max(sig)


def test_jpeg_solid_and_flat_quant_round_trips_exact():
    """Constant 8x8 blocks survive the lossy pipeline bit-exactly at
    quantization step 1 (DC = 8*(v-128) is integral; AC vanish) — the
    property jpeg_pixel_stats' closed-form oracle relies on."""
    from comperhensive_bigdata_analysis__spark.jpegcodec import (
        QTABLE_FLAT,
        jpeg_encode,
        jpeg_pixels,
    )

    for w, h, v in [(8, 8, 0), (24, 16, 255), (20, 13, 150), (9, 9, 37)]:
        pix = bytes([v]) * (w * h)
        gw, gh, ch, dec = jpeg_pixels(
            jpeg_encode(pix, w, h, channels=1, qtable=QTABLE_FLAT)
        )
        assert (gw, gh, ch) == (w, h, 1)
        assert dec == pix
    # per-block-constant image with DC prediction across many blocks
    w, h = 40, 24
    pix = bytearray(w * h)
    for by in range(h // 8):
        for bx in range(w // 8):
            val = (7 * bx + 11 * by + 3) % 256
            for y in range(8):
                row = (by * 8 + y) * w + bx * 8
                pix[row : row + 8] = bytes([val]) * 8
    _, _, _, dec = jpeg_pixels(
        jpeg_encode(bytes(pix), w, h, channels=1, qtable=QTABLE_FLAT)
    )
    assert dec == bytes(pix)


def test_jpeg_gradient_tolerance_and_ac_path():
    """Gradients exercise the AC huffman path (runs, magnitudes, ZRL,
    byte stuffing). Flat quantization keeps max error at the DCT
    rounding floor; Annex-K tables stay within the classic quality-50
    envelope on smooth content."""
    import random

    from comperhensive_bigdata_analysis__spark.jpegcodec import (
        QTABLE_FLAT,
        jpeg_encode,
        jpeg_pixels,
    )

    rnd = random.Random(11)
    w, h = 32, 24
    pix = bytes(
        min(255, max(0, x * 5 + y * 3 + rnd.randrange(3)))
        for y in range(h)
        for x in range(w)
    )
    enc = jpeg_encode(pix, w, h, channels=1, qtable=QTABLE_FLAT)
    _, _, _, dec = jpeg_pixels(enc)
    assert max(abs(a - b) for a, b in zip(pix, dec)) <= 2
    enc_std = jpeg_encode(pix, w, h, channels=1)
    _, _, _, dec_std = jpeg_pixels(enc_std)
    assert max(abs(a - b) for a, b in zip(pix, dec_std)) <= 24
    assert len(enc_std) < len(enc)  # real quantization compresses


def test_jpeg_color_round_trip_tolerance():
    """4:4:4 YCbCr color: flat quantization bounds the error to the
    two colorspace roundings."""
    from comperhensive_bigdata_analysis__spark.jpegcodec import (
        QTABLE_FLAT,
        jpeg_encode,
        jpeg_pixels,
    )

    w, h = 16, 16
    pix = bytes(
        c
        for y in range(h)
        for x in range(w)
        for c in ((x * 16) % 256, (y * 16) % 256, (x * 8 + y * 8) % 256)
    )
    _, _, ch, dec = jpeg_pixels(
        jpeg_encode(pix, w, h, channels=3, qtable=QTABLE_FLAT)
    )
    assert ch == 3
    assert max(abs(a - b) for a, b in zip(pix, dec)) <= 4


def test_jpeg_error_contract_and_dispatcher():
    """ValueError for corrupt streams; NotImplementedError for
    progressive/subsampled capability gaps; media_pixels routes JPEG."""
    import pytest

    from comperhensive_bigdata_analysis__spark.jpegcodec import (
        QTABLE_FLAT,
        jpeg_encode,
        jpeg_pixels,
    )
    from comperhensive_bigdata_analysis__spark.multimodal import media_pixels

    good = jpeg_encode(bytes([80]) * 64, 8, 8, channels=1, qtable=QTABLE_FLAT)
    assert media_pixels(good)[3] == bytes([80]) * 64
    with pytest.raises(ValueError):
        jpeg_pixels(good[:40])  # truncated in the segment stream
    with pytest.raises(ValueError):
        jpeg_pixels(b"notajpeg")
    # relabeling SOF0 -> SOF2 leaves a sequential-shaped scan header
    # (Ss=0, Se=63) that is ILLEGAL progressive: corruption, loudly
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError):
        jpeg_pixels(prog)
    # sampling factors above 4 stay a declared seam (1..4 decode since
    # the progressive/DRI support landed); 5x5 is also spec-illegal
    i = good.find(b"\xff\xc0")
    sub = bytearray(good)
    sub[i + 11] = 0x55  # sampling factors byte of component 1
    with pytest.raises(NotImplementedError):
        jpeg_pixels(bytes(sub))
    # lossless (SOF3) remains NotImplementedError
    with pytest.raises(NotImplementedError):
        jpeg_pixels(good.replace(b"\xff\xc0", b"\xff\xc3", 1))


def test_gif_animated_frames_round_trip():
    """Every frame of an animated GIF decodes back frame-exactly
    (NETSCAPE loop + GCE framing + per-frame LZW + compositing)."""
    from comperhensive_bigdata_analysis__spark.multimodal import (
        gif_encode_animated,
        gif_frames,
        gif_pixels,
    )

    pal = _pal4()
    w, h = 10, 6
    frames = [bytes((i + f) % 4 for i in range(w * h)) for f in range(4)]
    ag = gif_encode_animated(w, h, frames, pal)
    dec = gif_frames(ag)
    assert len(dec) == 4
    for f, (gw, gh, ch, rgb) in enumerate(dec):
        assert (gw, gh, ch) == (w, h, 3)
        assert rgb == b"".join(
            pal[ci * 3 : ci * 3 + 3] for ci in frames[f]
        )
    # first-frame consumers (pixel stats/features) see frame 0
    assert gif_pixels(ag)[3] == dec[0][3]


def test_gif_frames_transparency_and_disposal():
    """A transparent index leaves the prior canvas visible; disposal 2
    clears the rect to background between frames; disposal 3 raises
    the capability error."""
    import struct as st

    import pytest

    from comperhensive_bigdata_analysis__spark.multimodal import (
        gif_encode_animated,
        gif_frames,
    )

    pal = _pal4()
    w, h = 4, 4
    f0 = bytes([1]) * 16  # solid green
    f1 = bytes([2] * 8 + [0] * 8)  # top blue, bottom 'transparent' (idx 0)
    ag = bytearray(gif_encode_animated(w, h, [f0, f1], pal))
    # mark index 0 transparent in the SECOND frame's GCE
    gce_positions = [
        i for i in range(len(ag) - 1) if ag[i] == 0x21 and ag[i + 1] == 0xF9
    ]
    assert len(gce_positions) == 2
    p = gce_positions[1]
    ag[p + 3] |= 0x01  # transparency flag
    ag[p + 6] = 0  # transparent index 0
    dec = gif_frames(bytes(ag))
    green, blue = pal[3:6], pal[6:9]
    # frame 1: top half blue, bottom half still green from frame 0
    assert dec[1][3] == blue * 8 + green * 8
    # disposal 3 raises
    ag2 = bytearray(gif_encode_animated(w, h, [f0, f1], pal))
    p2 = [
        i for i in range(len(ag2) - 1)
        if ag2[i] == 0x21 and ag2[i + 1] == 0xF9
    ][0]
    ag2[p2 + 3] = (ag2[p2 + 3] & ~0x1C) | (3 << 2)
    with pytest.raises(NotImplementedError):
        gif_frames(bytes(ag2))


def test_sample_frames_real_temporal_frames_for_animation(spark):
    """Video rows backed by an animated GIF digest ACTUAL temporal
    frames, not spatial bands."""
    import hashlib as hl

    import pandas as pd

    from comperhensive_bigdata_analysis__spark.multimodal import (
        gif_encode_animated,
        gif_frames,
        sample_frames,
    )

    pal = _pal4()
    frames = [bytes([f % 4]) * 36 for f in range(4)]
    ag = gif_encode_animated(6, 6, frames, pal)
    media = spark.createDataFrame(
        pd.DataFrame({"id": [9], "content": [ag], "media_type": ["video"]})
    )
    got = sorted(
        (r["frame_idx"], r["frame_digest"])
        for r in sample_frames(media, n_frames=4).collect()
    )
    dec = gif_frames(ag)
    expect = [(f, hl.md5(dec[f][3]).hexdigest()) for f in range(4)]
    assert got == expect
    # 4 distinct frames -> 4 distinct digests (bands of a still would
    # collapse for solid frames)
    assert len({d for _, d in got}) == 4


def test_jpeg_block_constant_round_trip_property():
    """Property: ANY image of constant 8x8 blocks round-trips
    bit-exactly through jpeg_encode -> jpeg_pixels at quantization
    step 1, for any geometry and block values (the closed-form-oracle
    regime of jpeg_pixel_stats)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from comperhensive_bigdata_analysis__spark.jpegcodec import (
        QTABLE_FLAT,
        jpeg_encode,
        jpeg_pixels,
    )

    @settings(max_examples=20, deadline=None)
    @given(
        bw=st.integers(1, 4),
        bh=st.integers(1, 3),
        seed=st.integers(0, 2**31),
        progressive=st.booleans(),
        ri=st.sampled_from([0, 0, 1, 3]),
    )
    def check(bw, bh, seed, progressive, ri):
        import random

        rnd = random.Random(seed)
        w, h = bw * 8, bh * 8
        pix = bytearray(w * h)
        for by in range(bh):
            for bx in range(bw):
                v = rnd.randrange(256)
                for y in range(8):
                    row = (by * 8 + y) * w + bx * 8
                    pix[row : row + 8] = bytes([v]) * 8
        gw, gh, ch, dec = jpeg_pixels(
            jpeg_encode(
                bytes(pix), w, h, channels=1, qtable=QTABLE_FLAT,
                progressive=progressive, restart_interval=ri,
            )
        )
        assert (gw, gh, ch) == (w, h, 1)
        assert dec == bytes(pix)

    check()


def test_jpeg_tiny_geometry_matrix():
    """Images smaller than one block/MCU (1x1 up to sub-8 widths)
    decode to exact dimensions in both SOF modes, every subsampling,
    both reconstruction tiers."""
    from comperhensive_bigdata_analysis__spark.jpegcodec import (
        QTABLE_FLAT,
        jpeg_encode,
        jpeg_pixels,
        jpeg_pixels_np,
    )

    for (w, h, ch) in ((1, 1, 1), (1, 1, 3), (3, 5, 3), (7, 2, 1),
                       (8, 1, 3), (2, 9, 3)):
        pix = bytes((i * 37) % 256 for i in range(w * h * ch))
        for prog in (False, True):
            subs = ("444",) if ch == 1 else ("444", "422", "420")
            for sub in subs:
                enc = jpeg_encode(
                    pix, w, h, ch, QTABLE_FLAT, subsampling=sub,
                    progressive=prog,
                )
                out = jpeg_pixels(enc)
                assert out[:3] == (w, h, ch), (w, h, ch, prog, sub)
                assert jpeg_pixels_np(enc) == out


def test_wav_round_trip_property():
    """Property: ANY 16-bit sample sequence round-trips bit-exactly
    through wav_encode -> wav_samples for mono and stereo."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from comperhensive_bigdata_analysis__spark.multimodal import (
        wav_encode,
        wav_samples,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        sig=st.lists(st.integers(-32768, 32767), min_size=2, max_size=200),
        ch=st.sampled_from([1, 2]),
    )
    def check(sig, ch):
        if len(sig) % ch:
            sig = sig[:-1]
        if not sig:
            return
        got_ch, _fr, _sw, dec = wav_samples(
            wav_encode(sig, sample_rate=16000, channels=ch)
        )
        assert got_ch == ch
        assert dec == sig

    check()


def test_gif_animated_round_trip_property():
    """Property: ANY frame sequence of indexed images round-trips
    frame-exactly through gif_encode_animated -> gif_frames."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from comperhensive_bigdata_analysis__spark.multimodal import (
        gif_encode_animated,
        gif_frames,
    )

    pal = _pal4()

    @settings(max_examples=15, deadline=None)
    @given(
        w=st.integers(1, 20),
        h=st.integers(1, 12),
        nf=st.integers(1, 5),
        seed=st.integers(0, 2**31),
    )
    def check(w, h, nf, seed):
        import random

        rnd = random.Random(seed)
        frames = [
            bytes(rnd.randrange(4) for _ in range(w * h)) for _ in range(nf)
        ]
        dec = gif_frames(gif_encode_animated(w, h, frames, pal))
        assert len(dec) == nf
        for f, (gw, gh, ch, rgb) in enumerate(dec):
            assert (gw, gh, ch) == (w, h, 3)
            assert rgb == b"".join(
                pal[ci * 3 : ci * 3 + 3] for ci in frames[f]
            )

    check()


def test_jpeg_chroma_subsampling_round_trips():
    """4:2:0 and 4:2:2 MCU-interleaved scans (the real-world JPEG
    layout): solid colors survive chroma decimation (constant chroma
    is decimation-lossless), per-MCU-region constant luma decodes
    bit-exactly (pins the MCU traversal order), and mixed gradients
    stay within the flat-quant envelope."""
    from comperhensive_bigdata_analysis__spark.jpegcodec import (
        QTABLE_FLAT,
        jpeg_encode,
        jpeg_pixels,
    )

    pr = bytes([100, 150, 200]) * (20 * 13)
    for sub in ("420", "422"):
        gw, gh, ch, dec = jpeg_pixels(
            jpeg_encode(pr, 20, 13, 3, QTABLE_FLAT, subsampling=sub)
        )
        assert (gw, gh, ch) == (20, 13, 3)
        assert max(abs(a - b) for a, b in zip(pr, dec)) <= 1

    # 2x2 MCU grid, one grey level per 16x16 MCU: chroma neutral and
    # luma constant per block -> bit-exact, proving block order
    w = h = 32
    pix = bytearray(w * h * 3)
    for my in range(2):
        for mx in range(2):
            v = 40 + 60 * (my * 2 + mx)
            for y in range(16):
                for x in range(16):
                    o = ((my * 16 + y) * w + mx * 16 + x) * 3
                    pix[o : o + 3] = bytes([v, v, v])
    _, _, _, dec = jpeg_pixels(
        jpeg_encode(bytes(pix), w, h, 3, QTABLE_FLAT, subsampling="420")
    )
    assert dec == bytes(pix)

    # neutral-chroma gradient through 4:2:2: luma-only error floor
    pix2 = bytes(
        c
        for y in range(24)
        for x in range(20)
        for c in (min(255, 4 * x + 2 * y),) * 3
    )
    _, _, _, dec2 = jpeg_pixels(
        jpeg_encode(pix2, 20, 24, 3, QTABLE_FLAT, subsampling="422")
    )
    assert max(abs(a - b) for a, b in zip(pix2, dec2)) <= 2

    # colorful gradient: subsampling is lossy on chroma edges — bounded
    pix3 = bytes(
        c
        for y in range(16)
        for x in range(16)
        for c in ((x * 16) % 256, (y * 16) % 256, ((x + y) * 8) % 256)
    )
    _, _, _, dec3 = jpeg_pixels(
        jpeg_encode(pix3, 16, 16, 3, QTABLE_FLAT, subsampling="420")
    )
    assert max(abs(a - b) for a, b in zip(pix3, dec3)) <= 160  # chroma edges
    # but the luma projection stays tight everywhere
    lum = lambda p, i: 0.299 * p[3 * i] + 0.587 * p[3 * i + 1] + 0.114 * p[3 * i + 2]  # noqa: E731
    assert max(
        abs(lum(pix3, i) - lum(dec3, i)) for i in range(16 * 16)
    ) <= 6


def test_jpeg_numpy_tier_bit_identical():
    """jpeg_pixels_np (vectorized dequant/IDCT/upsample/color) must
    produce BYTE-identical output to the Python correctness tier —
    same float64 math, same banker's rounding — across gray/color,
    every subsampling, both SOF modes, restarts, and both quant
    tables (r5 ask #3)."""
    import random

    from comperhensive_bigdata_analysis__spark.jpegcodec import (
        QTABLE_FLAT,
        jpeg_encode,
        jpeg_pixels,
        jpeg_pixels_np,
    )

    rnd = random.Random(42)
    for _ in range(25):
        w, h = rnd.randrange(8, 40), rnd.randrange(8, 40)
        chn = rnd.choice([1, 3])
        enc = jpeg_encode(
            bytes(rnd.randrange(256) for _ in range(w * h * chn)),
            w, h, chn,
            rnd.choice([None, QTABLE_FLAT]),
            subsampling=rnd.choice(["444", "422", "420"]),
            progressive=rnd.choice([False, True]),
            restart_interval=rnd.choice([0, 0, 2]),
        )
        assert jpeg_pixels(enc) == jpeg_pixels_np(enc)


def test_wav_numpy_tier_matches_and_ungates_24bit():
    """wav_samples_np (frombuffer) equals the struct tier on every
    width the struct tier supports, and additionally decodes 24-bit
    PCM — the width the struct tier declares as its seam (r5 ask #3)."""
    import random

    import pytest

    from comperhensive_bigdata_analysis__spark.multimodal import (
        media_samples_np,
        wav_encode,
        wav_samples,
        wav_samples_np,
    )

    rnd = random.Random(3)
    for sw, lo, hi in ((1, -128, 127), (2, -(2**15), 2**15 - 1),
                       (4, -(2**31), 2**31 - 1)):
        sig = [rnd.randrange(lo, hi + 1) for _ in range(257)]
        enc = wav_encode(sig, sampwidth=sw)
        ch, fr, sw_a, a = wav_samples(enc)
        ch_b, fr_b, sw_b, b = wav_samples_np(enc)
        assert (ch, fr, sw_a) == (ch_b, fr_b, sw_b)
        assert a == list(b) == sig
    sig24 = [rnd.randrange(-(2**23), 2**23) for _ in range(100)]
    enc24 = wav_encode(sig24, sampwidth=3)
    with pytest.raises(NotImplementedError):
        wav_samples(enc24)  # struct tier: documented seam
    assert list(media_samples_np(enc24)[3]) == sig24


def test_media_fast_tier_plans_equal_correctness_tiers(spark, sf_dir):
    """The registered fast-tier plans return row-identical results to
    their correctness-tier twins (both are also independently
    DuckDB-oracled)."""
    from comperhensive_bigdata_analysis__spark.plans.multimodal import (
        jpeg_pixel_stats,
        jpeg_pixel_stats_np,
        wav_audio_stats,
        wav_audio_stats_np,
    )

    assert (
        wav_audio_stats(spark, sf_dir).collect()
        == wav_audio_stats_np(spark, sf_dir).collect()
    )
    assert (
        jpeg_pixel_stats(spark, sf_dir).collect()
        == jpeg_pixel_stats_np(spark, sf_dir).collect()
    )


def test_jpeg_restart_interval_round_trip():
    """DRI/RSTn: the encoder byte-aligns and emits restart markers
    every Ri MCUs with DC-predictor resets, and the decoder resyncs at
    each — pixels identical to the no-restart stream."""
    from comperhensive_bigdata_analysis__spark.jpegcodec import (
        QTABLE_FLAT,
        jpeg_encode,
        jpeg_pixels,
    )

    w, h = 24, 16
    grad = bytes(min(255, 4 * x + 3 * y) for y in range(h) for x in range(w))
    base = jpeg_pixels(jpeg_encode(grad, w, h, 1, QTABLE_FLAT))[3]
    for ri in (1, 2, 5):
        enc = jpeg_encode(grad, w, h, 1, QTABLE_FLAT, restart_interval=ri)
        assert b"\xff\xdd" in enc  # DRI segment present
        assert b"\xff\xd0" in enc  # at least RST0 fired
        assert jpeg_pixels(enc)[3] == base
    # color MCU-interleaved restarts too
    pr = bytes(
        c
        for y in range(13)
        for x in range(20)
        for c in ((x * 12) % 256, (y * 17) % 256, ((x + y) * 7) % 256)
    )
    a = jpeg_pixels(jpeg_encode(pr, 20, 13, 3, subsampling="420"))[3]
    b = jpeg_pixels(
        jpeg_encode(pr, 20, 13, 3, subsampling="420", restart_interval=1)
    )[3]
    assert a == b


def test_jpeg_progressive_round_trip():
    """Progressive (SOF2) streams decode pixel-identically to the
    sequential encoding of the same source — the scan script exercises
    DC first/refine, AC first/refine and EOB runs (r5 ask #4)."""
    import random

    from comperhensive_bigdata_analysis__spark.jpegcodec import (
        QTABLE_FLAT,
        jpeg_encode,
        jpeg_pixels,
    )

    # constant image: every AC scan is one long EOBRUN across blocks
    w, h = 64, 48
    flat = bytes([77]) * (w * h)
    enc = jpeg_encode(flat, w, h, 1, QTABLE_FLAT, progressive=True)
    assert enc.count(b"\xff\xda") == 5  # DC first+refine, 2 AC, refine
    assert b"\xff\xc2" in enc and b"\xff\xc0" not in enc
    assert jpeg_pixels(enc)[3] == flat

    # dark noise (negative DC path) through the standard tables
    rnd = random.Random(7)
    dark = bytes(rnd.randrange(0, 60) for _ in range(w * h))
    assert (
        jpeg_pixels(jpeg_encode(dark, w, h, 1, progressive=True))[3]
        == jpeg_pixels(jpeg_encode(dark, w, h, 1))[3]
    )

    # color, odd dims, every subsampling, with and without restarts
    pix = bytes(rnd.randrange(0, 256) for _ in range(21 * 17 * 3))
    for sub in ("444", "422", "420"):
        seq = jpeg_pixels(jpeg_encode(pix, 21, 17, 3, subsampling=sub))[3]
        pro = jpeg_pixels(
            jpeg_encode(pix, 21, 17, 3, subsampling=sub, progressive=True)
        )[3]
        pro_ri = jpeg_pixels(
            jpeg_encode(
                pix, 21, 17, 3, subsampling=sub, progressive=True,
                restart_interval=2,
            )
        )[3]
        assert seq == pro == pro_ri


def test_jpeg_sampling_factor_4_decodes(monkeypatch):
    """Sampling factors up to the spec max of 4 decode (4:1:1 is the
    DV-family layout); above 4 stays the declared seam."""
    from comperhensive_bigdata_analysis__spark import jpegcodec as jc

    monkeypatch.setitem(jc._SUBSAMPLING, "411", ((4, 1), (1, 1), (1, 1)))
    pr = bytes(
        c
        for y in range(9)
        for x in range(33)
        for c in ((x * 7) % 256, (y * 31) % 256, 128)
    )
    enc = jc.jpeg_encode(pr, 33, 9, 3, jc.QTABLE_FLAT, subsampling="411")
    gw, gh, ch, dec = jc.jpeg_pixels(enc)
    assert (gw, gh, ch) == (33, 9, 3)
    pro = jc.jpeg_encode(
        pr, 33, 9, 3, jc.QTABLE_FLAT, subsampling="411", progressive=True
    )
    assert jc.jpeg_pixels(pro)[3] == dec


def test_jpeg_luma_subsampled_component_rows(monkeypatch):
    """A legal stream whose FIRST component is not max-sampled (Y 1x1
    with Cb/Cr 2x2) must map luma rows through its own vertical ratio —
    the unscaled row index read garbage for the lower image half
    (ADVICE r5)."""
    from comperhensive_bigdata_analysis__spark import jpegcodec as jc

    monkeypatch.setitem(jc._SUBSAMPLING, "inv420", ((1, 1), (2, 2), (2, 2)))
    w = h = 16
    # neutral-chroma vertical gradient: luma varies by ROW, constant per
    # 2x2 box, so the box-averaged Y plane is exact and any row
    # misaddressing shows up as a large error in the lower half
    pix = bytes(
        c for y in range(h) for _x in range(w) for c in ((y // 2) * 30,) * 3
    )
    enc = jc.jpeg_encode(pix, w, h, 3, jc.QTABLE_FLAT, subsampling="inv420")
    gw, gh, ch, dec = jc.jpeg_pixels(enc)
    assert (gw, gh, ch) == (w, h, 3)
    assert max(abs(a - b) for a, b in zip(pix, dec)) <= 2
