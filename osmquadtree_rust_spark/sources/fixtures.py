"""Deterministic synthetic test fixtures (seed fixed, no external data).

Implements FIXTURES.md: the `images` table (image_id, bytes, w, h, fmt,
caption, phash) with real PNG payloads (pure-Python codec below — the
container has no imaging libraries) and a clearly-marked deterministic
stand-in for JPEG; the OSM-shaped `elements` tables that pin the reference
join/aggregate semantics; a `changes` table; and `tile_polygons`.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from ..functions import qt_numpy as qtn
from ..session import local_frame

SEED = 42
NOUNS = ["river", "harbor", "forest", "plaza", "bridge", "meadow", "canyon", "island"]


def splitmix64(x: np.ndarray) -> np.ndarray:
    """SplitMix64 mixer over uint64 (public-domain algorithm)."""
    z = (np.asarray(x, dtype=np.uint64) + np.uint64(0x9E3779B97F4A7C15))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


# ---------------------------------------------------------------------------
# minimal PNG codec (RGB8, filter 0) — real, verifiable image bytes
# ---------------------------------------------------------------------------

def png_encode(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 array as a real PNG (color type 2,
    bit depth 8, filter 0 rows, one IDAT)."""
    h, w, _ = pixels.shape

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + pixels[r].tobytes() for r in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def png_decode(data: bytes) -> np.ndarray:
    """Decode PNGs produced by png_encode (filter 0/1/2 supported)."""
    assert data[:8] == b"\x89PNG\r\n\x1a\n", "not a PNG"
    pos = 8
    w = h = None
    idat = b""
    while pos < len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", body[:10])
            assert depth == 8 and ctype == 2, "only RGB8 supported"
        elif tag == b"IDAT":
            idat += body
        pos += 12 + ln
    raw = zlib.decompress(idat)
    stride = w * 3
    out = np.zeros((h, w, 3), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for r in range(h):
        f = raw[r * (stride + 1)]
        row = np.frombuffer(
            raw[r * (stride + 1) + 1 : (r + 1) * (stride + 1)], dtype=np.uint8
        ).copy()
        if f == 1:  # Sub
            for c in range(3, stride):
                row[c] = (int(row[c]) + int(row[c - 3])) & 0xFF
        elif f == 2:  # Up
            row = (row.astype(np.int16) + prev.astype(np.int16)).astype(np.uint8)
        elif f != 0:
            raise NotImplementedError(f"PNG filter {f}")
        out[r] = row.reshape(w, 3)
        prev = out[r].reshape(-1)
    return out


# ---------------------------------------------------------------------------
# real lossy codec for fmt='jpeg': JPEG's transform path — 8x8 type-II DCT
# per channel + the standard luminance quantization table (JPEG spec
# Annex K) scaled fine — with zlib standing in for the Huffman entropy
# stage (the container ships no codec libraries).  Quantization genuinely
# discards information, so the BASELINE "decoded-pixel PSNR >= 40 dB for
# lossy fmt" invariant is exercised for real (tests/test_images_e2e.py).
# ---------------------------------------------------------------------------

_DCTQ_MAGIC = b"DCTQ0001"
_DCTQ_SCALE_PPM = 500000  # 0.5 x Annex-K table ~ libjpeg quality ~90;
# worst-case fixture PSNR ~45.8 dB — real loss, real margin over the 40 dB gate


def _dct8_matrix() -> np.ndarray:
    k = np.arange(8)
    m = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16.0)
    m[0, :] = 1.0
    m *= np.where(k == 0, np.sqrt(1.0 / 8.0), np.sqrt(2.0 / 8.0))[:, None]
    return m


_DCT8 = _dct8_matrix()

# standard JPEG luminance quantization table (spec Annex K, public)
_QTAB = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.float64,
)


def _quant_table(scale_ppm: int) -> np.ndarray:
    return np.maximum(1.0, np.round(_QTAB * (scale_ppm / 1e6)))


def _to_blocks(ch: np.ndarray) -> np.ndarray:
    """(H, W) padded to 8-multiples by edge replication -> (n, 8, 8)."""
    h, w = ch.shape
    ph, pw = (-h) % 8, (-w) % 8
    ch = np.pad(ch, ((0, ph), (0, pw)), mode="edge")
    hh, ww = ch.shape
    return (
        ch.reshape(hh // 8, 8, ww // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _from_blocks(blocks: np.ndarray, h: int, w: int) -> np.ndarray:
    hh, ww = h + ((-h) % 8), w + ((-w) % 8)
    out = (
        blocks.reshape(hh // 8, ww // 8, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(hh, ww)
    )
    return out[:h, :w]


def dctq_encode(pixels: np.ndarray, scale_ppm: int = _DCTQ_SCALE_PPM) -> bytes:
    """Lossy encode: per-channel blocked DCT-II, quantize, zlib."""
    h, w, _ = pixels.shape
    q = _quant_table(scale_ppm)
    planes = []
    for c in range(3):
        blocks = _to_blocks(pixels[:, :, c].astype(np.float64) - 128.0)
        coeff = np.einsum("ij,njk,lk->nil", _DCT8, blocks, _DCT8)
        planes.append(np.round(coeff / q).astype(np.int16))
    payload = np.concatenate(planes).tobytes()
    return (
        _DCTQ_MAGIC
        + struct.pack(">III", w, h, scale_ppm)
        + zlib.compress(payload, 6)
    )


def dctq_decode(data: bytes) -> np.ndarray:
    assert data[:8] == _DCTQ_MAGIC, "not a DCTQ payload"
    w, h, scale_ppm = struct.unpack(">III", data[8:20])
    q = _quant_table(scale_ppm)
    raw = np.frombuffer(zlib.decompress(data[20:]), dtype=np.int16)
    nb = ((h + 7) // 8) * ((w + 7) // 8)
    out = np.zeros((h, w, 3), dtype=np.uint8)
    for c in range(3):
        coeff = raw[c * nb * 64 : (c + 1) * nb * 64].reshape(-1, 8, 8) * q
        blocks = np.einsum("ji,njk,kl->nil", _DCT8, coeff, _DCT8)
        out[:, :, c] = np.clip(
            np.round(_from_blocks(blocks, h, w) + 128.0), 0, 255
        ).astype(np.uint8)
    return out


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    mse = np.mean(
        (a.astype(np.float64) - b.astype(np.float64)) ** 2
    )
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "png":
        return png_decode(data)
    if fmt == "jpeg":
        return dctq_decode(data)
    raise NotImplementedError(f"unsupported fmt {fmt!r}")


def synth_pixels(i: int, w: int, h: int) -> np.ndarray:
    """Deterministic gradient/pattern pixels keyed by i."""
    yy, xx = np.mgrid[0:h, 0:w]
    r = (xx * 255 // max(w - 1, 1) + i) % 256
    g = (yy * 255 // max(h - 1, 1) + 2 * i) % 256
    b = (xx + yy + 3 * i) % 256
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


# ---------------------------------------------------------------------------
# images table (FIXTURES.md §1)
# ---------------------------------------------------------------------------

W_CYCLE = [16, 32, 64, 128]
H_CYCLE = [16, 24, 48, 96]
FMT_CYCLE = ["png", "jpeg"]


def images_rows(n: int, with_bytes: bool = True):
    """List of dict rows for the images table; deterministic in i."""
    ph = splitmix64(np.arange(n, dtype=np.uint64)).astype(np.int64)
    rows = []
    for i in range(n):
        w = W_CYCLE[i % 4]
        h = H_CYCLE[i % 4]
        fmt = FMT_CYCLE[i % 2]
        if with_bytes:
            px = synth_pixels(i, w, h)
            data = png_encode(px) if fmt == "png" else dctq_encode(px)
        else:
            data = None
        rows.append(
            {
                "image_id": f"img{i:012d}",
                "bytes": bytearray(data) if data is not None else None,
                "w": w,
                "h": h,
                "fmt": fmt,
                "caption": f"caption {i} {NOUNS[i % len(NOUNS)]}",
                "phash": int(ph[i]),
            }
        )
    return rows


def images_spark_df(spark, n: int, with_bytes: bool = True):
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("image_id", StringType()),
            StructField("bytes", BinaryType()),
            StructField("w", IntegerType()),
            StructField("h", IntegerType()),
            StructField("fmt", StringType()),
            StructField("caption", StringType()),
            StructField("phash", LongType()),
        ]
    )
    rows = [
        (r["image_id"], bytes(r["bytes"]) if r["bytes"] is not None else None,
         r["w"], r["h"], r["fmt"], r["caption"], r["phash"])
        for r in images_rows(n, with_bytes)
    ]
    return local_frame(spark, rows, schema)


def phash_footprint(phash: np.ndarray, w: np.ndarray, h: np.ndarray):
    """FIXTURES.md footprint rule: deinterleave phash bits geohash-style to
    a (lon, lat) centre, extent = pixel dims x FOOTPRINT_SCALE."""
    from .synth import FOOTPRINT_SCALE

    p = np.asarray(phash, dtype=np.uint64)
    lon_bits = np.zeros(p.shape, dtype=np.uint64)
    lat_bits = np.zeros(p.shape, dtype=np.uint64)
    for k in range(32):
        lon_bits |= ((p >> np.uint64(2 * k)) & np.uint64(1)) << np.uint64(k)
        lat_bits |= ((p >> np.uint64(2 * k + 1)) & np.uint64(1)) << np.uint64(k)
    lon = ((lon_bits >> np.uint64(1)).astype(np.int64) * 3600000000 >> 31) - 1800000000
    lat = ((lat_bits >> np.uint64(1)).astype(np.int64) * 1800000000 >> 31) - 900000000
    we = np.asarray(w, dtype=np.int64) * FOOTPRINT_SCALE
    he = np.asarray(h, dtype=np.int64) * FOOTPRINT_SCALE
    return (
        np.maximum(lon - we, -1800000000),
        np.maximum(lat - he, -900000000),
        np.minimum(lon + we, 1800000000),
        np.minimum(lat + he, 900000000),
    )


# ---------------------------------------------------------------------------
# OSM-shaped elements fixture (FIXTURES.md §2)
# ---------------------------------------------------------------------------

def elements_fixture(n_nodes: int = 2000, n_ways: int = 400, n_rels: int = 60):
    """(nodes, ways, relations) as plain dicts, deterministic.

    nodes: {id: (lon, lat)}; ways: {id: [node ids]};
    relations: {id: [(mem_type, mem_ref)]} with 0=node 1=way 2=relation.
    Grid spans several quadrants incl. antimeridian/equator straddles.
    """
    rng = np.random.RandomState(SEED)
    side = int(np.ceil(np.sqrt(n_nodes)))
    ids = np.arange(1, n_nodes + 1, dtype=np.int64)
    gx = (ids - 1) % side
    gy = (ids - 1) // side
    lon = (-1700000000 + gx * (3400000000 // side)).astype(np.int64)
    lat = (-850000000 + gy * (1700000000 // side)).astype(np.int64)
    lon = lon + rng.randint(-500000, 500000, n_nodes)
    lat = lat + rng.randint(-500000, 500000, n_nodes)
    # straddlers: pin some nodes right at the equator/meridian/antimeridian
    for k, (lo, la) in enumerate(
        [(0, 0), (-1, 0), (1, -1), (-1799999999, 0), (1799999998, 5),
         (3, 899999998), (7, -899999999), (0, 450000000), (-900000000, 0)]
    ):
        lon[k], lat[k] = lo, la
    nodes = {int(i): (int(lon[k]), int(lat[k])) for k, i in enumerate(ids)}

    ways = {}
    node_list = list(nodes)
    for wi in range(1, n_ways + 1):
        ln = int(rng.randint(2, 31))
        start = int(rng.randint(0, n_nodes))
        if wi % 7 == 0:
            # crossing ways: sample far-apart nodes so way qt < node depth
            refs = [node_list[int(rng.randint(0, n_nodes))] for _ in range(ln)]
        else:
            refs = [node_list[(start + j) % n_nodes] for j in range(ln)]
        ways[wi] = refs

    relations = {}
    way_list = list(ways)
    for ri in range(1, n_rels + 1):
        mems = []
        if ri == 1:
            pass  # empty relation -> qt 0
        elif ri == 2:
            mems = [(2, ri)]  # self-reference (find_update.rs:482-484)
        elif ri <= 8:
            # chain of depth ri-2 (1..6): ri references ri+1... built below
            mems = [(2, ri + 100)]
        elif ri % 3 == 0:
            mems = [(0, node_list[int(rng.randint(0, n_nodes))]) for _ in range(3)]
        elif ri % 3 == 1:
            mems = [(1, way_list[int(rng.randint(0, n_ways))]) for _ in range(2)]
        else:
            mems = [
                (0, node_list[int(rng.randint(0, n_nodes))]),
                (1, way_list[int(rng.randint(0, n_ways))]),
                (2, (ri % n_rels) + 1),
            ]
        relations[ri] = mems
    # rel-of-rel chains rooted at 103..108 with descending tails
    for d in range(6):
        base = 103 + d
        chain = [base]
        for j in range(d + 1):
            nxt = 200 + 10 * d + j
            relations[chain[-1]] = relations.get(chain[-1], []) + [(2, nxt)]
            chain.append(nxt)
        relations[chain[-1]] = [(0, node_list[d])]
    return nodes, ways, relations


def elements_spark_dfs(spark, nodes, ways, relations):
    nodes_df = local_frame(
        spark,
        [(i, ln, lt) for i, (ln, lt) in sorted(nodes.items())],
        "id long, lon long, lat long",
    )
    ways_df = local_frame(
        spark,
        [(i, refs) for i, refs in sorted(ways.items())],
        "id long, refs array<long>",
    )
    rels_df = local_frame(
        spark,
        [
            (i, [{"mem_type": t, "mem_ref": r} for t, r in mems])
            for i, mems in sorted(relations.items())
        ],
        "id long, members array<struct<mem_type:int, mem_ref:long>>",
    )
    return nodes_df, ways_df, rels_df


# ---------------------------------------------------------------------------
# video / audio fixture containers.  No real av codecs exist in this
# container, so these are deterministic FIXTURE formats (clearly marked):
# video = magic + frame count + length-prefixed real-PNG frames; audio =
# magic + sample rate + zlib'd int16 PCM.  The Spark-side operators
# (operators/multimodal.py) do real work over them — frame explode,
# windowed DSP features — with the container swap-out point isolated here.
# ---------------------------------------------------------------------------

_VID_MAGIC = b"FVID0001"
_AUD_MAGIC = b"FAUD0001"


def video_encode(frames: list[np.ndarray]) -> bytes:
    out = [_VID_MAGIC, struct.pack(">I", len(frames))]
    for f in frames:
        p = png_encode(f)
        out.append(struct.pack(">I", len(p)))
        out.append(p)
    return b"".join(out)


def video_decode_frames(data: bytes):
    assert data[:8] == _VID_MAGIC, "not a fixture video"
    (n,) = struct.unpack(">I", data[8:12])
    pos = 12
    for _ in range(n):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        yield png_decode(data[pos + 4 : pos + 4 + ln])
        pos += 4 + ln


def audio_encode(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    return (
        _AUD_MAGIC
        + struct.pack(">I", sample_rate)
        + zlib.compress(samples.astype(np.int16).tobytes(), 1)
    )


def audio_decode(data: bytes):
    assert data[:8] == _AUD_MAGIC, "not a fixture audio"
    (sr,) = struct.unpack(">I", data[8:12])
    return sr, np.frombuffer(zlib.decompress(data[12:]), dtype=np.int16)


# ---------------------------------------------------------------------------
# deterministic video/audio fixture tables (gate + test inputs)
# ---------------------------------------------------------------------------

VID_W, VID_H = 16, 16
VID_FRAMES = 12


def synth_video_rows(n: int):
    """n fixture videos; frame f of video v has synth_pixels seed
    v*101 + f, so any frame's channel sums are pure arithmetic."""
    rows = []
    for v in range(n):
        frames = [
            synth_pixels(v * 101 + f, VID_W, VID_H) for f in range(VID_FRAMES)
        ]
        rows.append((f"vid{v:06d}", video_encode(frames)))
    return rows


AUD_BASE_N = 1000


def synth_audio_samples(i: int) -> "np.ndarray":
    """Deterministic int16 clip: s[k] = ((k*k + 7i) % 20001) - 10000 —
    integer arithmetic an SQL oracle reproduces exactly; squared sums
    stay under 2^53 so double mean/sqrt/floor are engine-identical."""
    n = AUD_BASE_N + 100 * (i % 5)
    k = np.arange(n, dtype=np.int64)
    return (((k * k + 7 * i) % 20001) - 10000).astype(np.int16)


def synth_audio_rows(n: int):
    return [
        (
            f"aud{i:06d}",
            audio_encode(synth_audio_samples(i), 8000 + 4000 * (i % 2)),
        )
        for i in range(n)
    ]
