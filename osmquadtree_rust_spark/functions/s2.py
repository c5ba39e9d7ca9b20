"""S2 cell IDs (public algorithm of the S2 geometry library, Apache-2.0;
implemented from the published spec — no geometry libraries ship in this
container).

Pipeline: lat/lng -> unit XYZ -> cube face + (u,v) -> quadratic (s,t) ->
leaf (i,j) at 2^30 resolution -> 64-bit cell id along the face-local
Hilbert curve (4-bit lookup tables), leaf bit set.  `parent` truncates to
a level; ids of a cell's descendants form the contiguous range
[id - (lsb-1), id + (lsb-1)] — the property hierarchical spatial joins
rely on.

Vectorized numpy throughout; used via pandas UDFs like the qt encode.
"""

from __future__ import annotations

import numpy as np

_K_LOOKUP_BITS = 4
_SWAP = 1
_INVERT = 2
_POS_TO_IJ = np.array(
    [[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]], dtype=np.int64
)
_POS_TO_ORIENTATION = np.array([_SWAP, 0, 0, _INVERT + _SWAP], dtype=np.int64)

_LOOKUP_POS = np.zeros(1 << (2 * _K_LOOKUP_BITS + 2), dtype=np.int64)
_LOOKUP_IJ = np.zeros(1 << (2 * _K_LOOKUP_BITS + 2), dtype=np.int64)


def _init_lookup(level, i, j, orig_orientation, pos, orientation):
    if level == _K_LOOKUP_BITS:
        ij = (i << _K_LOOKUP_BITS) + j
        _LOOKUP_POS[(ij << 2) + orig_orientation] = (pos << 2) + orientation
        _LOOKUP_IJ[(pos << 2) + orig_orientation] = (ij << 2) + orientation
        return
    level += 1
    i <<= 1
    j <<= 1
    pos <<= 2
    r = _POS_TO_IJ[orientation]
    for index in range(4):
        _init_lookup(
            level,
            i + (int(r[index]) >> 1),
            j + (int(r[index]) & 1),
            orig_orientation,
            pos + index,
            orientation ^ int(_POS_TO_ORIENTATION[index]),
        )


for _o in range(4):
    _init_lookup(0, 0, 0, _o, 0, _o)

MAX_LEVEL = 30


def lat_lng_to_xyz(lat_deg: np.ndarray, lng_deg: np.ndarray):
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lng = np.radians(np.asarray(lng_deg, dtype=np.float64))
    cl = np.cos(lat)
    return cl * np.cos(lng), cl * np.sin(lng), np.sin(lat)


def xyz_to_face_uv(x, y, z):
    # canonical S2 LargestAbsComponent uses STRICT > comparisons, so tie
    # points (|x| == |y|, e.g. lng=45 on the equator) prefer the later
    # axis — required for interoperability with library-generated ids
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax > ay, np.where(ax > az, 0, 2), np.where(ay > az, 1, 2))
    comp = np.where(face == 0, x, np.where(face == 1, y, z))
    face = np.where(comp < 0, face + 3, face)
    u = np.empty_like(x)
    v = np.empty_like(x)
    for f, (ue, ve, de) in enumerate(
        [
            (lambda: y, lambda: z, lambda: x),
            (lambda: -x, lambda: z, lambda: y),
            (lambda: -x, lambda: -y, lambda: z),
            (lambda: z, lambda: y, lambda: x),
            (lambda: z, lambda: -x, lambda: y),
            (lambda: -y, lambda: -x, lambda: z),
        ]
    ):
        m = face == f
        if m.any():
            d = de()[m]
            u[m] = ue()[m] / d
            v[m] = ve()[m] / d
    return face.astype(np.int64), u, v


def uv_to_st(u: np.ndarray) -> np.ndarray:
    """S2's quadratic projection."""
    with np.errstate(invalid="ignore"):
        return np.where(
            u >= 0, 0.5 * np.sqrt(1.0 + 3.0 * u), 1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u)
        )


def st_to_ij(s: np.ndarray) -> np.ndarray:
    return np.clip((np.floor((1 << MAX_LEVEL) * s)).astype(np.int64), 0, (1 << MAX_LEVEL) - 1)


def cell_id_from_face_ij(face: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Leaf cell id along the Hilbert curve (published lookup-table
    construction, 8 chunks of 4 bits).  Ids are unsigned 64-bit (faces 4-5
    and high curve positions use the top bits), hence uint64 throughout."""
    face = np.asarray(face).astype(np.uint64)
    i = np.asarray(i).astype(np.uint64)
    j = np.asarray(j).astype(np.uint64)
    n = face << np.uint64(60)
    bits = (face & np.uint64(_SWAP)).astype(np.int64)
    mask = np.uint64((1 << _K_LOOKUP_BITS) - 1)
    for k in range(7, -1, -1):
        idx = (
            (bits & (_SWAP | _INVERT))
            + (((i >> np.uint64(k * 4)) & mask) << np.uint64(_K_LOOKUP_BITS + 2)).astype(np.int64)
            + (((j >> np.uint64(k * 4)) & mask) << np.uint64(2)).astype(np.int64)
        )
        bits = _LOOKUP_POS[idx]
        n = n | ((bits >> 2).astype(np.uint64) << np.uint64(k * 8))
        bits = bits & (_SWAP | _INVERT)
    return n * np.uint64(2) + np.uint64(1)


def cell_id_to_face_ij(cell_id: np.ndarray):
    """Inverse of cell_id_from_face_ij for leaf ids."""
    cid = np.asarray(cell_id).astype(np.uint64)
    face = cid >> np.uint64(61)
    n = (cid >> np.uint64(1)) & np.uint64((1 << 60) - 1)
    i = np.zeros(cid.shape, dtype=np.uint64)
    j = np.zeros(cid.shape, dtype=np.uint64)
    bits = (face & np.uint64(_SWAP)).astype(np.int64)
    for k in range(7, -1, -1):
        idx = (bits & (_SWAP | _INVERT)) + (
            ((n >> np.uint64(k * 8)) & np.uint64(0xFF)).astype(np.int64) << 2
        )
        ij_o = _LOOKUP_IJ[idx]
        ij = (ij_o >> 2).astype(np.uint64)
        i = i | ((ij >> np.uint64(_K_LOOKUP_BITS)) << np.uint64(k * 4))
        j = j | ((ij & np.uint64((1 << _K_LOOKUP_BITS) - 1)) << np.uint64(k * 4))
        bits = ij_o & (_SWAP | _INVERT)
    return face.astype(np.int64), i.astype(np.int64), j.astype(np.int64)


def s2_cell_id(lat_deg, lng_deg) -> np.ndarray:
    """Leaf (level-30) S2 cell id for degree coordinates."""
    x, y, z = lat_lng_to_xyz(lat_deg, lng_deg)
    face, u, v = xyz_to_face_uv(x, y, z)
    i = st_to_ij(uv_to_st(u))
    j = st_to_ij(uv_to_st(v))
    return cell_id_from_face_ij(face, i, j)


def s2_cell_id_fixed(lon_fixed, lat_fixed) -> np.ndarray:
    """From fixed-point 1e-7-degree coordinates (engine convention)."""
    return s2_cell_id(
        np.asarray(lat_fixed, dtype=np.float64) * 1e-7,
        np.asarray(lon_fixed, dtype=np.float64) * 1e-7,
    )


def parent(cell_id, level: int) -> np.ndarray:
    """Ancestor at `level` (0..30)."""
    cid = np.asarray(cell_id).astype(np.uint64)
    lsb = np.uint64(1) << np.uint64(2 * (MAX_LEVEL - int(level)))
    return (cid & ~(lsb - np.uint64(1))) | lsb


def range_min(cell_id) -> np.ndarray:
    cid = np.asarray(cell_id).astype(np.uint64)
    lsb = cid & (~cid + np.uint64(1))
    return cid - (lsb - np.uint64(1))


def range_max(cell_id) -> np.ndarray:
    cid = np.asarray(cell_id).astype(np.uint64)
    lsb = cid & (~cid + np.uint64(1))
    return cid + (lsb - np.uint64(1))


def contains(ancestor, descendant) -> np.ndarray:
    d = np.asarray(descendant).astype(np.uint64)
    return (range_min(ancestor) <= d) & (d <= range_max(ancestor))


def to_token(cell_id) -> list[str]:
    """Canonical S2 token form (published s2cell_id encoding): the 16-digit
    lowercase hex id with trailing zero digits stripped; the zero id is
    "X".  This is the interop surface most external S2 datasets carry."""
    out = []
    for v in np.asarray(cell_id, dtype=np.uint64).ravel():
        if int(v) == 0:
            out.append("X")
            continue
        out.append(f"{int(v):016x}".rstrip("0"))
    return out


def from_token(tokens) -> np.ndarray:
    """Inverse of to_token (right-pad the hex digits with zeros)."""
    vals = []
    for t in tokens:
        if t in ("X", "x", ""):
            vals.append(0)
            continue
        if len(t) > 16:
            raise ValueError(f"invalid S2 token {t!r}")
        vals.append(int(t, 16) << (4 * (16 - len(t))))
    return np.array(vals, dtype=np.uint64)


def to_signed(cell_id) -> np.ndarray:
    """Reinterpret uint64 ids as int64 for storage in Spark LongType."""
    return np.asarray(cell_id, dtype=np.uint64).view(np.int64)


def from_signed(cell_id) -> np.ndarray:
    return np.asarray(cell_id, dtype=np.int64).view(np.uint64)
