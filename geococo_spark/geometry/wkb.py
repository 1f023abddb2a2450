"""Minimal WKB (Well-Known Binary) encode/decode in pure numpy/struct.

Supports the geometry types the engine needs: Point, Polygon,
MultiPolygon (2-D, little-endian). Geometries travel through Spark as
``BinaryType`` columns and are parsed to plain numpy arrays only inside
Arrow/pandas UDF bodies (SURVEY.md §1.1).

A decoded polygon is represented as ``list[np.ndarray]`` of shape
``(n_points, 2)`` rings (first = exterior, rest = holes); a MultiPolygon
as ``list[list[np.ndarray]]``. This mirrors what the reference gets from
shapely objects (reference geococo/utils.py:15) without the dependency.
"""

from __future__ import annotations

import struct

import numpy as np

WKB_POINT = 1
WKB_POLYGON = 3
WKB_MULTIPOLYGON = 6

_LE = "<"


def encode_point(x: float, y: float) -> bytes:
    return struct.pack(_LE + "BIdd", 1, WKB_POINT, x, y)


def encode_polygon(rings: list[np.ndarray]) -> bytes:
    out = [struct.pack(_LE + "BII", 1, WKB_POLYGON, len(rings))]
    for ring in rings:
        ring = np.asarray(ring, dtype=np.float64)
        out.append(struct.pack(_LE + "I", ring.shape[0]))
        out.append(ring.astype("<f8").tobytes())
    return b"".join(out)


def encode_multipolygon(polys: list[list[np.ndarray]]) -> bytes:
    out = [struct.pack(_LE + "BII", 1, WKB_MULTIPOLYGON, len(polys))]
    for rings in polys:
        out.append(encode_polygon(rings))
    return b"".join(out)


def _read_ring(buf: memoryview, off: int) -> tuple[np.ndarray, int]:
    (n,) = struct.unpack_from("<I", buf, off)
    off += 4
    ring = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=off).reshape(n, 2)
    return ring, off + 16 * n


def _read_polygon_body(buf: memoryview, off: int) -> tuple[list[np.ndarray], int]:
    (nrings,) = struct.unpack_from("<I", buf, off)
    off += 4
    rings = []
    for _ in range(nrings):
        ring, off = _read_ring(buf, off)
        rings.append(ring)
    return rings, off


def decode(wkb: bytes):
    """Decode WKB -> (geom_type, payload).

    geom_type in {"Point", "Polygon", "MultiPolygon"}; payload is
    ``(x, y)`` / ``list[ring]`` / ``list[list[ring]]``.
    """
    buf = memoryview(wkb)
    byte_order = buf[0]
    if byte_order != 1:  # big-endian unsupported; engine always writes LE
        raise ValueError("only little-endian WKB supported")
    (gtype,) = struct.unpack_from("<I", buf, 1)
    gtype &= 0xFF  # strip SRID/dimension flags if present
    off = 5
    if gtype == WKB_POINT:
        x, y = struct.unpack_from("<dd", buf, off)
        return "Point", (x, y)
    if gtype == WKB_POLYGON:
        rings, _ = _read_polygon_body(buf, off)
        return "Polygon", rings
    if gtype == WKB_MULTIPOLYGON:
        (npolys,) = struct.unpack_from("<I", buf, off)
        off += 4
        polys = []
        for _ in range(npolys):
            # each child has its own 1-byte order + 4-byte type header
            (ctype,) = struct.unpack_from("<I", buf, off + 1)
            if ctype & 0xFF != WKB_POLYGON:
                raise ValueError("MultiPolygon child is not a Polygon")
            rings, off = _read_polygon_body(buf, off + 5)
            polys.append(rings)
        return "MultiPolygon", polys
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def decode_batch(wkbs) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """CSR-batched polygonal decode of MANY WKB buffers in one pass.

    The kernel's per-label ``decode_rings`` loop was the residual
    Python-per-label cost of the raster path (~40 us/label — round-5
    within-kernel phase profile). Here the variable-length structure walk
    stays a (cheap, integer-only) per-geometry loop, but every
    coordinate of every ring of every geometry lands via ONE vectorized
    byte-gather + ``view('<f8')`` — the same little-endian reinterpret as
    :func:`_read_ring`'s ``np.frombuffer``, so values are bit-identical.

    Returns ``(pts, ring_starts, label_ring_starts, gtypes)``:

    - ``pts`` — ``(N, 2)`` float64, every vertex in geometry order then
      ring order then point order (MultiPolygon children flattened, the
      :func:`decode_rings` order),
    - ``ring_starts`` — int64 ``(R+1,)`` point offsets per ring (CSR),
    - ``label_ring_starts`` — int64 ``(L+1,)`` ring offsets per input
      geometry (CSR),
    - ``gtypes`` — uint32 ``(L,)`` raw WKB type codes (3=Polygon,
      6=MultiPolygon).

    Raises on big-endian, Point, non-Polygon MultiPolygon children or a
    geometry whose rings run past its own bytes — the same contract as
    :func:`decode_rings`.
    """
    n_geoms = len(wkbs)
    gtypes = np.empty(n_geoms, dtype=np.uint32)
    label_ring_counts = np.empty(n_geoms, dtype=np.int64)
    ring_npts: list[int] = []
    coord_offs: list[int] = []  # byte offset of each ring's coords in the concat buffer
    base = 0
    unpack = struct.unpack_from
    for i, gb in enumerate(wkbs):
        if gb[0] != 1:
            raise ValueError("only little-endian WKB supported")
        (gtype,) = unpack("<I", gb, 1)
        gtype &= 0xFF
        gtypes[i] = gtype
        off = 5
        nrings_label = 0
        if gtype == WKB_POLYGON:
            (nrings,) = unpack("<I", gb, off)
            off += 4
            for _ in range(nrings):
                (npt,) = unpack("<I", gb, off)
                off += 4
                ring_npts.append(npt)
                coord_offs.append(base + off)
                off += 16 * npt
            nrings_label = nrings
        elif gtype == WKB_MULTIPOLYGON:
            (npolys,) = unpack("<I", gb, off)
            off += 4
            for _ in range(npolys):
                (ctype,) = unpack("<I", gb, off + 1)
                if ctype & 0xFF != WKB_POLYGON:
                    raise ValueError("MultiPolygon child is not a Polygon")
                off += 5
                (nrings,) = unpack("<I", gb, off)
                off += 4
                for _ in range(nrings):
                    (npt,) = unpack("<I", gb, off)
                    off += 4
                    ring_npts.append(npt)
                    coord_offs.append(base + off)
                    off += 16 * npt
                nrings_label += nrings
        else:
            raise ValueError(f"decode_batch: expected polygonal geometry, got type {gtype}")
        if off > len(gb):
            # the gather below reads the concatenated buffer, so a
            # truncated geometry would silently borrow the next one's bytes
            raise ValueError(f"decode_batch: geometry {i} is truncated ({len(gb)} < {off} bytes)")
        label_ring_counts[i] = nrings_label
        base += len(gb)
    npts = np.asarray(ring_npts, dtype=np.int64)
    ring_starts = np.zeros(len(npts) + 1, dtype=np.int64)
    np.cumsum(npts, out=ring_starts[1:])
    label_ring_starts = np.zeros(n_geoms + 1, dtype=np.int64)
    np.cumsum(label_ring_counts, out=label_ring_starts[1:])
    if len(npts) == 0 or int(ring_starts[-1]) == 0:
        return np.empty((0, 2), dtype=np.float64), ring_starts, label_ring_starts, gtypes
    u8 = np.frombuffer(b"".join(bytes(g) for g in wkbs), dtype=np.uint8)
    cbytes = npts * 16
    out_starts = np.zeros(len(npts), dtype=np.int64)
    np.cumsum(cbytes[:-1], out=out_starts[1:])
    # flat byte index: output position j in ring k maps to
    # coord_offs[k] + (j - out_starts[k]) — one gather for every coordinate
    flat = np.repeat(np.asarray(coord_offs, dtype=np.int64) - out_starts, cbytes)
    flat += np.arange(int(cbytes.sum()), dtype=np.int64)
    pts = u8[flat].view("<f8").reshape(-1, 2)
    return pts, ring_starts, label_ring_starts, gtypes


def decode_rings(wkb: bytes) -> list[np.ndarray]:
    """Decode to a flat ring list (MultiPolygon children concatenated).

    Sufficient for even-odd point-in-polygon tests, bounds, and
    all_touched rasterization, where ring grouping does not matter.
    """
    gtype, payload = decode(wkb)
    if gtype == "Polygon":
        return payload
    if gtype == "MultiPolygon":
        return [ring for rings in payload for ring in rings]
    raise ValueError(f"decode_rings: expected polygonal geometry, got {gtype}")


def geom_type(wkb: bytes) -> str:
    (gtype,) = struct.unpack_from("<I", memoryview(wkb), 1)
    return {WKB_POINT: "Point", WKB_POLYGON: "Polygon", WKB_MULTIPOLYGON: "MultiPolygon"}[
        gtype & 0xFF
    ]


def bounds(wkb: bytes) -> tuple[float, float, float, float]:
    """(minx, miny, maxx, maxy) of any supported geometry."""
    gtype, payload = decode(wkb)
    if gtype == "Point":
        x, y = payload
        return x, y, x, y
    rings = payload if gtype == "Polygon" else [r for rs in payload for r in rs]
    allpts = np.vstack(rings)
    mn = allpts.min(axis=0)
    mx = allpts.max(axis=0)
    return float(mn[0]), float(mn[1]), float(mx[0]), float(mx[1])


def buffer_point(x: float, y: float, distance: float, quad_segs: int = 8) -> np.ndarray:
    """Circle polygon approximating ``Point(x, y).buffer(distance)``.

    Matches shapely's default fidelity (8 segments per quadrant, so a
    closed 33-point ring) used by the reference fixtures
    (reference tests/conftest.py:92). Exact vertex placement differs from
    GEOS but bounds (x±d, y±d) — the only property golden tests rely on —
    are exact because axis-extreme points are included.
    """
    n = 4 * quad_segs
    ang = np.linspace(0.0, 2.0 * np.pi, n, endpoint=False)
    pts = np.column_stack([x + distance * np.cos(ang), y + distance * np.sin(ang)])
    # snap the four axis-extreme vertices exactly (cos/sin roundoff)
    pts[0] = (x + distance, y)
    pts[quad_segs] = (x, y + distance)
    pts[2 * quad_segs] = (x - distance, y)
    pts[3 * quad_segs] = (x, y - distance)
    return np.vstack([pts, pts[:1]])  # close ring
