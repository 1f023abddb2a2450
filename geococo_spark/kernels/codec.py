"""Image encode/decode for the engine's ``bytes`` columns (R8/R9).

The reference reads GeoTIFFs with rasterio and writes JPEG tiles with
GDAL (geococo/coco_processing.py:150-151). Neither GDAL nor cv2/PIL
exists in this container, so:

- ``raw``/``tiff`` rows use a tiny lossless header+ndarray format
  (deterministic, byte-exact round-trip),
- ``jpeg`` rows use a clearly-marked DETERMINISTIC FAKE lossy codec
  (uniform quantization to step 4) whose reconstruction error is bounded
  (PSNR ~= 42-48 dB, above the 40 dB quality gate). If a real
  codec (cv2 or PIL) is importable it is used instead.

All Spark-side plumbing (schemas, batch shapes, UDF signatures) is real
and tested; only the codec arithmetic is a stand-in, per the driver's
stub-the-decode instruction.
"""

from __future__ import annotations

import struct

import numpy as np

try:  # pragma: no cover - not present in this container
    import cv2  # type: ignore

    _HAVE_CV2 = True
except Exception:
    _HAVE_CV2 = False

_MAGIC_RAW = b"GRAW"
_MAGIC_FAKE_JPG = b"GJPG"
_DTYPES = {0: np.uint8, 1: np.uint16, 2: np.int32, 3: np.float32, 4: np.float64}
_DTYPE_CODES = {np.dtype(v): k for k, v in _DTYPES.items()}
_FAKE_JPEG_STEP = 4  # quantization step; max abs error 2 -> PSNR >> 40 dB


def encode_image(arr: np.ndarray, fmt: str = "raw") -> bytes:
    """(bands, rows, cols) ndarray -> bytes in the given format."""
    arr = np.ascontiguousarray(arr)
    if arr.ndim != 3:
        raise ValueError("expected (bands, rows, cols)")
    fmt = fmt.lower()
    if fmt in ("jpeg", "jpg"):
        if _HAVE_CV2:  # pragma: no cover
            ok, buf = cv2.imencode(".jpg", np.moveaxis(arr, 0, -1))
            if not ok:
                raise ValueError("cv2 JPEG encode failed")
            return buf.tobytes()
        if arr.dtype != np.uint8:
            raise ValueError("fake JPEG codec requires uint8")
        q = (arr // _FAKE_JPEG_STEP).astype(np.uint8)
        head = _MAGIC_FAKE_JPG + struct.pack("<IIIB", *arr.shape, _DTYPE_CODES[arr.dtype])
        return head + q.tobytes()
    head = _MAGIC_RAW + struct.pack("<IIIB", *arr.shape, _DTYPE_CODES[np.dtype(arr.dtype)])
    return head + arr.tobytes()


def decode_image(data: bytes) -> np.ndarray:
    """bytes -> (bands, rows, cols) ndarray (magic-sniffed)."""
    magic = bytes(data[:4])
    if magic in (_MAGIC_RAW, _MAGIC_FAKE_JPG):
        b, r, c, dt = struct.unpack_from("<IIIB", data, 4)
        arr = np.frombuffer(data, dtype=_DTYPES[dt], offset=17).reshape(b, r, c)
        if magic == _MAGIC_FAKE_JPG:
            # dequantize to bin centers (deterministic reconstruction)
            arr = np.minimum(
                arr.astype(np.uint16) * _FAKE_JPEG_STEP + _FAKE_JPEG_STEP // 2, 255
            ).astype(np.uint8)
        return arr
    if _HAVE_CV2:  # pragma: no cover
        img = cv2.imdecode(np.frombuffer(data, np.uint8), cv2.IMREAD_UNCHANGED)
        if img is None:
            raise ValueError("cv2 decode failed")
        if img.ndim == 2:
            img = img[:, :, None]
        return np.moveaxis(img, -1, 0)
    raise NotImplementedError(
        "STUB: real image codecs (cv2/PIL) are not available in this "
        "container; only the engine's raw/fake-jpeg formats are decodable"
    )


def normalize_minmax_uint8(arr: np.ndarray) -> np.ndarray:
    """cv2.normalize(NORM_MINMAX, 0..255, CV_8U) equivalent (R4,
    geococo/coco_processing.py:124-133). uint8 input passes through
    untouched, exactly like the reference's dtype gate."""
    if arr.dtype == np.uint8:
        return arr
    lo = float(arr.min())
    hi = float(arr.max())
    if hi == lo:
        return np.zeros(arr.shape, dtype=np.uint8)
    scaled = (arr.astype(np.float64) - lo) * (255.0 / (hi - lo))
    # cv2 saturate_cast rounds half-to-even (cvRound); np.rint matches
    return np.clip(np.rint(scaled), 0, 255).astype(np.uint8)


def psnr(a: np.ndarray, b: np.ndarray, peak: float = 255.0) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(peak * peak / mse)


def phash64(arr: np.ndarray) -> int:
    """Deterministic 64-bit perceptual hash: 8x8 block-mean of the band
    mean vs its median (input_hint: phash column verification)."""
    gray = arr.astype(np.float64).mean(axis=0)
    h, w = gray.shape
    ys = np.linspace(0, h, 9).astype(int)
    xs = np.linspace(0, w, 9).astype(int)
    blocks = np.zeros((8, 8))
    for i in range(8):
        for j in range(8):
            patch = gray[ys[i] : max(ys[i + 1], ys[i] + 1), xs[j] : max(xs[j + 1], xs[j] + 1)]
            blocks[i, j] = patch.mean() if patch.size else 0.0
    med = np.median(blocks)
    bits = (blocks.ravel() > med).astype(np.uint64)
    out = np.uint64(0)
    for k, b in enumerate(bits):
        out |= b << np.uint64(k)
    return int(out.astype(np.int64))


def reshape_image(img_array: np.ndarray, shape: tuple, padding_value: int = 0) -> np.ndarray:
    """R3 — slice to target then pad bottom/right with padding_value
    (reference geococo/utils.py:68-86, including its (count, width,
    height) target-shape convention quirk noted in SURVEY.md §2.8)."""
    if img_array.ndim != len(shape):
        raise ValueError(f"Number of dimensions have to match ({img_array.shape} != {shape})")
    img_array = img_array[: shape[0], : shape[1], : shape[2]]
    pads = [(0, max(0, n - img_array.shape[i])) for i, n in enumerate(shape)]
    return np.pad(img_array, pads, mode="constant", constant_values=padding_value)
