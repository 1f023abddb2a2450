"""COCO compressed RLE (run-length encoding) in pure numpy.

Implements the public COCO mask format produced by
``pycocotools.mask.encode`` (used by the reference at
geococo/coco_processing.py:170): the mask is flattened in **column-major
(Fortran) order**, run lengths alternate 0-runs and 1-runs starting with
a (possibly zero-length) 0-run, and the counts are serialized with a
LEB128-like variable-length code using 6 bits per ASCII char offset by
48, with counts at index >= 2 delta-encoded against ``counts[i-2]``.

The format is specified publicly (cocodataset.org and the pycocotools
docs); this is an independent implementation.

There is one encoder on the engine path: the batched sparse pair
:func:`indices_to_counts_batch` + :func:`counts_to_strings_batch`, which
the tile kernel runs over every annotation of a tile group at once. The
dense :func:`encode` (:func:`mask_to_counts` + :func:`counts_to_string`)
and :func:`decode` (:func:`string_to_counts`) are the per-mask
reference the property and known-answer tests check it against.
"""

from __future__ import annotations

import numpy as np


def mask_to_counts(mask: np.ndarray) -> np.ndarray:
    """Uncompressed RLE counts of a 2-D bool mask, column-major order."""
    flat = np.asfortranarray(mask).ravel(order="F").astype(np.uint8)
    if flat.size == 0:
        return np.zeros(0, dtype=np.int64)
    change = np.nonzero(np.diff(flat))[0] + 1
    run_starts = np.concatenate([[0], change, [flat.size]])
    counts = np.diff(run_starts).astype(np.int64)
    if flat[0] == 1:  # format mandates leading 0-run
        counts = np.concatenate([[0], counts])
    return counts


def counts_to_string(counts: np.ndarray) -> bytes:
    """Serialize counts to the compressed ASCII form."""
    out = bytearray()
    counts = np.asarray(counts, dtype=np.int64)
    for i in range(len(counts)):
        x = int(counts[i])
        if i > 2:
            x -= int(counts[i - 2])
        more = True
        while more:
            c = x & 0x1F
            x >>= 5
            more = (x != -1) if (c & 0x10) else (x != 0)
            if more:
                c |= 0x20
            out.append(c + 48)
    return bytes(out)


def string_to_counts(s: bytes) -> np.ndarray:
    """Inverse of :func:`counts_to_string`."""
    counts: list[int] = []
    i = 0
    n = len(s)
    while i < n:
        x = 0
        k = 0
        more = True
        while more:
            c = s[i] - 48
            x |= (c & 0x1F) << (5 * k)
            more = bool(c & 0x20)
            i += 1
            if not more and (c & 0x10):
                x |= -1 << (5 * (k + 1))  # sign-extend
            k += 1
        if len(counts) > 2:
            x += counts[-2]
        counts.append(x)
    return np.asarray(counts, dtype=np.int64)


def indices_to_counts_batch(
    idx: np.ndarray, ann_starts: np.ndarray, totals: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """RLE counts of MANY annotations at once, from their set pixels.

    ``idx`` concatenates each annotation's SORTED column-major set-pixel
    indices; ``ann_starts`` is the CSR boundary array (A+1); ``totals``
    each annotation's ``h*w``. Returns ``(counts, count_starts)`` — the
    concatenated int64 counts and their CSR boundaries. Each
    annotation's slice is what :func:`mask_to_counts` gives for its
    dense mask (property-pinned), computed in O(#set pixels) with zero
    per-annotation Python: the kernel never materializes a tile-sized
    mask, and a per-pair RLE loop was ~50% of kernel core-seconds.
    """
    idx = np.asarray(idx, dtype=np.int64)
    totals = np.asarray(totals, dtype=np.int64)
    n_ann = len(ann_starts) - 1
    npix = np.diff(ann_starts)
    n = idx.size
    if n == 0:
        counts = totals.copy()
        return counts, np.arange(n_ann + 1, dtype=np.int64)
    ann_of = np.repeat(np.arange(n_ann, dtype=np.int64), npix)
    # run starts: first pixel, any gap > 1, or an annotation boundary
    start_mask = np.ones(n, dtype=bool)
    start_mask[1:] = (np.diff(idx) != 1) | (ann_of[1:] != ann_of[:-1])
    rs_pos = np.nonzero(start_mask)[0]
    run_ann = ann_of[rs_pos]
    rstart = idx[rs_pos]
    re_pos = np.concatenate([rs_pos[1:], [n]]) - 1
    rlen = re_pos - rs_pos + 1  # contiguous run => position span == value span
    runs_per_ann = np.bincount(run_ann, minlength=n_ann)
    ann_run_start = np.zeros(n_ann + 1, dtype=np.int64)
    np.cumsum(runs_per_ann, out=ann_run_start[1:])
    has = runs_per_ann > 0
    trailing = np.zeros(n_ann, dtype=np.int64)
    last_run = ann_run_start[1:] - 1
    trailing[has] = totals[has] - (rstart[last_run[has]] + rlen[last_run[has]])
    # layout per annotation: [start0, len0, gap1, len1, ..., trailing?]
    clen = np.where(has, 2 * runs_per_ann + (trailing > 0), 1)
    cstarts = np.zeros(n_ann + 1, dtype=np.int64)
    np.cumsum(clen, out=cstarts[1:])
    counts = np.zeros(int(cstarts[-1]), dtype=np.int64)
    counts[cstarts[:-1][~has]] = totals[~has]  # pixel-less annotation: [total]
    k = np.arange(len(rstart), dtype=np.int64) - ann_run_start[run_ann]
    base = cstarts[:-1][run_ann]
    prev_end = np.empty_like(rstart)
    if len(rstart) > 1:
        prev_end[1:] = rstart[:-1] + rlen[:-1]
    prev_end[0] = 0
    counts[base + 2 * k] = np.where(k == 0, rstart, rstart - prev_end)
    counts[base + 2 * k + 1] = rlen
    tmask = has & (trailing > 0)
    counts[cstarts[1:][tmask] - 1] = trailing[tmask]
    return counts, cstarts


def counts_to_strings_batch(counts: np.ndarray, cstarts: np.ndarray) -> list[bytes]:
    """Batched :func:`counts_to_string` over CSR-concatenated counts.

    Byte-identical per annotation (property-pinned, incl. negative
    deltas): the i>2 delta uses the ORIGINAL counts two slots back
    within the same annotation, and the 6-bit signed varint loop runs
    vectorized over every still-active value per character position.
    """
    counts = np.asarray(counts, dtype=np.int64)
    n_ann = len(cstarts) - 1
    total = counts.size
    if total == 0:
        return [b""] * n_ann
    seg = np.diff(cstarts)
    pos_in = np.arange(total, dtype=np.int64) - np.repeat(cstarts[:-1], seg)
    x = counts.copy()
    m = np.nonzero(pos_in > 2)[0]
    x[m] -= counts[m - 2]
    # pass 1: chars per value
    nch = np.zeros(total, dtype=np.int64)
    vals = x.copy()
    active = np.arange(total)
    while active.size:
        v = vals[active]
        c = v & 0x1F
        v >>= 5
        more = np.where((c & 0x10) != 0, v != -1, v != 0)
        nch[active] += 1
        vals[active] = v
        active = active[more]
    char_start = np.zeros(total + 1, dtype=np.int64)
    np.cumsum(nch, out=char_start[1:])
    chars = np.empty(int(char_start[-1]), dtype=np.uint8)
    # pass 2: emit character j of every active value at once
    vals = x.copy()
    active = np.arange(total)
    j = 0
    while active.size:
        v = vals[active]
        c = v & 0x1F
        v2 = v >> 5
        more = np.where((c & 0x10) != 0, v2 != -1, v2 != 0)
        chars[char_start[active] + j] = (np.where(more, c | 0x20, c) + 48).astype(np.uint8)
        vals[active] = v2
        active = active[more]
        j += 1
    buf = chars.tobytes()
    ann_char = char_start[cstarts]
    return [buf[ann_char[a] : ann_char[a + 1]] for a in range(n_ann)]


def encode(mask: np.ndarray) -> dict:
    """2-D bool mask -> {"size": [h, w], "counts": bytes}.

    Same contract as ``pycocotools.mask.encode(np.asfortranarray(m))``.
    """
    h, w = mask.shape
    return {"size": [int(h), int(w)], "counts": counts_to_string(mask_to_counts(mask))}


def decode(rle: dict) -> np.ndarray:
    """{"size": [h, w], "counts": bytes} -> 2-D bool mask."""
    h, w = rle["size"]
    counts = string_to_counts(rle["counts"])
    total = int(counts.sum())
    if total != h * w:
        raise ValueError(f"RLE counts sum {total} != h*w {h * w}")
    flat = np.zeros(h * w, dtype=bool)
    pos = 0
    val = False
    for c in counts:
        if val:
            flat[pos : pos + c] = True
        pos += int(c)
        val = not val
    return flat.reshape((h, w), order="F")


def area(rle: dict) -> int:
    counts = string_to_counts(rle["counts"])
    return int(counts[1::2].sum())
