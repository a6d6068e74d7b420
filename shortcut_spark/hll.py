"""Driver-side HLL sketch images of string keys, in the DataSketches
format that Spark's ``hll_sketch_agg`` / ``hll_union`` read and write.

A key is sketched as DataSketches ``HllSketch.update(byte[])`` does: its
bytes hashed with MurmurHash3_x64_128 (seed 9001), the two 64-bit halves
``(h0, h1)`` folded into a coupon
``((min(nlz(h1), 62) + 1) << 26) | (h0 & (2**26 - 1))``; NULL and empty
keys are skipped. The hash runs over the arrow offsets and data buffers
in numpy ``uint64`` arithmetic, one pass per 16-byte block position.

:func:`image` writes the coupons of one batch as the lgK-12 sketch that
a one-task ``hll_sketch_agg`` of its keys serializes, so that
``hll_union`` merges it into a stored sketch as it merged the
aggregate's: the same bytes for fewer than 8 coupons (LIST mode, in
arrival order) and up to ``SET_MAX`` (SET mode, the hash set laid out by
the same insertions). Above that the aggregate is an HLL_8 array, which
``hll_union`` merges into an HLL-mode stored sketch register by register;
the image holds the same registers, flagged out of order, so that with
no HLL-mode stored sketch its estimate is the union estimator's rather
than the in-order (HIP) one."""

from __future__ import annotations

import numpy as np

_C1 = np.uint64(0x87C37B91114253D5)
_C2 = np.uint64(0x4CF5AD432745937F)
_SEED = 9001

LG_K = 12
_LIST_LG = 3  # a LIST holds up to 2**3 - 1 coupons
_SET_LG = 5  # a SET starts at 2**5 slots and grows past 3/4 full
# ... until 2**(LG_K - 3) slots: one more coupon promotes it to HLL mode
SET_MAX = 3 * (1 << (LG_K - 3)) // 4
_KEY_MASK_26 = (1 << 26) - 1
# header bytes: preInts, serVer, family (HLL), lgK, lgArr, flags
# (4 = empty, 8 = compact, 16 = out of order), LIST count or HLL curMin,
# mode (LIST 0 / SET 1 / HLL 2, | HLL_8 << 2)
EMPTY = bytes([2, 1, 7, LG_K, _LIST_LG, 12, 0, 8])


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(k: np.ndarray) -> np.ndarray:
    k = k ^ (k >> np.uint64(33))
    k = k * np.uint64(0xFF51AFD7ED558CCD)
    k = k ^ (k >> np.uint64(33))
    k = k * np.uint64(0xC4CEB9FE1A85EC53)
    return k ^ (k >> np.uint64(33))


def _nlz(x: np.ndarray) -> np.ndarray:
    """Leading zero bits of each uint64 (64 for 0): ``frexp`` of each
    32-bit half, exact in float64, gives its bit length."""
    hi = np.frexp((x >> np.uint64(32)).astype(np.float64))[1]
    lo = np.frexp((x & np.uint64(0xFFFFFFFF)).astype(np.float64))[1]
    return np.where(hi > 0, 32 - hi, 64 - lo)


def _words(buf: np.ndarray, start: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The two little-endian uint64 words at byte offsets ``start``."""
    block = np.ascontiguousarray(buf[start[:, None] + np.arange(16)]).view("<u8")
    return block[:, 0], block[:, 1]


def murmur3_x64_128(starts: np.ndarray, lengths: np.ndarray, data: np.ndarray):
    """MurmurHash3_x64_128 (seed 9001) of the byte strings
    ``data[starts[i] : starts[i] + lengths[i]]``; returns ``(h0, h1)``."""
    n = len(starts)
    buf = np.concatenate([data, np.zeros(16, np.uint8)])
    h1 = np.full(n, _SEED, np.uint64)
    h2 = np.full(n, _SEED, np.uint64)
    blocks = lengths // 16
    for b in range(int(blocks.max(initial=0))):
        at = np.flatnonzero(blocks > b)
        k1, k2 = _words(buf, starts[at] + 16 * b)
        x1, x2 = h1[at], h2[at]
        x1 ^= _rotl(k1 * _C1, 31) * _C2
        x1 = (_rotl(x1, 27) + x2) * np.uint64(5) + np.uint64(0x52DCE729)
        x2 ^= _rotl(k2 * _C2, 33) * _C1
        x2 = (_rotl(x2, 31) + x1) * np.uint64(5) + np.uint64(0x38495AB5)
        h1[at], h2[at] = x1, x2
    # the tail: the 0-15 bytes after the last block, zero-padded
    rem = lengths - 16 * blocks
    block = np.ascontiguousarray(buf[(starts + 16 * blocks)[:, None] + np.arange(16)])
    block[np.arange(16) >= rem[:, None]] = 0
    block = block.view("<u8")
    h1 ^= _rotl(block[:, 0] * _C1, 31) * _C2
    h2 ^= _rotl(block[:, 1] * _C2, 33) * _C1
    h1 ^= lengths.astype(np.uint64)
    h2 ^= lengths.astype(np.uint64)
    h1 += h2
    h2 += h1
    h1, h2 = _fmix(h1), _fmix(h2)
    h1 += h2
    h2 += h1
    return h1, h2


def coupons(keys) -> np.ndarray:
    """The distinct HLL coupons (uint32) of the arrow string or binary
    array ``keys``, hashed as their bytes, in order of first arrival;
    NULL and empty keys are skipped."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(keys, pa.ChunkedArray):
        keys = keys.combine_chunks()
    keys = keys.cast(pa.large_binary())
    keys = keys.filter(pc.fill_null(pc.greater(pc.binary_length(keys), 0), False))
    if not len(keys):
        return np.zeros(0, np.uint32)
    offsets = np.frombuffer(keys.buffers()[1], np.int64)[keys.offset : keys.offset + len(keys) + 1]
    data = np.frombuffer(keys.buffers()[2], np.uint8)
    h0, h1 = murmur3_x64_128(offsets[:-1], np.diff(offsets), data)
    value = np.minimum(_nlz(h1), 62).astype(np.uint64) + np.uint64(1)
    out = ((value << np.uint64(26)) | (h0 & np.uint64(_KEY_MASK_26))).astype(np.uint32)
    _, first = np.unique(out, return_index=True)
    return out[np.sort(first)]


def _hash_set(cps: np.ndarray) -> tuple[int, list[int]]:
    """(lgArr, slots) of a DataSketches coupon hash set after inserting
    ``cps`` in order: open addressing from slot ``c & mask`` with stride
    ``((c & KEY_MASK_26) >> lgArr) | 1``, doubled (re-inserting in slot
    order) when more than 3/4 full."""

    def put(arr, lg, c):
        mask = (1 << lg) - 1
        probe = c & mask
        while arr[probe]:
            probe = (probe + (((c & _KEY_MASK_26) >> lg) | 1)) & mask
        arr[probe] = c

    lg, arr = _SET_LG, [0] * (1 << _SET_LG)
    for n, c in enumerate(map(int, cps), 1):
        put(arr, lg, c)
        if 4 * n > 3 * (1 << lg):
            old, lg = arr, lg + 1
            arr = [0] * (1 << lg)
            for x in old:
                if x:
                    put(arr, lg, x)
    return lg, arr


def image(cps: np.ndarray) -> bytes:
    """The lgK-12 sketch image holding the distinct coupons ``cps`` (in
    arrival order; see the module docstring)."""
    n = len(cps)
    if n == 0:
        return EMPTY
    if n < 1 << _LIST_LG:
        slots = np.zeros(1 << _LIST_LG, "<u4")
        slots[:n] = cps
        return bytes([2, 1, 7, LG_K, _LIST_LG, 0, n, 8]) + slots.tobytes()
    if n <= SET_MAX:
        lg, slots = _hash_set(cps)
        head = bytes([3, 1, 7, LG_K, lg, 0, 0, 9]) + np.array([n], "<i4").tobytes()
        return head + np.array(slots, "<u4").tobytes()
    regs = np.zeros(1 << LG_K, np.uint8)
    cps = cps.astype(np.uint32)
    np.maximum.at(regs, cps & ((1 << LG_K) - 1), (cps >> 26).astype(np.uint8))
    inv = np.ldexp(1.0, -regs.astype(np.int64))
    head = bytes([10, 1, 7, LG_K, 0, 16, 0, 10]) + np.array(
        [0.0, inv[regs < 32].sum(), inv[regs >= 32].sum()], "<f8"
    ).tobytes()
    return head + np.array([int((regs == 0).sum()), 0], "<i4").tobytes() + regs.tobytes()
