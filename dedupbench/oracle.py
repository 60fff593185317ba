"""Independent Mash-semantics oracle for checking the pipeline's outputs.

Nothing here imports the program's hashing, comparison or verify code:
the hash is a from-scratch MurmurHash3_x64_128 over an explicit window
matrix, the sketch is a plain bottom-s distinct selection, and the
comparison is a literal transcription of Mash's capped merge loop
(``compareSketches``, CommandDistance.cpp:336-385).

The program stores a sketch as sign-flipped little-endian int64 values
(``hash ^ 2**63``) so that signed order equals unsigned hash order;
``decode_blob`` undoes that.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np

_M64 = (1 << 64) - 1
_C1 = np.uint64(0x87C37B91114253D5)
_C2 = np.uint64(0x4CF5AD432745937F)
_SIGN = np.uint64(1 << 63)


def _rotl(x, r):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(x):
    x ^= x >> np.uint64(33)
    x *= np.uint64(0xFF51AFD7ED558CCD)
    x ^= x >> np.uint64(33)
    x *= np.uint64(0xC4CEB9FE1A85EC53)
    x ^= x >> np.uint64(33)
    return x


def murmur3_x64_128(keys: np.ndarray, seed) -> tuple[np.ndarray, np.ndarray]:
    """MurmurHash3_x64_128 of every row of an (n, L) uint8 matrix.

    ``seed`` is a scalar or an (n,) array. Returns the (h1, h2) lanes;
    Mash keeps h1 as the 64-bit k-mer hash."""
    keys = np.ascontiguousarray(keys, dtype=np.uint8)
    n, length = keys.shape
    with np.errstate(over="ignore"):
        h1 = np.zeros(n, dtype=np.uint64) + np.asarray(seed, dtype=np.uint64)
        h2 = h1.copy()
        nblocks = length // 16
        if nblocks:
            blocks = keys[:, : nblocks * 16].copy().view("<u8").reshape(n, nblocks, 2)
        for b in range(nblocks):
            k1 = blocks[:, b, 0].copy()
            k2 = blocks[:, b, 1].copy()
            k1 *= _C1
            k1 = _rotl(k1, 31)
            k1 *= _C2
            h1 ^= k1
            h1 = _rotl(h1, 27)
            h1 += h2
            h1 = h1 * np.uint64(5) + np.uint64(0x52DCE729)
            k2 *= _C2
            k2 = _rotl(k2, 33)
            k2 *= _C1
            h2 ^= k2
            h2 = _rotl(h2, 31)
            h2 += h1
            h2 = h2 * np.uint64(5) + np.uint64(0x38495AB5)
        tail = keys[:, nblocks * 16:]
        k1 = np.zeros(n, dtype=np.uint64)
        k2 = np.zeros(n, dtype=np.uint64)
        for i in range(tail.shape[1]):
            byte = tail[:, i].astype(np.uint64)
            if i < 8:
                k1 ^= byte << np.uint64(8 * i)
            else:
                k2 ^= byte << np.uint64(8 * (i - 8))
        if tail.shape[1] > 8:
            k2 *= _C2
            k2 = _rotl(k2, 33)
            k2 *= _C1
            h2 ^= k2
        if tail.shape[1] > 0:
            k1 *= _C1
            k1 = _rotl(k1, 31)
            k1 *= _C2
            h1 ^= k1
        h1 ^= np.uint64(length)
        h2 ^= np.uint64(length)
        h1 += h2
        h2 += h1
        h1 = _fmix(h1)
        h2 = _fmix(h2)
        h1 += h2
        h2 += h1
    return h1, h2


def smhasher_verification() -> int:
    """SMHasher's self-test value for MurmurHash3_x64_128 (0x6384BA69):
    hash keys [0], [0,1], ... of length 0..255 with seed 256-len, hash
    the concatenated 128-bit digests with seed 0, read 4 bytes LE."""
    digests = bytearray()
    for n in range(256):
        key = np.arange(n, dtype=np.uint8).reshape(1, n)
        h1, h2 = murmur3_x64_128(key, 256 - n)
        digests += int(h1[0]).to_bytes(8, "little") + int(h2[0]).to_bytes(8, "little")
    h1, _ = murmur3_x64_128(np.frombuffer(bytes(digests), dtype=np.uint8).reshape(1, -1), 0)
    return int(h1[0]) & 0xFFFFFFFF


def sketch_text(text: str, k: int, s: int, seed: int) -> np.ndarray:
    """Bottom-s distinct murmur3 h1 hashes of every k-byte window of the
    UTF-8 text, ascending (Mash text mode: no canonicalization). Texts
    shorter than k give an empty sketch."""
    buf = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    if len(buf) < k:
        return np.empty(0, dtype=np.uint64)
    windows = np.lib.stride_tricks.sliding_window_view(buf, k)
    h1, _ = murmur3_x64_128(windows, seed)
    return np.unique(h1)[:s]


def decode_blob(blob) -> np.ndarray:
    """The program's binary sketch column -> ascending uint64 hashes."""
    if blob is None or len(blob) == 0:
        return np.empty(0, dtype=np.uint64)
    return np.frombuffer(bytes(blob), dtype="<i8").view(np.uint64) ^ _SIGN


def mash_compare(ref, qry, sketch_size: int) -> tuple[int, int]:
    """(common, denom) by Mash's capped sorted merge, transcribed from
    CommandDistance.cpp:336-385: one step per distinct union element,
    stopping at ``denom == sketch_size``; an early-exhausted merge tops
    the denominator up with the leftovers, clamped to ``sketch_size``."""
    ref = [int(x) for x in ref]
    qry = [int(x) for x in qry]
    i = j = common = denom = 0
    while denom < sketch_size and i < len(ref) and j < len(qry):
        if ref[i] < qry[j]:
            i += 1
        elif ref[i] > qry[j]:
            j += 1
        else:
            i += 1
            j += 1
            common += 1
        denom += 1
    if denom < sketch_size:
        denom += (len(ref) - i) + (len(qry) - j)
        denom = min(denom, sketch_size)
    return common, denom


def jaccard(common: int, denom: int) -> float:
    return common / denom if denom > 0 else 0.0


def mash_distance(common: int, denom: int, k: int) -> float:
    """Mash distance with the retained-empty-sketch rule: no shared hash
    (including empty vs empty) is distance 1.0, identical sketches 0.0,
    otherwise -ln(2j/(1+j))/k clamped to 1 (CommandDistance.cpp:387-407)."""
    if common == 0:
        return 1.0
    if common == denom:
        return 0.0
    j = common / denom
    return min(1.0, -math.log(2.0 * j / (1.0 + j)) / k)


def true_pairs(sketches: dict, sketch_size: int, threshold: float) -> set:
    """Every pair (a, b), a < b, of ``sketches`` (doc_id -> uint64 array)
    whose capped-merge Jaccard is >= threshold. Exhaustive: a pair is
    skipped only when it provably cannot pass, i.e. when its shared-hash
    count is below ``threshold * min(sketch_size, max(|A|, |B|))``,
    which bounds common/denom from above."""
    ids = sorted(sketches)
    if not ids:
        return set()
    hashes = np.concatenate([sketches[d] for d in ids])
    owner = np.repeat(np.arange(len(ids)), [len(sketches[d]) for d in ids])
    order = np.argsort(hashes, kind="stable")
    hashes, owner = hashes[order], owner[order]
    starts = np.flatnonzero(np.r_[True, hashes[1:] != hashes[:-1]])
    ends = np.r_[starts[1:], len(hashes)]
    keys = []
    for lo, hi in zip(starts, ends):
        if hi - lo >= 2:
            members = owner[lo:hi]  # ascending: stable sort of ascending owners
            x, y = np.triu_indices(hi - lo, 1)
            keys.append(members[x] * len(ids) + members[y])
    if not keys:
        return set()
    pair_keys, n_shared = np.unique(np.concatenate(keys), return_counts=True)
    out = set()
    for key, shared in zip(pair_keys.tolist(), n_shared.tolist()):
        x, y = divmod(key, len(ids))
        a, b = sketches[ids[x]], sketches[ids[y]]
        if shared < threshold * min(sketch_size, max(len(a), len(b))):
            continue
        if jaccard(*mash_compare(a, b, sketch_size)) >= threshold:
            out.add((ids[x], ids[y]))
    # identical non-empty sketches share every hash; identical empty ones
    # share none and score 0, so they are correctly absent
    return out


def pair_recall(truth: set, labels: dict) -> float:
    """Share of truth pairs whose two docs received the same cluster."""
    if not truth:
        return 1.0
    hit = sum(1 for a, b in truth if labels[a] == labels[b])
    return hit / len(truth)


def digest(*arrays) -> str:
    """Order-independent digest of a relation given as equal-length
    int64 columns: rows are sorted before hashing, so any row order of
    the same multiset gives the same digest."""
    cols = [np.asarray(a, dtype=np.int64) for a in arrays]
    order = np.lexsort(cols[::-1])
    h = hashlib.sha256()
    for c in cols:
        h.update(np.ascontiguousarray(c[order]).tobytes())
    return h.hexdigest()[:32]
