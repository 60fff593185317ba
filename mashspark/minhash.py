"""Bottom-k distinct MinHash sketching — the numpy core (no Spark).

Semantics match the reference heap (marbl/Mash
``src/mash/MinHashHeap.cpp:68-146``): keep the ``s`` SMALLEST DISTINCT
64-bit hashes seen; with ``min_cov > 1`` a hash only enters once observed
``min_cov`` times (``MinHashHeap.cpp:96-118``); multiplicities of surviving
hashes are tracked (``HashSet.cpp:48-76``). The streaming heap is replaced
by batch ``np.unique`` + slice — identical result, since bottom-k of a
multiset does not depend on arrival order, and a document's shingles never
leave one Arrow batch (no shuffle).

Also the KMV cardinality estimator ``2**64 * size / max_hash``
(``MinHashHeap.h:45`` ``estimateSetSize``), which the reference uses both
for reads-mode sketch "length" (``Sketch.cpp:1272-1282``) and screen's
mixture set size (``CommandScreen.cpp:322``).
"""

from __future__ import annotations

import numpy as np

from .hashing import hash_shingles_concat


def bottom_k(hashes: np.ndarray, s: int, min_cov: int = 1,
             with_counts: bool = False):
    """Bottom-k distinct of a uint64 hash multiset.

    Returns sorted-ascending uint64 array of <= s distinct hashes
    (MinHashHeap::tryInsert + HashSet::toHashList, sorted per
    ``HashList.cpp:59-69``). With ``with_counts`` also returns the
    multiplicity of each surviving hash (reference ``-M``, A2).
    """
    hashes = np.asarray(hashes, dtype=np.uint64)
    if with_counts or min_cov > 1:
        uniq, counts = np.unique(hashes, return_counts=True)
        if min_cov > 1:
            keep = counts >= min_cov
            uniq, counts = uniq[keep], counts[keep]
        uniq, counts = uniq[:s], counts[:s]
        return (uniq, counts.astype(np.int32)) if with_counts else uniq
    # common path (min_cov=1, no counts), inlined sort+dedupe: np.unique's
    # wrapper (flatten, kwargs dispatch, mask allocation) costs ~20 us/call
    # of pure python per document on top of the sort — half the measured
    # bottom_k budget at web-doc sizes (round-6 profile)
    n = len(hashes)
    if n == 0:
        return hashes.copy()
    h = np.sort(hashes)
    keep = np.empty(n, dtype=bool)
    keep[0] = True
    np.not_equal(h[1:], h[:-1], out=keep[1:])
    return h[keep][:s]


def kmv_set_size(sketch: np.ndarray) -> int:
    """KMV distinct-element estimate from a bottom-k sketch.

    ``pow(2, 64) * size / max`` truncated to integer exactly as the
    reference prints it (``MinHashHeap.h:45``, double math).
    """
    sketch = np.asarray(sketch, dtype=np.uint64)
    if len(sketch) == 0:
        return 0
    return int(2.0**64 * float(len(sketch)) / float(sketch[-1]))


def sketch_text_bytes(data: bytes, k: int, s: int, seed: int,
                      min_cov: int = 1, with_counts: bool = False):
    """Sketch a single byte string (text mode: no alphabet filter /
    canonicalization — those are DNA-only, see ``dna.py``)."""
    buf = np.frombuffer(data, dtype=np.uint8)
    h = hash_shingles_concat(buf, k, seed)
    return bottom_k(h, s, min_cov=min_cov, with_counts=with_counts)
