"""Seeded expected-output oracles for contract queries whose math is not
SQL-expressible (murmur3 / MinHash / SimHash / SRP / BPE ...).

Independence model — the same one ``tests/oracle.py`` uses: these
reference implementations reuse ONLY mashspark's numpy kernels (each
golden-tested bit-exact against the reference implementation,
tests/test_hash_goldens.py) and recompose them SERIALLY in a single
process — brute-force pair enumeration, dict group-bys, explicit python
loops — never the distributed Spark plan under test.  What the driver's
hash-compare then verifies is exactly the part pytest can't see from
inside one process: that the LSH bucketing, shuffles, joins, caps and
Arrow batching of the distributed plan lose or invent nothing.

``EXPECTED[name](sf_dir)`` -> the pandas frame the Spark contract query
must reproduce (column names AND dtypes aligned with the Spark result).
``seed_expected(name, sf_dir)`` writes it to ``.expected/<name>.parquet``
(atomic rename), where the DuckDB oracle picks it up via read_parquet.
The contract query functions call ``seed_expected`` before returning
their Spark plan, so the file is always fresh for the sf_dir under test
by the time the oracle runs.
"""

from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

EXPECTED_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".expected")

# ---------------------------------------------------------------------------
# plumbing
# ---------------------------------------------------------------------------

_DOCS_CACHE: dict = {}
_PIPE_CACHE: dict = {}


def expected_path(name: str) -> str:
    return os.path.join(EXPECTED_DIR, f"{name}.parquet")


def seed_expected(name: str, sf_dir: str) -> str:
    """Compute EXPECTED[name] for sf_dir and write it where the DuckDB
    oracle reads it. Atomic replace so concurrent runs never see a torn
    file."""
    pdf = EXPECTED[name](sf_dir)
    os.makedirs(EXPECTED_DIR, exist_ok=True)
    path = expected_path(name)
    tmp = f"{path}.tmp.{os.getpid()}"
    pdf.to_parquet(tmp, index=False)
    os.replace(tmp, path)
    return path


def oracle_for(name: str) -> str:
    """The DuckDB oracle: read back the seeded expected frame."""
    return f"SELECT * FROM read_parquet('{expected_path(name)}')"


def java_round(x: float, digits: int) -> float:
    """Spark's F.round on doubles: BigDecimal.valueOf(x).setScale(digits,
    HALF_UP). repr() gives the same shortest round-trip decimal form."""
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def load_docs(sf_dir: str) -> pd.DataFrame:
    """documents table as pandas, sorted by doc_id (via pyarrow, no Spark)."""
    if sf_dir not in _DOCS_CACHE:
        import pyarrow.parquet as pq

        pdf = pq.read_table(f"{sf_dir}/documents.parquet").to_pandas()
        _DOCS_CACHE[sf_dir] = pdf.sort_values("doc_id").reset_index(drop=True)
    return _DOCS_CACHE[sf_dir]


def _texts(sf_dir: str) -> dict[int, str]:
    d = load_docs(sf_dir)
    return dict(zip(d["doc_id"].astype(int), d["text"].astype(str)))


# ---------------------------------------------------------------------------
# serial replica of the dedup pipeline (sketch -> exact collapse -> LSH ->
# two-tier verify -> connected components), mirroring pipeline.dedup_pipeline
# semantics with brute-force python composition
# ---------------------------------------------------------------------------


def _serial_pipeline(sf_dir: str, texts: dict[int, str] | None = None,
                     k: int = 21, s: int = 1000, seed: int = 42,
                     jt: float = 0.7, bands: int = 32, prefix: int = 128,
                     band_doc_cap: int = 64, hard_bucket_cap: int = 10_000_000):
    """-> dict(sketches, rep_pairs, clusters). Semantics mirror
    pipeline.dedup_pipeline (mashspark/pipeline.py) + lsh.candidate_pairs
    + verify.verify_pairs; composition is serial brute force."""
    import math

    from mashspark.compare import capped_merge
    from mashspark.minhash import sketch_text_bytes
    from mashspark.sketch import compute_band_keys

    key = (sf_dir, id(texts) if texts is not None else None,
           k, s, seed, jt, bands, prefix)
    if key in _PIPE_CACHE:
        return _PIPE_CACHE[key]
    if texts is None:
        texts = _texts(sf_dir)

    ids = sorted(texts)
    sketches = {
        i: sketch_text_bytes(texts[i].encode("utf-8"), k, s, seed) for i in ids
    }

    # exact collapse: identical non-empty sketches -> min-id rep
    # (pipeline.exact_collapse; fp128 grouping == content grouping here)
    by_content: dict[bytes, int] = {}
    rep_of: dict[int, int] = {}
    for i in ids:
        sk = sketches[i]
        if len(sk) == 0:
            rep_of[i] = i
            continue
        c = sk.tobytes()
        by_content.setdefault(c, i)
        rep_of[i] = by_content[c]
    reps = sorted({r for r in rep_of.values()})

    # LSH candidates over reps (lsh.candidate_pairs): band-key buckets,
    # all-pairs below band_doc_cap, star candidates (hub = min id) above
    buckets: dict[int, list[int]] = {}
    for r in reps:
        for bk in np.unique(compute_band_keys(sketches[r], bands, prefix)):
            buckets.setdefault(int(bk), []).append(r)
    cand: set[tuple[int, int]] = set()
    for members in buckets.values():
        members = sorted(set(members))
        n = len(members)
        if n < 2 or n > hard_bucket_cap:
            continue
        if n <= band_doc_cap:
            for x in range(n):
                for y in range(x + 1, n):
                    cand.add((members[x], members[y]))
        else:
            hub = members[0]
            for m in members[1:]:
                cand.add((hub, m))

    # two-tier verify (verify.verify_pairs): prefix pre-filter with the
    # >=6-sigma widened margin, then full-s exact capped merge
    sigma = math.sqrt(max(jt * (1.0 - jt), 0.05) / float(prefix))
    margin = max(0.15, 6.0 * sigma)
    pairs = []
    for a, b in sorted(cand):
        pa, pb = sketches[a][:prefix], sketches[b][:prefix]
        c1, d1 = capped_merge(pa, pb, prefix)
        if c1 / max(d1, 1) < jt - margin:
            continue
        c2, d2 = capped_merge(sketches[a], sketches[b], s)
        j = c2 / d2 if d2 > 0 else 0.0
        if j >= jt:
            pairs.append((a, b, int(c2), int(d2)))

    # clusters: verified rep edges + member->rep edges, min-id label
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(x, y):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)

    for a, b, _, _ in pairs:
        union(a, b)
    for i, r in rep_of.items():
        union(i, r)
    members_of: dict[int, list[int]] = {}
    for i in ids:
        members_of.setdefault(find(i), []).append(i)
    clusters = {}
    for ms in members_of.values():
        lbl = min(ms)
        for i in ms:
            clusters[i] = lbl

    out = {"sketches": sketches, "rep_pairs": pairs, "clusters": clusters,
           "rep_of": rep_of}
    _PIPE_CACHE[key] = out
    return out


# ---------------------------------------------------------------------------
# expected frames, one per converted contract query
# ---------------------------------------------------------------------------


def _exp_minhash_dup_pairs(sf_dir: str) -> pd.DataFrame:
    p = _serial_pipeline(sf_dir)["rep_pairs"]
    return pd.DataFrame(
        {"id_a": [a for a, *_ in p], "id_b": [b for _, b, *_ in p],
         "common": [c for *_, c, _ in p], "denom": [d for *_, d in p]},
    ).astype({"id_a": "int64", "id_b": "int64",
              "common": "int64", "denom": "int64"})


def _exp_minhash_cluster_sizes(sf_dir: str) -> pd.DataFrame:
    clusters = _serial_pipeline(sf_dir)["clusters"]
    sizes: dict[int, int] = {}
    for lbl in clusters.values():
        sizes[lbl] = sizes.get(lbl, 0) + 1
    hist: dict[int, int] = {}
    for n in sizes.values():
        hist[n] = hist.get(n, 0) + 1
    return pd.DataFrame(
        {"cluster_size": list(hist), "n_clusters": list(hist.values())}
    ).astype({"cluster_size": "int64", "n_clusters": "int64"})


def _exp_sketch_cardinalities(sf_dir: str) -> pd.DataFrame:
    """info.sketch_cardinalities over the pipeline's sketch table
    (kmv formula from MinHashHeap.h:45; n < s => exact n)."""
    sketches = _serial_pipeline(sf_dir)["sketches"]
    s = 1000
    rows = []
    for i in sorted(sketches):
        sk = sketches[i]
        n = len(sk)
        if n == 0:
            kmv = 0
        elif n < s:
            kmv = n
        else:
            mx = float(sk[-1])
            kmv = int(2.0**64 * n / mx) if mx else n
        rows.append((i, n, kmv))
    return pd.DataFrame(rows, columns=["doc_id", "sketch_n", "kmv_cardinality"]
                        ).astype("int64")


def _exp_simhash_dup_pairs(sf_dir: str) -> pd.DataFrame:
    """Brute-force all-pairs Hamming <= 3 over simhash_batch signatures
    (the Manku block join is exact by pigeonhole, so brute force IS the
    expected output)."""
    from mashspark.simhash import simhash_batch

    texts = _texts(sf_dir)
    ids = sorted(texts)
    sigs = simhash_batch([texts[i] for i in ids], k=8, seed=42).astype(np.uint64)
    rows = []
    for x in range(len(ids)):
        ham = _popcount64(sigs[x] ^ sigs[x + 1:])
        for off in np.flatnonzero(ham <= 3):
            rows.append((ids[x], ids[x + 1 + off], int(ham[off])))
    pdf = pd.DataFrame(rows, columns=["id_a", "id_b", "hamming"])
    return pdf.astype({"id_a": "int64", "id_b": "int64", "hamming": "int32"})


_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)


def _popcount64(v: np.ndarray) -> np.ndarray:
    v = np.atleast_1d(np.asarray(v, dtype=np.uint64))
    cnt = np.zeros(v.shape, dtype=np.int64)
    for shift in range(0, 64, 8):
        cnt += _POP8[((v >> np.uint64(shift)) & np.uint64(0xFF)).astype(np.int64)]
    return cnt


def _exp_srp_bucket_stats(sf_dir: str) -> pd.DataFrame:
    """SRP bucket-size histogram: same seeded planes as ann.make_srp_udf,
    same float32 matmul, serial histogram."""
    import pyarrow.parquet as pq

    emb = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    mat = np.stack([np.asarray(v, dtype=np.float32) for v in emb["embedding"]])
    dim = mat.shape[1]
    rng = np.random.default_rng(11)
    planes = rng.standard_normal((dim, 8)).astype(np.float32)
    weights = (np.uint64(1) << np.arange(8, dtype=np.uint64)).astype(np.uint64)
    signs = (mat @ planes) > 0
    bucket = (signs.astype(np.uint64) * weights[None, :]).sum(axis=1).astype(np.int64)
    _, counts = np.unique(bucket, return_counts=True)
    size, nb = np.unique(counts, return_counts=True)
    return pd.DataFrame({"bucket_size": size.astype("int64"),
                         "n_buckets": nb.astype("int64")})


def _exp_media_phash_dup_pairs(sf_dir: str) -> pd.DataFrame:
    """Replays the query's deterministic generator (BMP originals,
    brightness-shifted BMPs at +100, lossy baseline-JPEG re-encodes at
    +200), dHash per image (mashspark.phash kernel over the real BMP /
    JPEG decode), brute-force all-pairs Hamming <= 6."""
    from mashspark.codecs import encode_bmp
    from mashspark.jpeg import encode_jpeg
    from mashspark.multimodal import decode_media
    from mashspark.phash import dhash_from_plane

    d = load_docs(sf_dir)
    base_ids = [int(i) for i in d["doc_id"] if int(i) < 40]
    media_ids = base_ids + [i + 100 for i in base_ids] + [i + 200 for i in base_ids]
    sigs = {}
    for mid in media_ids:
        base_id = mid % 100
        rng = np.random.default_rng(10_000 + base_id)
        block = rng.integers(40, 200, size=(8, 8, 3), dtype=np.uint8)
        img = np.repeat(np.repeat(block, 4, axis=0), 4, axis=1)
        if 100 <= mid < 200:
            img = (img.astype(np.int32) + 15).clip(0, 255).astype(np.uint8)
        payload = (encode_jpeg(img, quality=85, subsample=True)
                   if mid >= 200 else encode_bmp(img))
        sigs[mid] = np.uint64(dhash_from_plane(decode_media(payload)))
    ids = sorted(sigs)
    rows = []
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            h = int(_popcount64(sigs[ids[x]] ^ sigs[ids[y]])[0])
            if h <= 6:
                rows.append((ids[x], ids[y], h))
    pdf = pd.DataFrame(rows, columns=["id_a", "id_b", "hamming"])
    return pdf.astype({"id_a": "int64", "id_b": "int64", "hamming": "int32"})


# --- BPE (serial reference trainer/encoder, mirrors tests/test_bpe.py) ----


def _ref_bpe_train(texts: list[str], n_merges: int,
                   min_frequency: int = 2) -> list[tuple[str, str]]:
    from collections import Counter

    wf = Counter(w for t in texts for w in t.split())
    vocab = {tuple(list(w) + ["</w>"]): c for w, c in wf.items()}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pc: Counter = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        pair, total = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if total < min_frequency:
            break
        a, b = pair
        merges.append(pair)
        nv: dict = {}
        for syms, c in vocab.items():
            s, res, i = list(syms), [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(s[i])
                    i += 1
            nv[tuple(res)] = nv.get(tuple(res), 0) + c
        vocab = nv
    return merges


def _ref_bpe_encode_len(text: str, merges: list[tuple[str, str]]) -> int:
    n = 0
    for w in text.split():
        syms = list(w) + ["</w>"]
        for a, b in merges:
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            syms = res
        n += len(syms)
    return n


def _bpe_expected_merges(sf_dir: str) -> list[tuple[str, str]]:
    texts = _texts(sf_dir)
    train = [texts[i] for i in sorted(texts) if i % 2 == 0]
    return _ref_bpe_train(train, n_merges=12)


def _exp_bpe_trained_merges(sf_dir: str) -> pd.DataFrame:
    merges = _bpe_expected_merges(sf_dir)
    return pd.DataFrame(
        {"rank": np.arange(len(merges), dtype="int64"),
         "left": [a for a, _ in merges], "right": [b for _, b in merges]})


def _exp_bpe_encoded_lengths(sf_dir: str) -> pd.DataFrame:
    merges = _bpe_expected_merges(sf_dir)
    texts = _texts(sf_dir)
    ids = sorted(texts)
    return pd.DataFrame(
        {"doc_id": np.asarray(ids, dtype="int64"),
         "n_bpe_tokens": np.asarray(
             [_ref_bpe_encode_len(texts[i], merges) for i in ids], dtype="int64")})


# --- containment / screen family ------------------------------------------


def _exp_containment_pairs(sf_dir: str) -> pd.DataFrame:
    """All pairs of the first 40 docs through contain_sketches (the
    golden-tested closed form of CommandContain.cpp:231-263); containment
    and error are the same integer divisions the JVM performs."""
    import math

    from mashspark.compare import contain_sketches
    from mashspark.minhash import sketch_text_bytes

    texts = _texts(sf_dir)
    ids = sorted(i for i in texts if i < 40)
    sk = {i: sketch_text_bytes(texts[i].encode("utf-8"), 21, 1000, 42)
          for i in ids}
    rows = []
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            c, u = contain_sketches(sk[a], sk[b])
            rows.append((a, b, c, u,
                         c / u if u > 0 else 0.0,
                         1.0 / math.sqrt(u) if u > 0 else 1.0))
    return pd.DataFrame(
        rows, columns=["id_a", "id_b", "common", "used", "containment",
                       "error"],
    ).astype({"id_a": "int64", "id_b": "int64", "common": "int64",
              "used": "int64", "containment": "float64", "error": "float64"})


def _screen_serial(sf_dir: str, n_refs: int, winner_take_all: bool,
                   with_pvalue: bool, k: int = 21, s: int = 1000,
                   seed: int = 42):
    """Serial replica of screen.screen over the contract fixture: refs =
    n_refs largest docs by (n_chars desc, doc_id asc), mixture = the rest.
    Returns rows (ref_id, shared, denom, median_multiplicity[, p_value])."""
    from mashspark.compare import binom_sf
    from mashspark.hashing import hash_shingles_concat
    from mashspark.minhash import kmv_set_size, sketch_text_bytes

    d = load_docs(sf_dir)
    order = d.sort_values(["n_chars", "doc_id"],
                          ascending=[False, True])["doc_id"].astype(int)
    ref_ids = list(order[:n_refs])
    rest_ids = sorted(set(d["doc_id"].astype(int)) - set(ref_ids))
    texts = _texts(sf_dir)

    refs = {}
    for r in ref_ids:
        sk = sketch_text_bytes(texts[r].encode("utf-8"), k, s, seed)
        card = kmv_set_size(sk) if len(sk) >= s else len(sk)
        refs[r] = (sk, len(sk), card)

    # mixture hash multiset (every window of every rest doc)
    mults: dict[int, int] = {}
    all_uniq = []
    for i in rest_ids:
        h = hash_shingles_concat(
            np.frombuffer(texts[i].encode("utf-8"), dtype=np.uint8), k, seed)
        vals, cnts = np.unique(h, return_counts=True)
        all_uniq.append(vals)
        for v, c in zip(vals.tolist(), cnts.tolist()):
            mults[v] = mults.get(v, 0) + int(c)

    set_size = None
    if with_pvalue:
        uniq = np.unique(np.concatenate(all_uniq)) if all_uniq else \
            np.empty(0, dtype=np.uint64)
        set_size = kmv_set_size(uniq[:s])

    # hits: (ref, hash) for sketch hashes present in the mixture
    hits: dict[int, list[int]] = {r: [] for r in ref_ids}
    for r, (sk, _, _) in refs.items():
        for h in sk.tolist():
            if h in mults:
                hits[r].append(h)

    if winner_take_all:
        prelim = {r: len(hits[r]) for r in ref_ids}
        score = {r: (prelim[r] / refs[r][1]) ** (1.0 / k)
                 if refs[r][1] else 0.0 for r in ref_ids}
        owners: dict[int, int] = {}
        for r in ref_ids:
            for h in hits[r]:
                best = owners.get(h)
                if best is None or (
                    (-score[r], -refs[r][2], r) < (-score[best], -refs[best][2], best)
                ):
                    owners[h] = r
        hits = {r: [h for h in hits[r] if owners[h] == r] for r in ref_ids}

    rows = []
    for r in ref_ids:
        won = hits[r]
        shared = len(won)
        if shared == 0:
            continue
        denom = refs[r][1]
        depths = sorted(mults[h] for h in won)
        med = depths[shared // 2]
        row = [r, shared, denom, med]
        if with_pvalue:
            kmer_space = 256.0 ** k
            rr = float(set_size) / kmer_space
            pv = float(binom_sf(np.array([shared - 1]), np.array([rr]),
                                np.array([denom]))[0])
            if shared == 0:
                pv = 1.0
            row.append(pv)
        rows.append(row)
    return rows


def _exp_screen_wta(sf_dir: str) -> pd.DataFrame:
    rows = _screen_serial(sf_dir, n_refs=10, winner_take_all=True,
                          with_pvalue=True)
    return pd.DataFrame(
        rows, columns=["ref_id", "shared", "denom", "median_multiplicity",
                       "p_value"],
    ).astype({"ref_id": "int64", "shared": "int64", "denom": "int32",
              "median_multiplicity": "int64", "p_value": "float64"})


def _exp_screen_boilerplate(sf_dir: str) -> pd.DataFrame:
    rows = _screen_serial(sf_dir, n_refs=5, winner_take_all=False,
                          with_pvalue=False)
    return pd.DataFrame(
        rows, columns=["ref_id", "shared", "denom", "median_multiplicity"],
    ).astype({"ref_id": "int64", "shared": "int64", "denom": "int32",
              "median_multiplicity": "int64"})


# --- exact-substring removal ------------------------------------------------


def _exp_substring_removal(sf_dir: str) -> pd.DataFrame:
    """Serial replica of substring.remove_shared_spans over docs < 200 at
    min_len=25, stride=1: anchor every window hash, drop over-cap buckets,
    pair on equal windows, merge diagonal runs (gap > 8*stride splits),
    cut every occurrence except the smallest-doc_id one, snap cuts to
    UTF-8 boundaries."""
    from mashspark.hashing import hash_shingles_concat

    min_len, stride, bucket_cap, seed = 25, 1, 200, 42
    texts = _texts(sf_dir)
    ids = sorted(i for i in texts if i < 200)
    bufs = {i: np.frombuffer(texts[i].encode("utf-8"), dtype=np.uint8)
            for i in ids}

    anchors: dict[int, list[tuple[int, int]]] = {}  # hash -> [(doc, pos)]
    for i in ids:
        b = bufs[i]
        if len(b) < min_len:
            continue
        h = hash_shingles_concat(b, min_len, seed)
        for pos, hv in enumerate(h.tolist()):
            anchors.setdefault(hv, []).append((i, pos))

    # candidate anchor matches per (id_a, id_b, diag); window-equality
    # verified (murmur-collision filter), over-cap buckets dropped
    diag_hits: dict[tuple[int, int, int], list[int]] = {}
    for occs in anchors.values():
        if len(occs) < 2 or len(occs) > bucket_cap:
            continue
        for x in range(len(occs)):
            for y in range(x + 1, len(occs)):
                (da, pa), (db, pb) = occs[x], occs[y]
                if da == db:
                    continue
                if da > db:
                    da, db, pa, pb = db, da, pb, pa
                if bufs[da][pa:pa + min_len].tobytes() != \
                        bufs[db][pb:pb + min_len].tobytes():
                    continue
                diag_hits.setdefault((da, db, pa - pb), []).append(pa)

    # diagonal runs -> cut intervals on the larger doc (id_b keeps losing)
    cuts: dict[int, list[tuple[int, int]]] = {}
    for (da, db, diag), pas in diag_hits.items():
        pas = sorted(set(pas))
        run_start = 0
        for idx in range(1, len(pas) + 1):
            if idx == len(pas) or pas[idx] - pas[idx - 1] > 8 * stride:
                a_start = pas[run_start]
                match_len = pas[idx - 1] - a_start + min_len
                b_start = a_start - diag
                cuts.setdefault(db, []).append((b_start, b_start + match_len))
                run_start = idx

    rows = []
    for i in ids:
        ivs = cuts.get(i)
        if not ivs:
            rows.append((i, 0, 0))
            continue
        buf = bufs[i]
        n = len(buf)
        merged: list[list[int]] = []
        for s0, e0 in sorted(ivs):
            s0, e0 = max(0, s0), min(n, e0)
            if merged and s0 <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e0)
            else:
                merged.append([s0, e0])
        is_boundary = (buf & 0xC0) != 0x80
        keep = np.ones(n, dtype=bool)
        for s0, e0 in merged:
            while s0 > 0 and not is_boundary[s0]:
                s0 -= 1
            while e0 < n and not is_boundary[e0]:
                e0 += 1
            keep[s0:e0] = False
        rows.append((i, len(merged), int(n - keep.sum())))
    return pd.DataFrame(
        rows, columns=["doc_id", "n_removed_spans", "n_removed_bytes"],
    ).astype("int64")


# --- streaming incremental dedup -------------------------------------------


def _exp_streaming_dedup_decisions(sf_dir: str) -> pd.DataFrame:
    """Serial replay of streaming.IncrementalDeduper over the contract's
    two micro-batches (docs 0-149, then 150-299): in-batch LSH candidates
    + batch-vs-history band matches, two-tier verify at j>=0.7, decision =
    min verified partner when it precedes the doc (-1 for novel docs,
    aligned with the query's coalesce)."""
    import math

    from mashspark.compare import capped_merge
    from mashspark.minhash import sketch_text_bytes
    from mashspark.sketch import compute_band_keys

    k, s, seed, jt, bands, prefix = 21, 1000, 42, 0.7, 32, 128
    band_doc_cap = 64
    texts = _texts(sf_dir)
    ids = sorted(i for i in texts if i < 300)
    sk = {i: sketch_text_bytes(texts[i].encode("utf-8"), k, s, seed)
          for i in ids}
    bk = {i: set(np.unique(compute_band_keys(sk[i], bands, prefix)).tolist())
          for i in ids}

    sigma = math.sqrt(max(jt * (1.0 - jt), 0.05) / float(prefix))
    margin = max(0.15, 6.0 * sigma)

    def verified(a: int, b: int) -> bool:
        pa, pb = sk[a][:prefix], sk[b][:prefix]
        c1, d1 = capped_merge(pa, pb, prefix)
        if c1 / max(d1, 1) < jt - margin:
            return False
        c2, d2 = capped_merge(sk[a], sk[b], s)
        return d2 > 0 and c2 / d2 >= jt

    decisions: dict[int, int] = {}
    history: list[int] = []
    for batch in ([i for i in ids if i < 150], [i for i in ids if i >= 150]):
        # in-batch LSH candidates (band buckets, star above band_doc_cap)
        buckets: dict[int, list[int]] = {}
        for i in batch:
            for key in bk[i]:
                buckets.setdefault(key, []).append(i)
        cand: set[tuple[int, int]] = set()
        for members in buckets.values():
            members = sorted(set(members))
            if len(members) < 2:
                continue
            if len(members) <= band_doc_cap:
                for x in range(len(members)):
                    for y in range(x + 1, len(members)):
                        cand.add((members[x], members[y]))
            else:
                hub = members[0]
                for m in members[1:]:
                    cand.add((hub, m))
        # batch-vs-history band matches
        for h in history:
            for i in batch:
                if bk[h] & bk[i]:
                    cand.add((min(h, i), max(h, i)))
        partners: dict[int, list[int]] = {}
        for a, b in cand:
            if verified(a, b):
                partners.setdefault(a, []).append(b)
                partners.setdefault(b, []).append(a)
        for i in batch:
            best = min(partners.get(i, [i]))
            decisions[i] = best if best < i else -1
        history.extend(batch)

    return pd.DataFrame(
        {"doc_id": ids, "dup_of": [decisions[i] for i in ids]},
    ).astype("int64")


# --- b-bit minwise -----------------------------------------------------------


def _exp_bbit_dup_pairs(sf_dir: str) -> pd.DataFrame:
    """All-pairs b-bit minwise (P=128, b=4) over docs < 200: per-perm min
    of fmix64(h ^ salt), match = equal low-b fields, collision-corrected
    estimator with the query's 0.35 cut (Spark-rounded to 6)."""
    from mashspark.bbit import _salts
    from mashspark.hashing import _fmix64, hash_shingles_concat

    n_perm, b, k, seed = 128, 4, 21, 42
    salts = _salts(n_perm, seed)
    texts = _texts(sf_dir)
    ids = sorted(i for i in texts if i < 200)
    fields = {}
    for i in ids:
        buf = np.frombuffer(texts[i].encode("utf-8"), dtype=np.uint8)
        h = hash_shingles_concat(buf, k, seed)
        if len(h) == 0:
            continue
        mins = _fmix64(h[:, None] ^ salts[None, :]).min(axis=0)
        fields[i] = mins & np.uint64((1 << b) - 1)
    c = 1.0 / (1 << b)
    rows = []
    sig_ids = [i for i in ids if i in fields]
    for x in range(len(sig_ids)):
        for y in range(x + 1, len(sig_ids)):
            a_id, b_id = sig_ids[x], sig_ids[y]
            m = int((fields[a_id] == fields[b_id]).sum())
            est = max((m / float(n_perm) - c) / (1.0 - c), 0.0)
            if java_round(est, 6) >= 0.35:
                rows.append((a_id, b_id, m))
    return pd.DataFrame(rows, columns=["id_a", "id_b", "n_matches"]
                        ).astype("int64")


# --- PQ / IVFPQ ANN ----------------------------------------------------------


def _load_emb(sf_dir: str) -> tuple[np.ndarray, np.ndarray]:
    import pyarrow.parquet as pq

    emb = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    emb = emb.sort_values("vec_id").reset_index(drop=True)
    ids = emb["vec_id"].to_numpy(dtype=np.int64)
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])
    return ids, mat


def _norm_rows(mat: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(mat, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return mat / n


def _pq_train_serial(mat: np.ndarray, m: int, k: int, n_iters: int) -> np.ndarray:
    """Serial pq.pq_train: deterministic init (k smallest ids' subvectors
    — mat is id-sorted), Lloyd with empty cells keeping their centroid."""
    dim = mat.shape[1]
    dsub = dim // m
    books = np.stack([mat[:k, j * dsub:(j + 1) * dsub].copy()
                      for j in range(m)])
    for _ in range(n_iters):
        for j in range(m):
            sub = mat[:, j * dsub:(j + 1) * dsub]
            d = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(k):
                sel = assign == c
                if sel.any():
                    books[j, c] = sub[sel].sum(axis=0) / sel.sum()
    return books


def _pq_encode_serial(mat: np.ndarray, books: np.ndarray) -> np.ndarray:
    m, _, dsub = books.shape
    codes = np.empty((len(mat), m), dtype=np.int64)
    for j in range(m):
        sub = mat[:, j * dsub:(j + 1) * dsub]
        codes[:, j] = ((sub[:, None, :] - books[j][None, :, :]) ** 2
                       ).sum(axis=2).argmin(axis=1)
    return codes


def _adc_topk(qid: int, q: np.ndarray, cand_ids: np.ndarray,
              cand_codes: np.ndarray, books: np.ndarray,
              top_k: int, base: np.ndarray | None = None) -> list[tuple]:
    m, _, dsub = books.shape
    r = q if base is None else q - base
    lut = np.stack([
        ((r[j * dsub:(j + 1) * dsub][None, :] - books[j]) ** 2).sum(axis=1)
        for j in range(m)
    ])
    d = lut[np.arange(m)[None, :], cand_codes].sum(axis=1)
    order = np.lexsort((cand_ids, d))
    out = []
    for idx in order:
        if cand_ids[idx] == qid:
            continue
        out.append((qid, int(cand_ids[idx]), len(out) + 1))
        if len(out) == top_k:
            break
    return out


def _exp_pq_knn(sf_dir: str) -> pd.DataFrame:
    """Serial flat-PQ ADC search (m=4, k=8, fixed deterministic-init
    codebooks, queries = vec_id < 20, top-5, self excluded, ties to the
    smaller id)."""
    ids, mat = _load_emb(sf_dir)
    books = _pq_train_serial(mat, m=4, k=8, n_iters=0)
    codes = _pq_encode_serial(mat, books)
    rows = []
    for qi in np.flatnonzero(ids < 20):
        rows.extend(_adc_topk(int(ids[qi]), mat[qi], ids, codes, books, 5))
    return pd.DataFrame(rows, columns=["query_id", "neighbor_id", "rank"]
                        ).astype({"query_id": "int64", "neighbor_id": "int64",
                                  "rank": "int32"})


def _exp_ivfpq_knn(sf_dir: str) -> pd.DataFrame:
    """Serial IVFPQ (8 lists, fixed coarse quantizer + fixed residual
    codebooks — deterministic init, 0 iters — nprobe=3, top-5):
    per-(query, list) residual LUT ADC."""
    ids, mat = _load_emb(sf_dir)
    n_lists, nprobe, top_k = 8, 3, 5
    cent = mat[:n_lists].copy()
    cn = _norm_rows(cent)
    assign = (_norm_rows(mat) @ cn.T).argmax(axis=1)
    resid = mat - cent[assign]
    books = _pq_train_serial(resid, m=4, k=8, n_iters=0)
    codes = _pq_encode_serial(resid, books)
    rows = []
    for qi in np.flatnonzero(ids < 20):
        q = mat[qi]
        sims = (_norm_rows(q[None, :]) @ cn.T)[0]
        probes = np.argsort(-sims, kind="stable")[:nprobe]
        cand = []
        for lid in probes:
            sel = assign == lid
            m_, _, dsub = books.shape
            r = q - cent[lid]
            lut = np.stack([
                ((r[j * dsub:(j + 1) * dsub][None, :] - books[j]) ** 2
                 ).sum(axis=1) for j in range(m_)
            ])
            d = lut[np.arange(m_)[None, :], codes[sel]].sum(axis=1)
            cand.extend(zip(d.tolist(), ids[sel].tolist()))
        cand = [(d, n) for d, n in cand if n != int(ids[qi])]
        cand.sort()
        rows.extend((int(ids[qi]), n, r + 1)
                    for r, (_, n) in enumerate(cand[:top_k]))
    return pd.DataFrame(rows, columns=["query_id", "neighbor_id", "rank"]
                        ).astype({"query_id": "int64", "neighbor_id": "int64",
                                  "rank": "int32"})


# --- compression signal ------------------------------------------------------


def _exp_compression_stats(sf_dir: str) -> pd.DataFrame:
    """Serial zlib(level 6) sizes per doc — zlib is bit-deterministic,
    so this checks the Arrow batching/encoding plumbing around it."""
    import zlib

    texts = _texts(sf_dir)
    rows = []
    for i in sorted(texts):
        b = texts[i].encode("utf-8")
        rows.append((i, len(b), len(zlib.compress(b, 6))))
    return pd.DataFrame(rows, columns=["doc_id", "n_bytes", "n_compressed"]
                        ).astype("int64")


# --- cross-corpus dedup ------------------------------------------------------


def _exp_cross_dedup_decisions(sf_dir: str) -> pd.DataFrame:
    """Serial replica of pipeline.dedup_against (odd ids vs the even-id
    reference corpus): cross band join, two-tier verify at j >= 0.7,
    best ref = (max jaccard, min ref id); novel docs emit dup_of = -1."""
    import math

    from mashspark.compare import capped_merge
    from mashspark.minhash import sketch_text_bytes
    from mashspark.sketch import compute_band_keys

    k, s, seed, jt, bands, prefix = 21, 1000, 42, 0.7, 32, 128
    texts = _texts(sf_dir)
    new_ids = sorted(i for i in texts if i % 2 == 1)
    ref_ids = sorted(i for i in texts if i % 2 == 0)
    sk = {i: sketch_text_bytes(texts[i].encode("utf-8"), k, s, seed)
          for i in texts}
    bk = {i: set(np.unique(compute_band_keys(sk[i], bands, prefix)).tolist())
          for i in texts}
    ref_by_band: dict[int, list[int]] = {}
    for r in ref_ids:
        for key in bk[r]:
            ref_by_band.setdefault(key, []).append(r)

    sigma = math.sqrt(max(jt * (1.0 - jt), 0.05) / float(prefix))
    margin = max(0.15, 6.0 * sigma)

    rows = []
    for n in new_ids:
        cands = sorted({r for key in bk[n] for r in ref_by_band.get(key, [])})
        best = None  # (jaccard, -ref_id)
        for r in cands:
            c1, d1 = capped_merge(sk[n][:prefix], sk[r][:prefix], prefix)
            if c1 / max(d1, 1) < jt - margin:
                continue
            c2, d2 = capped_merge(sk[n], sk[r], s)
            j = c2 / d2 if d2 > 0 else 0.0
            if j >= jt and (best is None or (j, -r) > best):
                best = (j, -r)
        rows.append((n, best is not None, -best[1] if best else -1))
    return pd.DataFrame(rows, columns=["doc_id", "is_dup", "dup_of"]
                        ).astype({"doc_id": "int64", "is_dup": "bool",
                                  "dup_of": "int64"})


# --- text -> hashing-TF -> SRP semantic dedup bridge -------------------------


def _mm3_x86_32_spark(data: bytes, seed: int = 42) -> int:
    """Murmur3_x86_32 exactly as Spark ML's HashingTF buckets string
    terms (public Spark source: mllib HashingTF.murmur3Hash -> Murmur3_
    x86_32.hashUnsafeBytes2 over the UTF-8 bytes, seed 42): 4-byte
    little-endian blocks through mixK1/mixH1, the STANDARD murmur tail
    (remaining bytes XOR-assembled into one k1, mixed, XORed into h1
    without the h1 rotation), int32 wraparound throughout."""
    c1, c2, mask = 0xCC9E2D51, 0x1B873593, 0xFFFFFFFF

    def mix_k1(k1: int) -> int:
        k1 = (k1 * c1) & mask
        k1 = ((k1 << 15) | (k1 >> 17)) & mask
        return (k1 * c2) & mask

    def mix_h1(h1: int, k1: int) -> int:
        h1 ^= k1
        h1 = ((h1 << 13) | (h1 >> 19)) & mask
        return (h1 * 5 + 0xE6546B64) & mask

    h1 = seed & mask
    n = len(data)
    aligned = n - n % 4
    for i in range(0, aligned, 4):
        h1 = mix_h1(h1, mix_k1(int.from_bytes(data[i:i + 4], "little")))
    k1 = 0
    for shift, i in enumerate(range(aligned, n)):
        k1 ^= data[i] << (shift * 8)
    if n % 4:
        h1 ^= mix_k1(k1)
    h1 ^= n
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & mask
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & mask
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _hashing_tf_f32(text: str, dim: int) -> np.ndarray:
    """textstats.hashing_tf_vectors for one doc: Java-\\s tokenization of
    the lowercased text, Spark-murmur3 bucket per term (nonNegativeMod),
    L2 normalization with the JVM's sequential fold, float32 cast."""
    import re

    arr = np.zeros(dim, dtype=np.float64)
    toks = [t for t in re.split("[ \t\n\x0b\f\r]+",
                                text.lower().strip(" \t\n\x0b\f\r")) if t]
    for t in toks:
        arr[_mm3_x86_32_spark(t.encode("utf-8")) % dim] += 1.0
    norm = float(np.sqrt(np.cumsum(arr * arr)[-1])) if dim else 0.0
    if norm <= 0.0:
        norm = 1.0
    return (arr / norm).astype(np.float32)


def _exp_text_vector_dup_groups(sf_dir: str) -> pd.DataFrame:
    """Serial replica of the text -> hashing-TF -> SRP-bucketed semantic
    dedup chain (semantic_dedup at min_cos=0.9, n_bits=6, n_tables=8):
    candidate pairs from shared OR-construction buckets, cosine verify
    with the JVM's sequential folds, min-id connected components."""
    texts = _texts(sf_dir)
    ids = sorted(texts)
    dim, n_bits, n_tables, seed, min_cos = 256, 6, 8, 11, 0.9
    mat32 = np.stack([_hashing_tf_f32(texts[i], dim) for i in ids])

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_bits * n_tables)).astype(np.float32)
    weights = (np.uint64(1) << np.arange(n_bits, dtype=np.uint64))
    tags = np.arange(n_tables, dtype=np.uint64) << np.uint64(n_bits + 1)
    signs = (mat32 @ planes) > 0
    signs = signs.reshape(len(ids), n_tables, n_bits)
    buckets = ((signs.astype(np.uint64) * weights[None, None, :]).sum(axis=2)
               | tags[None, :]).astype(np.int64)

    by_bucket: dict[int, list[int]] = {}
    for xi, row in enumerate(buckets):
        for bkt in set(row.tolist()):
            by_bucket.setdefault(bkt, []).append(xi)
    cand: set[tuple[int, int]] = set()
    for members in by_bucket.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                cand.add((members[x], members[y]))

    mat64 = mat32.astype(np.float64)
    sq = np.cumsum(mat64 * mat64, axis=1)[:, -1]  # JVM sequential fold
    norms = np.sqrt(sq)
    edges = []
    for xa, xb in cand:
        dot = float(np.cumsum(mat64[xa] * mat64[xb])[-1])
        cos = dot / max(norms[xa] * norms[xb], 1e-30)
        if cos >= min_cos:
            edges.append((ids[xa], ids[xb]))

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members_of: dict[int, list[int]] = {}
    for node in parent:
        members_of.setdefault(find(node), []).append(node)
    rows = []
    for ms in members_of.values():
        rep = min(ms)
        for i in sorted(ms):
            rows.append((i, rep, len(ms), i == rep))
    return pd.DataFrame(
        rows, columns=["vec_id", "rep_id", "cluster_size", "is_rep"],
    ).astype({"vec_id": "int64", "rep_id": "int64",
              "cluster_size": "int64", "is_rep": "bool"})


# --- tiered dedup report -----------------------------------------------------


def _exp_dedup_tier_counts(sf_dir: str) -> pd.DataFrame:
    """Serial replica of pipeline.dedup_tiers over the seeded corpus
    (fixture + byte-identical copies of the first 50 docs at +10M ids),
    sketch s=512: strictest-tier labels, grouped by (tier, is_rep)."""
    import re

    texts = dict(_texts(sf_dir))
    for i in sorted(texts):
        if i < 50:
            texts[i + 10_000_000] = texts[i]
    ids = sorted(texts)

    def multi_rep(groups: dict) -> dict[int, int]:
        out = {}
        for members in groups.values():
            if len(members) > 1:
                rep = min(members)
                for m in members:
                    out[m] = rep
        return out

    exact_groups: dict[str, list[int]] = {}
    for i in ids:
        exact_groups.setdefault(texts[i] or "", []).append(i)
    e_rep = multi_rep(exact_groups)

    canon_groups: dict[str, list[int]] = {}
    canon_self: list[int] = []
    for i in ids:
        t = re.sub("[^a-z0-9]+", " ", (texts[i] or "").lower())
        t = re.sub("[0-9]", "0", t).strip(" ")
        if t:
            canon_groups.setdefault(t, []).append(i)
        else:
            canon_self.append(i)
    c_rep = multi_rep(canon_groups)

    clusters = _serial_pipeline(sf_dir, texts=texts, s=512)["clusters"]
    near_groups: dict[int, list[int]] = {}
    for i, lbl in clusters.items():
        near_groups.setdefault(lbl, []).append(i)
    n_rep = multi_rep(near_groups)

    counts: dict[tuple[str, bool], int] = {}
    for i in ids:
        if i in e_rep:
            tier, rep = "exact", e_rep[i]
        elif i in c_rep:
            tier, rep = "canonical", c_rep[i]
        elif i in n_rep:
            tier, rep = "near", n_rep[i]
        else:
            tier, rep = "unique", i
        key = (tier, rep == i)
        counts[key] = counts.get(key, 0) + 1
    return pd.DataFrame(
        [(t, r, n) for (t, r), n in counts.items()],
        columns=["tier", "is_rep", "n_docs"],
    ).astype({"tier": "object", "is_rep": "bool", "n_docs": "int64"})


# --- unigram tokenizer -------------------------------------------------------


def _exp_unigram_encoded_lengths(sf_dir: str) -> pd.DataFrame:
    """Serial unigram-LM trainer (the tests/test_unigram.py reference
    algorithm: integer seed counts, fixed-point E-step, (count desc,
    piece asc) pruning) on docs < 60, Viterbi piece counts for docs
    < 120."""
    from collections import Counter

    from mashspark.unigram import (_MICRO, _normalize_logprobs,
                                   expected_counts_word, viterbi_segment)

    vocab_size, max_piece_len = 60, 4
    shrink_factor, em_rounds_per_prune = 0.75, 2
    texts = _texts(sf_dir)
    train_ids = sorted(i for i in texts if i < 60)
    enc_ids = sorted(i for i in texts if i < 120)

    wc = Counter(w for i in train_ids for w in texts[i].split())
    seed_size = 4 * vocab_size
    sub: Counter = Counter()
    for w, cnt in wc.items():
        for i in range(len(w)):
            for n in range(1, min(max_piece_len, len(w) - i) + 1):
                sub[w[i:i + n]] += cnt
    top = sorted(sub.items(), key=lambda pc: (-pc[1], pc[0]))[:seed_size]
    vocab = dict(top)
    for p, cnt in sub.items():
        if len(p) == 1:
            vocab.setdefault(p, cnt)
    micro = {p: cnt * _MICRO for p, cnt in vocab.items()}

    def e_step(logp):
        acc: dict[str, int] = {}
        for w, cnt in wc.items():
            for piece, v in expected_counts_word(w, logp, max_piece_len).items():
                acc[piece] = acc.get(piece, 0) + int(round(v * cnt * _MICRO))
        return acc

    while True:
        logp = _normalize_logprobs(micro)
        for _ in range(em_rounds_per_prune):
            new = e_step(logp)
            micro = {p: new.get(p, 0) for p in logp}
            logp = _normalize_logprobs(micro)
        n_chars = sum(1 for p in micro if len(p) == 1)
        if len(micro) <= max(vocab_size, n_chars):
            break
        keep_target = max(vocab_size, n_chars, int(len(micro) * shrink_factor))
        multi = sorted(((p, cnt) for p, cnt in micro.items() if len(p) > 1),
                       key=lambda pc: (-pc[1], pc[0]))
        kept = dict(multi[: keep_target - n_chars])
        micro = {p: cnt for p, cnt in micro.items()
                 if len(p) == 1 or p in kept}
    final = e_step(_normalize_logprobs(micro))
    micro = {p: final.get(p, 0) for p in micro}
    logp = _normalize_logprobs(micro)

    cache: dict[str, int] = {}
    rows = []
    for i in enc_ids:
        n = 0
        for w in texts[i].split():
            ln = cache.get(w)
            if ln is None:
                ln = len(viterbi_segment(w, logp, max_piece_len))
                cache[w] = ln
            n += ln
        rows.append((i, n))
    return pd.DataFrame(rows, columns=["doc_id", "n_pieces"]).astype("int64")


def _exp_dedup_recall_audit(sf_dir: str) -> pd.DataFrame:
    """Serial replay of audit.dedup_recall_audit at sample_mod=5 over the
    standard-config pipeline clusters: md5-uniform sample, brute-force
    full-s capped-merge ground truth, recovered = same serial-CC label."""
    import hashlib

    from mashspark.compare import capped_merge

    pipe = _serial_pipeline(sf_dir)
    sketches, clusters = pipe["sketches"], pipe["clusters"]

    def u(i: int) -> int:
        return int(hashlib.md5(f"audit:42:{i}".encode()).hexdigest()[:8], 16)

    sample = sorted(i for i in _texts(sf_dir) if u(i) % 5 == 0)
    s_full, jt = 1000, 0.7
    tp = rp = 0
    for x in range(len(sample)):
        for y in range(x + 1, len(sample)):
            a, b = sample[x], sample[y]
            c, d = capped_merge(sketches[a], sketches[b], s_full)
            j = c / d if d > 0 else 0.0
            if j >= jt:
                tp += 1
                if clusters[a] == clusters[b]:
                    rp += 1
    return pd.DataFrame({
        "n_sample": np.asarray([len(sample)], dtype=np.int64),
        "true_pairs": np.asarray([tp], dtype=np.int64),
        "recovered_pairs": np.asarray([rp], dtype=np.int64),
        "recall": np.asarray([rp / tp if tp else 1.0], dtype=np.float64),
    })


def _exp_stateful_band_dup_pairs(sf_dir: str) -> pd.DataFrame:
    """Serial replay of stateful.stateful_band_dedup over the query's
    two-batch split (doc_id < 300; batch 0 = id < 150 at 12:00, batch 1
    at 12:05): per-band capped registers as python dicts, arrivals in
    (batch, ts, doc_id) order, tier-1 capped-merge prefix verify — the
    same golden-tested kernels, composed serially."""
    from mashspark.compare import capped_merge
    from mashspark.minhash import sketch_text_bytes
    from mashspark.sketch import compute_band_keys

    K, S, SEED = 21, 256, 42
    BANDS, PREFIX, PL, CAP, THR = 32, 128, 128, 64, 0.7
    docs = load_docs(sf_dir)
    docs = docs[docs["doc_id"] < 300]
    order = docs.sort_values("doc_id")  # ts is (batch, doc_id)-ordered
    registers: dict[int, list] = {}
    out = {"doc_id": [], "matched_id": [], "band_key": [],
           "common": [], "denom": [], "est_jaccard": []}
    for _, row in order.iterrows():
        doc_id = int(row["doc_id"])
        sk = sketch_text_bytes(str(row["text"]).encode(), K, S, SEED)
        if len(sk) == 0:
            continue
        pref = sk[:PL]
        for bk in compute_band_keys(sk, BANDS, PREFIX):
            band = int(np.int64(np.uint64(bk)))
            reg = registers.setdefault(band, [])
            for hist_id, hist_pref in reg:
                common, denom = capped_merge(hist_pref, pref, PL)
                if denom > 0 and common >= THR * denom:
                    out["doc_id"].append(doc_id)
                    out["matched_id"].append(hist_id)
                    out["band_key"].append(band)
                    out["common"].append(common)
                    out["denom"].append(denom)
                    out["est_jaccard"].append(
                        float(np.float64(np.int32(common))
                              / np.float64(np.int32(denom))))
            if len(reg) < CAP:
                reg.append((doc_id, pref))
    return pd.DataFrame({
        "doc_id": np.asarray(out["doc_id"], dtype=np.int64),
        "matched_id": np.asarray(out["matched_id"], dtype=np.int64),
        "band_key": np.asarray(out["band_key"], dtype=np.int64),
        "common": np.asarray(out["common"], dtype=np.int32),
        "denom": np.asarray(out["denom"], dtype=np.int32),
        "est_jaccard": np.asarray(out["est_jaccard"], dtype=np.float64),
    })


EXPECTED = {
    "minhash_dup_pairs": _exp_minhash_dup_pairs,
    "stateful_band_dup_pairs": _exp_stateful_band_dup_pairs,
    "dedup_recall_audit": _exp_dedup_recall_audit,
    "minhash_cluster_sizes": _exp_minhash_cluster_sizes,
    "sketch_cardinalities": _exp_sketch_cardinalities,
    "simhash_dup_pairs": _exp_simhash_dup_pairs,
    "srp_bucket_stats": _exp_srp_bucket_stats,
    "media_phash_dup_pairs": _exp_media_phash_dup_pairs,
    "bpe_trained_merges": _exp_bpe_trained_merges,
    "bpe_encoded_lengths": _exp_bpe_encoded_lengths,
    "containment_pairs": _exp_containment_pairs,
    "screen_wta": _exp_screen_wta,
    "screen_boilerplate": _exp_screen_boilerplate,
    "substring_removal": _exp_substring_removal,
    "streaming_dedup_decisions": _exp_streaming_dedup_decisions,
    "bbit_dup_pairs": _exp_bbit_dup_pairs,
    "dedup_tier_counts": _exp_dedup_tier_counts,
    "unigram_encoded_lengths": _exp_unigram_encoded_lengths,
    "pq_knn": _exp_pq_knn,
    "ivfpq_knn": _exp_ivfpq_knn,
    "compression_stats": _exp_compression_stats,
    "cross_dedup_decisions": _exp_cross_dedup_decisions,
    "text_vector_dup_groups": _exp_text_vector_dup_groups,
}
