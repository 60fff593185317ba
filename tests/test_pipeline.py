"""End-to-end dedup pipeline vs the brute-force Mash-semantics oracle
(SURVEY.md §5 item 4): dup-pair recall >= 0.99 (gate; expected 1.0 at these
params), precision == 1.0 (verification is Mash-exact), and exact cluster
agreement with union-find over the oracle edges."""

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from mashspark.params import LSHParams, PipelineConfig, SketchParams
from mashspark.pipeline import dedup_pipeline
from mashspark.webtext import webtext_spark_df
from tests import oracle

N_BASE = 50
SEED = 42
THRESHOLD = 0.7
# smaller s than production default keeps the brute-force oracle fast while
# exercising identical code paths
PARAMS = SketchParams(k=21, s=256, seed=42)
LSH = LSHParams(bands=32, prefix=64, band_doc_cap=50)  # low cap exercises the salted hot path
CONFIG = PipelineConfig(sketch=PARAMS, lsh=LSH, jaccard_threshold=THRESHOLD)


@pytest.fixture(scope="module")
def webtext(spark):
    df = webtext_spark_df(spark, n_base=N_BASE, seed=SEED)
    pdf = df.select("doc_id", "text").toPandas().sort_values("doc_id")
    return df, pdf


@pytest.fixture(scope="module")
def truth(webtext):
    """Oracle results keyed by real doc_id (generator ids have gaps)."""
    _, pdf = webtext
    ids = pdf["doc_id"].tolist()
    sketches = oracle.sketch_all(pdf["text"].tolist(), PARAMS)
    pairs_pos = oracle.truth_pairs(sketches, PARAMS, THRESHOLD)
    clusters_pos = oracle.truth_clusters(len(pdf), pairs_pos)
    sk_by_id = dict(zip(ids, sketches))
    pairs = {(min(ids[a], ids[b]), max(ids[a], ids[b])) for a, b in pairs_pos}
    clusters = {ids[i]: ids[lab] for i, lab in clusters_pos.items()}
    return sk_by_id, pairs, clusters


@pytest.fixture(scope="module")
def result(spark, webtext):
    df, _ = webtext
    res = dedup_pipeline(df, CONFIG)
    pairs = {
        (r.id_a, r.id_b)
        for r in res.pairs.select("id_a", "id_b").collect()
    }
    exact = {r.doc_id: r.rep_id for r in res.exact_groups.collect()}
    clusters = {r.doc_id: r.cluster_id for r in res.clusters.collect()}
    return res, pairs, exact, clusters


def _expand_detected_pairs(rep_pairs, exact):
    """rep-level verified pairs + exact groups -> doc-level detected pairs."""
    import collections

    members = collections.defaultdict(list)
    for doc, rep in exact.items():
        members[rep].append(doc)
    out = set()
    for a, b in rep_pairs:
        for x in members[a]:
            for y in members[b]:
                out.add((min(x, y), max(x, y)))
    for rep, ms in members.items():
        for x, y in itertools.combinations(sorted(ms), 2):
            out.add((x, y))
    return out


def test_sketches_match_oracle(result, truth, webtext):
    """Spark UDF sketches == numpy oracle sketches, bit for bit."""
    from mashspark.hashing import decode_sketch_bytes

    res, _, _, _ = result
    oracle_sk, _, _ = truth
    got = {
        r.doc_id: decode_sketch_bytes(r.sketch)
        for r in res.sketches.select("doc_id", "sketch").collect()
    }
    assert set(got) == set(oracle_sk)
    for did, osk in oracle_sk.items():
        assert np.array_equal(got[did], osk), f"doc {did}"


def test_dup_pair_recall_and_precision(result, truth):
    _, rep_pairs, exact, _ = result
    _, truth_pairs, _ = truth
    detected = _expand_detected_pairs(rep_pairs, exact)
    assert truth_pairs, "fixture must plant duplicate pairs"
    missed = truth_pairs - detected
    recall = 1 - len(missed) / len(truth_pairs)
    assert recall >= 0.99, f"recall {recall}: missed {sorted(missed)[:10]}"
    false = detected - truth_pairs
    assert not false, f"verification must be exact; false pairs {sorted(false)[:10]}"


def test_cluster_agreement(result, truth):
    _, _, _, clusters = result
    _, _, truth_clusters = truth
    assert clusters == truth_clusters


def test_partitioning_invariance(spark, webtext, result):
    """Same clusters regardless of input partitioning (determinism under
    different task layouts — SURVEY.md §5 item 6)."""
    df, _ = webtext
    _, _, _, clusters = result
    res2 = dedup_pipeline(df.repartition(7, "lang"), CONFIG)
    clusters2 = {r.doc_id: r.cluster_id for r in res2.clusters.collect()}
    assert clusters2 == clusters


def test_lsh_metrics_shape(result):
    res, _, _, _ = result
    row = res.lsh_metrics.collect()[0]
    assert row.n_buckets > 0
    assert row.n_dropped_buckets == 0


def test_sketch_documents_matches_scalar_reference(spark):
    """Every sketch_documents / sketch_documents_with_counts row equals
    the per-doc scalar forms — sketch_text_bytes, the n_kmers count, the
    KMV estimate, compute_band_keys and sketch_fp128 — across null text,
    empty and short docs (< k), a doc of exactly k bytes, a duplicate,
    unicode text, a doc above s distinct k-mers, and non-default column
    names."""
    from mashspark.hashing import encode_signed
    from mashspark.minhash import kmv_set_size, sketch_text_bytes
    from mashspark.sketch import (compute_band_keys, sketch_documents,
                                  sketch_documents_with_counts, sketch_fp128)

    rows = [(1, "the quick brown fox jumps over the lazy dog " * 30),
            (2, None), (3, ""), (4, "tiny"), (5, "x" * 21),
            (6, "the quick brown fox jumps over the lazy dog " * 30),
            (7, "unicode éèê content " * 40),
            (8, " ".join(f"word{i}" for i in range(200)))]
    docs = spark.createDataFrame(rows, "my_id long, body string")
    sp, lp = SketchParams(s=64), LSHParams(prefix=32)
    cols = dict(id_col="my_id", text_col="body")

    got = {r["doc_id"]: r for r in sketch_documents(docs, sp, lp, **cols).collect()}
    cnt = {r["doc_id"]: r for r in
           sketch_documents_with_counts(docs, sp, **cols).collect()}
    assert set(got) == set(cnt) == {d for d, _ in rows}
    assert len(got[8]["sketch"]) == 8 * sp.s  # the KMV branch is exercised
    for doc_id, text in rows:
        data = (text or "").encode("utf-8")
        ref, ref_counts = sketch_text_bytes(data, sp.k, sp.s, sp.seed,
                                            with_counts=True)
        blob = encode_signed(ref).astype("<i8").tobytes()
        card = kmv_set_size(ref) if len(ref) >= sp.s else len(ref)
        r, c = got[doc_id], cnt[doc_id]
        assert bytes(r["sketch"]) == blob == bytes(c["sketch"]), doc_id
        assert r["n_kmers"] == c["n_kmers"] == max(len(data) - sp.k + 1, 0)
        assert r["card_est"] == c["card_est"] == card, doc_id
        assert list(r["band_key"]) == compute_band_keys(
            ref, lp.bands, lp.prefix).view(np.int64).tolist(), doc_id
        assert (r["fp1"], r["fp2"]) == sketch_fp128(ref), doc_id
        assert list(c["counts"]) == ref_counts.tolist(), doc_id


def test_degenerate_texts_end_to_end(spark):
    """Null, empty and shorter-than-k docs stay one-label singletons
    (even when byte-identical to each other), byte-identical long docs
    share their min-id cluster, and exact collapse keeps one row per
    input doc — the invariant cluster completeness rests on."""
    long_a = "near duplicate detection at web scale with bottom k sketches " * 8
    long_b = "an unrelated document about something else entirely, padded " * 8
    rows = [(10, None), (11, None), (12, ""), (13, ""), (14, "short"),
            (15, "short"), (16, "x" * (PARAMS.k - 1)), (20, long_a),
            (21, long_b), (22, long_a), (23, long_a)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    res = dedup_pipeline(docs, CONFIG)
    try:
        assert res.exact_groups.count() == res.sketches.count() == len(rows)
        labels = [(r.doc_id, r.cluster_id) for r in res.clusters.collect()]
        assert sorted(d for d, _ in labels) == sorted(d for d, _ in rows)
        clusters = dict(labels)
        for d in range(10, 17):
            assert clusters[d] == d, d
        assert clusters[20] == clusters[22] == clusters[23] == 20
        assert clusters[21] == 21
    finally:
        res.release()


def _small_side_parity(spark, tmp_path, prefix_filter):
    """Rows of verify_pairs over all pairs of a small parquet-backed
    sketch table, once on the broadcast (``small``) path and once with
    the shuffled-hash hint path forced; returns (small, forced)."""
    from pyspark.sql import functions as F

    from mashspark.params import LSHParams, SketchParams
    from mashspark.sketch import sketch_documents
    from mashspark import verify as V

    rng = np.random.default_rng(3)
    words = ["w%03d" % i for i in range(300)]
    rows = []
    for i in range(40):
        base = " ".join(words[j] for j in rng.integers(0, 300, 80))
        rows.append((i, base))
        if i % 3 == 0:
            rows.append((1000 + i, base + " extra tail"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sp, lp = SketchParams(s=128), LSHParams(prefix=64)
    path = str(tmp_path / "sk.parquet")
    sketch_documents(docs, sp, lp).write.parquet(path)
    sk = spark.read.parquet(path).select("doc_id", "sketch", "card_est")
    assert V._sketch_side_small(sk), "parquet-backed small table must qualify"

    ids = sk.select("doc_id")
    pairs = (ids.withColumnRenamed("doc_id", "id_a")
             .crossJoin(ids.withColumnRenamed("doc_id", "id_b"))
             .filter(F.col("id_a") < F.col("id_b")))

    def run():
        return [tuple(r) for r in V.verify_pairs(
            pairs, sk, sp, jaccard_threshold=0.5, prefix_filter=prefix_filter,
        ).orderBy("id_a", "id_b").collect()]

    got = run()
    orig = V._sketch_side_small
    V._sketch_side_small = lambda _sk: False
    try:
        ref = run()
    finally:
        V._sketch_side_small = orig
    return got, ref


def test_verify_broadcast_attach_matches_hint_path(spark, tmp_path):
    """verify_pairs broadcasts the sketch side when it is provably small
    (see ``_sketch_side_small``: the larger of the optimizer estimate
    and the stored size of any checkpointed scan). Pin output equality
    between the two attach strategies without the prefix filter."""
    got, ref = _small_side_parity(spark, tmp_path, prefix_filter=None)
    assert got == ref
    assert len(got) > 0


def test_verify_broadcast_attach_matches_hint_path_with_prefix_filter(spark, tmp_path):
    """Same parity with the two-tier prefix filter on, which is where the
    small path restricts the fat side to tier-1 survivors through a
    broadcast semi-join instead of the shuffled one."""
    got, ref = _small_side_parity(spark, tmp_path, prefix_filter=64)
    assert got == ref
    assert len(got) > 0


def test_checkpointed_sketch_side_sized_by_stored_bytes(spark):
    """A checkpointed sketch table inherits its size estimate from the
    input text plan, far below its stored size. The sizing must use the
    stored bytes: with the broadcast threshold between the two, the
    table must not qualify; above both, it must."""
    from mashspark import verify as V
    from mashspark.params import LSHParams, SketchParams
    from mashspark.sketch import sketch_documents

    jsc = spark.sparkContext._jsc
    docs = webtext_spark_df(spark, n_base=40, seed=5).select("doc_id", "text")
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    sk = (sketch_documents(docs, SketchParams(s=128), LSHParams(prefix=64))
          .localCheckpoint(eager=True)
          .select("doc_id", "sketch", "card_est"))
    (rid,) = set(jsc.getPersistentRDDs().keySet().toArray()) - before
    stored = sum(i.memSize() + i.diskSize()
                 for i in jsc.sc().getRDDStorageInfo() if i.id() == rid)
    est = int(sk._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert 0 <= est < stored, (est, stored)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, str(max(est + 1, stored // 2)))
        assert not V._sketch_side_small(sk)
        spark.conf.set(key, str(stored + 1))
        assert V._sketch_side_small(sk)
    finally:
        spark.conf.set(key, old)
