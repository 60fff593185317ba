"""The traced pass: the real ``dedup_pipeline`` with each layer's public
call wrapped from outside, so that the layer's output is materialized
inside a span (and Spark job group) named after the layer.

Wrapped calls: ``sketch.sketch_documents``, ``pipeline.exact_collapse``,
``lsh.candidate_pairs``, ``verify.verify_pairs`` and
``cc.connected_components``; the cluster-label join is materialized as
``pipeline.assign`` after the pipeline returns. Jobs the pipeline runs
between wrapped calls fall into the enclosing ``traced_pass`` span.
Counting that only the trace needs (rows in, bucket statistics) runs in
``trace.aux`` spans, which are left out of every layer's figures and of
the traced-vs-untraced comparison.

The snapshot round trip (``runs.dedup_snapshot_run`` twice: a fresh
commit, then a resume) puts ``io.run_checkpointed`` (the bucketed
sketch write) and ``snapshots.commit_overwrite`` in spans of their own;
both already write their outputs, so nothing extra is materialized.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import functions as F

LAYERS = ("sketch", "pipeline.collapse", "lsh", "verify", "cc", "pipeline.assign")
AUX = "trace.aux"


@contextmanager
def _patched(targets):
    """Temporarily replace module attributes: targets = [(module, name, fn)]."""
    saved = [(mod, name, getattr(mod, name)) for mod, name, _ in targets]
    try:
        for mod, name, fn in targets:
            setattr(mod, name, fn)
        yield
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)


def traced_pass(tracer, docs, config) -> dict:
    """Run one traced pipeline pass; returns layer counts and the result."""
    import mashspark.cc as cc
    import mashspark.lsh as lsh
    import mashspark.pipeline as pipeline
    import mashspark.sketch as sketch
    import mashspark.verify as verify

    counts = {name: {} for name in LAYERS}

    def aux_count(df) -> int:
        with tracer.span(AUX):
            return df.count()

    orig_sketch = sketch.sketch_documents
    orig_collapse = pipeline.exact_collapse
    orig_cands = lsh.candidate_pairs
    orig_verify = verify.verify_pairs
    orig_cc = cc.connected_components

    def sketch_documents(df, *a, **kw):
        counts["sketch"]["rows_in"] = aux_count(df)
        with tracer.span("sketch"):
            out = orig_sketch(df, *a, **kw).localCheckpoint(eager=True)
        with tracer.span(AUX):
            c = counts["sketch"]
            c["rows_out"] = out.count()
            c["empty_sketches"] = out.filter(F.length("sketch") == 0).count()
        return out

    def exact_collapse(sketches):
        counts["pipeline.collapse"]["rows_in"] = aux_count(sketches)
        with tracer.span("pipeline.collapse"):
            out = orig_collapse(sketches).persist()
            n = out.count()
        c = counts["pipeline.collapse"]
        c["rows_out"] = n
        c["reps"] = aux_count(out.filter(F.col("doc_id") == F.col("rep_id")))
        return out

    def candidate_pairs(reps, *a, **kw):
        counts["lsh"]["rows_in"] = aux_count(reps)
        with tracer.span("lsh"):
            pairs, metrics = orig_cands(reps, *a, **kw)
            pairs = pairs.localCheckpoint(eager=True)
        with tracer.span(AUX):
            sizes = lsh.explode_bands(reps).groupBy("band_key").count()
            agg = sizes.agg(
                F.sum("count").alias("entries"),
                F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("predicted"),
            ).collect()[0]
            m = metrics.collect()[0]
            c = counts["lsh"]
            c["rows_out"] = c["candidates"] = pairs.count()
            c["band_entries"] = int(agg["entries"])
            c["predicted_candidates"] = int(agg["predicted"])
            c["buckets"] = int(m["n_buckets"])
            c["hot_buckets"] = int(m["n_hot_buckets"])
            c["dropped_buckets"] = int(m["n_dropped_buckets"])
        return pairs, metrics

    def verify_pairs(cands, *a, **kw):
        counts["verify"]["rows_in"] = aux_count(cands)
        with tracer.span("verify"):
            out = orig_verify(cands, *a, **kw).localCheckpoint(eager=True)
        c = counts["verify"]
        c["rows_out"] = c["pairs"] = aux_count(out)
        c["yield"] = c["pairs"] / max(c["rows_in"], 1)
        return out

    def connected_components(edges, *a, **kw):
        n_edges = aux_count(edges)
        with tracer.span("cc"):
            out = orig_cc(edges, *a, **kw).localCheckpoint(eager=True)
        c = counts["cc"]
        c["rows_in"] = c["edges"] = n_edges
        c["rows_out"] = aux_count(out)
        c["components"] = aux_count(out.select("cluster_id").distinct())
        threshold = kw.get("driver_threshold", config.cc_driver_threshold)
        c["path"] = "driver" if 0 < n_edges <= threshold else "distributed"
        return out

    targets = [
        (sketch, "sketch_documents", sketch_documents),
        (pipeline, "sketch_documents", sketch_documents),
        (pipeline, "exact_collapse", exact_collapse),
        (lsh, "candidate_pairs", candidate_pairs),
        (verify, "verify_pairs", verify_pairs),
        (cc, "connected_components", connected_components),
    ]
    with _patched(targets), tracer.span("traced_pass"):
        res = pipeline.dedup_pipeline(docs, config)
        counts["pipeline.assign"]["rows_in"] = aux_count(res.exact_groups)
        with tracer.span("pipeline.assign"):
            clusters = res.clusters.localCheckpoint(eager=True)
        c = counts["pipeline.assign"]
        c["rows_out"] = aux_count(clusters)
        c["clusters"] = aux_count(clusters.select("cluster_id").distinct())
    missing = [n for n in LAYERS if "rows_out" not in counts[n]]
    if missing:
        raise RuntimeError(f"traced pass never reached layers {missing}: "
                           "a wrapped call was renamed or bypassed")
    return {"counts": counts, "result": res, "clusters": clusters}


def snapshot_round_trip(tracer, spark, docs, config, root: str, tag: str) -> dict:
    """A fresh ``dedup_snapshot_run`` into ``root``, then the same call
    again, which must resume as a no-op."""
    import mashspark.io as mio
    import mashspark.runs as runs
    import mashspark.snapshots as snap

    orig_write = mio.run_checkpointed
    orig_commit = snap.commit_overwrite

    def run_checkpointed(*a, **kw):
        with tracer.span("runs.sketch_write"):
            return orig_write(*a, **kw)

    def commit_overwrite(*a, **kw):
        with tracer.span("snapshots.commit"):
            return orig_commit(*a, **kw)

    targets = [(mio, "run_checkpointed", run_checkpointed),
               (snap, "commit_overwrite", commit_overwrite)]
    with _patched(targets):
        with tracer.span("runs"):
            first = runs.dedup_snapshot_run(spark, docs, config, root, input_tag=tag)
        with tracer.span("runs.resume"):
            second = runs.dedup_snapshot_run(spark, docs, config, root, input_tag=tag)
    return {"first": first, "second": second}
