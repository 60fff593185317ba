#!/usr/bin/env python3
"""Near-duplicate pipeline benchmark.

    python3 dedupbench/run.py --workload web_sparse --seed 7 --seconds 16 --trace 0

Runs from the repository root. Generates (or reuses) the workload's
corpus from the seed, starts a local Spark session sized to this host,
runs full-size warm-up passes, then timed passes of
``pipeline.dedup_pipeline`` for about ``--seconds`` seconds, checks every
pass's outputs against the benchmark's own Mash-semantics oracle, and
prints one JSON object as the last line of standard output:
end-to-end metrics with ``--trace 0``; with ``--trace 1`` the per-layer
metrics of an extra traced pass (see ``layertrace.py``) and of a snapshot
round trip. Everything it writes goes under ``.bench_work/`` in the
working directory. Exits non-zero if any output check fails.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import oracle  # noqa: E402
import probe  # noqa: E402

WORKLOADS = ("web_sparse", "web_dense_short")

# (name, unit): printed with --trace 0
END_TO_END = [
    ("wall_s", "s"),
    ("docs_per_s", "1/s"),
    ("cpu_s", "s"),
    ("peak_rss_mb", "MB"),
    ("shuffle_write_mb", "MB"),
    ("recall", "ratio"),
    ("setup_s", "s"),
]

LAYER_SUFFIXES = [
    ("wall_s", "s"), ("task_s", "s"), ("jvm_cpu_s", "s"), ("py_cpu_s", "s"),
    ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("jobs", "count"),
    ("stages", "count"), ("rows_in", "count"), ("rows_out", "count"),
]
LAYER_EXTRAS = [
    ("pipeline.collapse.reps", "count"),
    ("lsh.band_entries", "count"),
    ("lsh.buckets", "count"),
    ("lsh.hot_buckets", "count"),
    ("lsh.candidates", "count"),
    ("lsh.predicted_candidates", "count"),
    ("verify.pairs", "count"),
    ("verify.yield", "ratio"),
    ("cc.edges", "count"),
    ("cc.components", "count"),
    ("pipeline.assign.clusters", "count"),
    ("pipeline.fat_scans", "count"),
    ("pipeline.jobs", "count"),
    ("pipeline.stages", "count"),
    ("runs.sketch_write_s", "s"),
    ("snapshots.commit_s", "s"),
    ("io.bytes_written_mb", "MB"),
    ("io.write_amp", "ratio"),
    ("runs.resume_s", "s"),
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("trace.wall_ratio", "ratio"),
    ("trace.shuffle_ratio", "ratio"),
]


# The label join is broadcast and runs no Python: these read 0 always.
LAYER_ZERO = {"pipeline.assign.py_cpu_s", "pipeline.assign.shuffle_write_mb",
              "pipeline.assign.shuffle_read_mb"}


def per_layer_metrics() -> list[tuple[str, str]]:
    from layertrace import LAYERS

    return [(f"{layer}.{s}", u) for layer in LAYERS for s, u in LAYER_SUFFIXES
            if f"{layer}.{s}" not in LAYER_ZERO] + LAYER_EXTRAS


MIN_PASSES = 2          # timed passes per run, at least
RECALL_BASES = 150      # families in the exhaustive ground-truth subset
RESCORE_SAMPLE = 200    # verified pairs re-scored by the oracle per run
MIN_RECALL = 0.99
# 15 GB host: JVM heap + 4 Python workers (~0.2-0.4 GB each) + page cache
DRIVER_MEM = {"full": "6g"}


class CheckFailed(Exception):
    pass


def _meminfo_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def _prepare_env(work: str, root: str, scale: str) -> int:
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["MASHSPARK_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["MASHSPARK_DRIVER_MEM"] = DRIVER_MEM.get(scale, "4g")
    for var in ("MASHSPARK_PRETOUCH", "MASHSPARK_TASK_CPUS", "MASHSPARK_ARROW_BATCH"):
        os.environ.pop(var, None)
    return cores


def _start_spark(cores: int):
    from mashspark.session import get_spark

    spark = get_spark(
        cores=cores, shuffle_partitions=8, app_name="dedupbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited (it
    exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (tmpfs or a disk)."""
    best, fstype = "", "?"
    with open("/proc/mounts") as fh:
        for line in fh:
            mnt, typ = line.split()[1:3]
            if os.path.realpath(path).startswith(mnt.rstrip("/") + "/") and len(mnt) > len(best):
                best, fstype = mnt, typ
    return fstype


def _conditions(spark, cores: int) -> dict:
    import numpy
    import pyarrow

    jvm = spark.sparkContext._jvm
    return {
        "nproc": cores,
        "mem_total_mb": round(_meminfo_total_mb()),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": platform.python_version(),
        "local_dir_fs": _fs_type(os.environ["MASHSPARK_LOCAL_DIR"]),
        "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
    }


class Bench:
    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.work = os.path.join(root, ".bench_work")
        self.run_id = uuid.uuid4().hex[:12]
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.corpus_s = 0.0
        self.digests: dict | None = None
        self.recall_detail: dict | None = None
        self.tracer: probe.Tracer | None = None
        self.conditions: dict | None = None
        self.summary: dict | None = None

    # -- one pass --------------------------------------------------------
    def pass_once(self, tracer, name: str, docs, config):
        """Untraced pipeline pass, timed from input to materialized
        outputs (verified pairs and cluster labels counted)."""
        from mashspark.pipeline import dedup_pipeline

        with tracer.span(name):
            h0, c0 = probe.host_cpu_ticks(), probe.tree_cpu()
            t0 = time.perf_counter()
            res = dedup_pipeline(docs, config)
            n_pairs = res.pairs.count()
            n_labels = res.clusters.count()
            wall = time.perf_counter() - t0
            c1, h1 = probe.tree_cpu(), probe.host_cpu_ticks()
        return res, {"wall_s": wall, "cpu_s": sum(c1.values()) - sum(c0.values()),
                     "steal": probe.steal_share(h0, h1), "pairs": n_pairs,
                     "labels": n_labels}

    def check_outputs(self, tracer, res, stats) -> dict:
        """Per-pass checks: one label per doc, min-id cluster labels,
        counts consistent; returns the collected outputs and digests."""
        import numpy as np

        with tracer.span("check"):
            pairs = res.pairs.select("id_a", "id_b", "common", "denom").toPandas()
            clusters = res.clusters.select("doc_id", "cluster_id").toPandas()
        if len(pairs) != stats["pairs"] or len(clusters) != stats["labels"]:
            raise CheckFailed("collected outputs disagree with the counted ones")
        if not np.array_equal(np.sort(clusters["doc_id"].to_numpy()), self.doc_ids):
            raise CheckFailed("cluster labels are not exactly one per input doc")
        mins = clusters.groupby("cluster_id")["doc_id"].min()
        if not (mins.index.to_numpy() == mins.to_numpy()).all():
            raise CheckFailed("a cluster_id is not the minimum doc_id of its cluster")
        if not (pairs["id_a"] < pairs["id_b"]).all():
            raise CheckFailed("verified pair with id_a >= id_b")
        if not (pairs["common"] >= self.config.jaccard_threshold * pairs["denom"]).all():
            raise CheckFailed("verified pair below the Jaccard threshold")
        return {
            "pairs": pairs, "clusters": clusters,
            "pairs_digest": oracle.digest(pairs["id_a"], pairs["id_b"],
                                          pairs["common"], pairs["denom"]),
            "clusters_digest": oracle.digest(clusters["doc_id"], clusters["cluster_id"]),
            "n_clusters": int(clusters["cluster_id"].nunique()),
        }

    def oracle_checks(self, res, out) -> float:
        """Once per run: re-score a sample of verified pairs with the
        oracle from both the program's and the oracle's own sketches;
        exhaustive ground truth on a family-closed subset gives recall."""
        import numpy as np
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        sp = self.config.sketch
        rng = np.random.default_rng(self.args.seed)
        pairs = out["pairs"]
        take = rng.choice(len(pairs), size=min(RESCORE_SAMPLE, len(pairs)), replace=False)
        sample = pairs.iloc[np.sort(take)]
        # family-closed subset: every doc of the sampled base documents
        table = pq.read_table(self.corpus_path)
        doc_ids = table.column("doc_id").to_numpy()
        bases = np.unique(doc_ids // 6)
        chosen = set(rng.choice(bases, size=min(RECALL_BASES, len(bases)),
                                replace=False).tolist())
        subset = {int(d) for d in doc_ids if int(d) // 6 in chosen}
        wanted = subset | set(sample["id_a"].tolist()) | set(sample["id_b"].tolist())
        texts = {int(d): t for d, t in zip(doc_ids.tolist(),
                                           table.column("text").to_pylist())
                 if int(d) in wanted}
        own = {d: oracle.sketch_text(t, sp.k, sp.s, sp.seed) for d, t in texts.items()}
        prog = {int(r["doc_id"]): oracle.decode_blob(r["sketch"]) for r in
                res.sketches.filter(F.col("doc_id").isin(sorted(wanted)))
                .select("doc_id", "sketch").collect()}
        for d in wanted:
            if d not in prog or not np.array_equal(prog[d], own[d]):
                raise CheckFailed(f"program sketch of doc {d} differs from the oracle's")
        for r in sample.itertuples():
            got = oracle.mash_compare(own[r.id_a], own[r.id_b], sp.s)
            if got != (r.common, r.denom):
                raise CheckFailed(f"pair ({r.id_a},{r.id_b}): program (common, denom) "
                                  f"{(r.common, r.denom)} != oracle {got}")
        truth = oracle.true_pairs({d: own[d] for d in subset}, sp.s,
                                  self.config.jaccard_threshold)
        labels = dict(zip(out["clusters"]["doc_id"].tolist(),
                          out["clusters"]["cluster_id"].tolist()))
        recall = oracle.pair_recall(truth, labels)
        self.recall_detail = {"subset_docs": len(subset), "truth_pairs": len(truth),
                              "rescored_pairs": len(sample)}
        if recall < MIN_RECALL:
            raise CheckFailed(f"recall {recall:.4f} < {MIN_RECALL} on {self.recall_detail}")
        return recall

    def check_digest(self, out) -> None:
        """Same digest in every pass of this run and in every run over
        the same corpus in this checkout."""
        d = {"pairs": out["pairs_digest"], "clusters": out["clusters_digest"]}
        if self.digests is None:
            self.digests = d
            path = os.path.join(self.work, "digests",
                                f"{self.args.workload}-{self.corpus_meta['digest']}.json")
            if os.path.exists(path):
                with open(path) as fh:
                    prev = json.load(fh)
                if prev != d:
                    raise CheckFailed(f"outputs differ from an earlier run of this seed: "
                                      f"{prev} != {d}")
            else:
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path, "w") as fh:
                    json.dump(d, fh)
        elif d != self.digests:
            raise CheckFailed(f"outputs differ between passes: {self.digests} != {d}")

    def attempt(self, what: str, fn):
        """Run one attempted unit of work; a raised error or failed check
        counts as failed and is reported, never hidden."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # boundary: record and keep measuring
            self.failed += 1
            self.failures.append(f"{what}: {exc}")
            traceback.print_exc(file=sys.stderr)
            return None

    # -- the run ---------------------------------------------------------
    def run(self) -> dict:
        from mashspark.params import PipelineConfig

        args = self.args
        cores = _prepare_env(self.work, self.root, args.scale)
        t0 = time.perf_counter()
        self.corpus_path, self.corpus_meta = corpus.load(
            args.workload, args.scale, args.seed, os.path.join(self.work, "corpora"))
        self.corpus_s = time.perf_counter() - t0
        import numpy as np
        import pyarrow.parquet as pq

        self.doc_ids = np.sort(pq.read_table(self.corpus_path, columns=["doc_id"])
                               .column("doc_id").to_numpy())
        self.config = PipelineConfig()
        spark = _start_spark(cores)
        try:
            session_start_s = time.perf_counter() - T_START - self.corpus_s
            return self._measure(spark, cores, session_start_s)
        finally:
            self._write_record()
            _stop_spark(spark)

    def _measure(self, spark, cores: int, session_start_s: float) -> dict:
        args = self.args
        store = probe.StatusStore(spark)
        tracer = self.tracer = probe.Tracer(store, self.run_id)
        docs = spark.read.parquet(self.corpus_path)
        n_docs = self.corpus_meta["n_docs"]
        self.conditions = _conditions(spark, cores)

        # set-up: one full-size warm-up pass (a first pass runs far slower
        # than later ones), checked like every other pass
        warm = {}

        def warmup():
            res, st = self.pass_once(tracer, "warmup", docs, self.config)
            warm["wall_s"] = st["wall_s"]
            out = self.check_outputs(tracer, res, st)
            self.check_digest(out)
            recall = self.oracle_checks(res, out)
            res.release()
            return recall
        recall = self.attempt("warm-up pass", warmup)
        warmup_s = warm.get("wall_s", 0.0)
        setup_s = session_start_s + warmup_s

        # timed passes
        passes = []
        t_loop = time.perf_counter()
        while True:
            name = f"pass{len(passes)}"

            def timed():
                res, st = self.pass_once(tracer, name, docs, self.config)
                out = self.check_outputs(tracer, res, st)
                self.check_digest(out)
                # the first checkpoint a pass creates is the sketch table
                st["ckpt"] = min(res.ckpt_rdd_ids)
                st["ckpt_mb"] = store.rdd_mb(st["ckpt"])
                st["n_clusters"] = out["n_clusters"]
                res.release()
                return st
            st = self.attempt(f"timed {name}", timed)
            if st is None:
                break
            st["name"] = name
            passes.append(st)
            # A traced run needs one untraced pass to compare against.
            # Otherwise stop where the run length comes closest to
            # --seconds, after at least MIN_PASSES: later passes run
            # faster (the JVM keeps compiling), so a pass count that
            # varies from run to run would move the median.
            elapsed = time.perf_counter() - t_loop
            if args.trace or (len(passes) >= MIN_PASSES and
                              elapsed + 0.5 * elapsed / len(passes) >= args.seconds):
                break
        peak_rss = probe.tree_peak_rss_mb()
        if not passes or recall is None:
            return self._result({})

        sums = store.sums({tracer.group(p["name"]) for p in passes})
        for p in passes:
            s = sums[tracer.group(p["name"])]
            # a fat scan: a stage over the sketch checkpoint's lineage that
            # read at least half of its blocks (a stage that only has it as
            # a narrow ancestor of a cached relation reads far less)
            fat = sum(1 for rdds, mb in s.stage_inputs
                      if p["ckpt"] in rdds and mb >= 0.5 * p["ckpt_mb"])
            p.update(jobs=s.jobs, stages=s.stages, shuffle_write_mb=s.shuffle_write_mb,
                     fat_scans=fat, gc_s=s.gc_s)
        walls = [p["wall_s"] for p in passes]
        wall = statistics.median(walls)
        e2e = {
            "wall_s": wall,
            "docs_per_s": n_docs / wall,
            "cpu_s": statistics.median(p["cpu_s"] for p in passes),
            "peak_rss_mb": sum(peak_rss.values()),
            "shuffle_write_mb": statistics.median(p["shuffle_write_mb"] for p in passes),
            "recall": recall,
            "setup_s": setup_s,
        }
        self.summary = {
            "workload": args.workload, "scale": args.scale, "seed": args.seed,
            "docs": n_docs, "corpus": self.corpus_meta, "run_id": self.run_id,
            "wall_s_samples": walls, "wall_s_max": max(walls),
            "passes": [{k: p[k] for k in ("wall_s", "cpu_s", "steal", "gc_s")}
                       for p in passes],
            "pairs": passes[0]["pairs"], "clusters": passes[0]["n_clusters"],
            "recall_detail": self.recall_detail,
            "peak_rss_mb_by_process": peak_rss,
            "session_start_s": session_start_s, "warmup_s": warmup_s,
            "untraced_pass": {k: passes[-1][k] for k in
                              ("jobs", "stages", "fat_scans", "shuffle_write_mb")},
        }
        layer = None
        if args.trace:
            layer = self.attempt("traced pass", lambda: self._traced(
                spark, store, tracer, docs, passes, session_start_s, warmup_s))
        return self._result((layer or {}) if args.trace else e2e)

    def _traced(self, spark, store, tracer, docs, passes, session_start_s, warmup_s):
        import layertrace as tr

        got = tr.traced_pass(tracer, docs, self.config)
        res, counts = got["result"], got["counts"]
        out = self.check_outputs(tracer, dataclasses.replace(res, clusters=got["clusters"]),
                                 {"pairs": res.pairs.count(),
                                  "labels": counts["pipeline.assign"]["rows_out"]})
        self.check_digest(out)
        res.release()

        snap_root = os.path.join(self.work, "snapshots", self.run_id)
        shutil.rmtree(snap_root, ignore_errors=True)
        snap = tr.snapshot_round_trip(tracer, spark, docs, self.config, snap_root,
                                      tag=f"seed{self.args.seed}")
        first, second = snap["first"], snap["second"]
        if first.resumed_sketches or first.resumed_clusters:
            raise CheckFailed("fresh snapshot run claims to have resumed")
        if not (second.resumed_sketches and second.resumed_clusters):
            raise CheckFailed("second snapshot run did not resume as a no-op")
        for r in (first, second):
            cl = r.clusters.select("doc_id", "cluster_id").toPandas()
            if oracle.digest(cl["doc_id"], cl["cluster_id"]) != self.digests["clusters"]:
                raise CheckFailed("snapshot run clusters differ from the pipeline's")
        shutil.rmtree(snap_root, ignore_errors=True)

        groups = {tracer.group(s.name) for s in tracer.spans}
        sums = store.sums(groups)
        spans: dict[str, list] = {}
        for s in tracer.spans:
            spans.setdefault(s.name, []).append(s)
        m: dict[str, float] = {}
        for layer in tr.LAYERS:
            (s,) = spans[layer]
            g = sums[tracer.group(layer)]
            c = counts[layer]
            m.update({
                f"{layer}.wall_s": s.wall_s, f"{layer}.task_s": g.task_s,
                f"{layer}.jvm_cpu_s": g.jvm_cpu_s, f"{layer}.py_cpu_s": s.cpu["python"],
                f"{layer}.shuffle_write_mb": g.shuffle_write_mb,
                f"{layer}.shuffle_read_mb": g.shuffle_read_mb,
                f"{layer}.jobs": g.jobs, f"{layer}.stages": g.stages,
                f"{layer}.rows_in": c["rows_in"], f"{layer}.rows_out": c["rows_out"],
            })
        untraced = passes[-1]
        traced_wall = (sum(s.wall_s for s in spans["traced_pass"])
                       - sum(s.wall_s for s in spans[tr.AUX]))
        traced_groups = [tracer.group(n) for n in ("traced_pass",) + tr.LAYERS]
        traced_shuffle = sum(sums[g].shuffle_write_mb for g in traced_groups)
        snap_groups = [tracer.group(n) for n in
                       ("runs", "runs.sketch_write", "snapshots.commit")]
        written_mb = sum(sums[g].output_mb for g in snap_groups)
        m.update({
            "pipeline.collapse.reps": counts["pipeline.collapse"]["reps"],
            "lsh.band_entries": counts["lsh"]["band_entries"],
            "lsh.buckets": counts["lsh"]["buckets"],
            "lsh.hot_buckets": counts["lsh"]["hot_buckets"],
            "lsh.candidates": counts["lsh"]["candidates"],
            "lsh.predicted_candidates": counts["lsh"]["predicted_candidates"],
            "verify.pairs": counts["verify"]["pairs"],
            "verify.yield": counts["verify"]["yield"],
            "cc.edges": counts["cc"]["edges"],
            "cc.components": counts["cc"]["components"],
            "pipeline.assign.clusters": counts["pipeline.assign"]["clusters"],
            "pipeline.fat_scans": untraced["fat_scans"],
            "pipeline.jobs": untraced["jobs"],
            "pipeline.stages": untraced["stages"],
            "runs.sketch_write_s": sum(s.wall_s for s in spans["runs.sketch_write"]),
            "snapshots.commit_s": sum(s.wall_s for s in spans["snapshots.commit"]),
            "io.bytes_written_mb": written_mb,
            "io.write_amp": written_mb * probe.MB / self.corpus_meta["text_bytes"],
            "runs.resume_s": spans["runs.resume"][0].wall_s,
            "session.start_s": session_start_s,
            "session.warmup_s": warmup_s,
            "trace.wall_ratio": traced_wall / untraced["wall_s"],
            "trace.shuffle_ratio": traced_shuffle / untraced["shuffle_write_mb"],
        })
        self.summary["traced"] = {
            "wall_delta_s": traced_wall - untraced["wall_s"],
            "shuffle_delta_mb": traced_shuffle - untraced["shuffle_write_mb"],
            "sketch.empty_sketches": counts["sketch"]["empty_sketches"],
            "lsh.dropped_buckets": counts["lsh"]["dropped_buckets"],
            "cc.path": counts["cc"]["path"],
        }
        return m

    def _write_record(self) -> None:
        d = os.path.join(self.work, "runs")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{self.run_id}.json"), "w") as fh:
            json.dump({"summary": self.summary, "conditions": self.conditions,
                       "spans": self.tracer.records() if self.tracer else [],
                       "failures": self.failures}, fh, indent=1, default=str)

    def _result(self, metrics: dict) -> dict:
        names = per_layer_metrics() if self.args.trace else END_TO_END
        missing = [n for n, _ in names if n not in metrics]
        if missing and not self.failures:
            self.failures.append(f"metrics not measured: {missing}")
        failed = max(self.failed, 1 if self.failures else 0)
        return {
            "correct": not self.failures,
            "attempted": max(self.attempted, failed, 1),
            "failed": failed,
            "metrics": {n: {"value": float(metrics[n]), "unit": u}
                        for n, u in names if n in metrics},
        }


def _print_report(bench: Bench, result: dict) -> None:
    c = bench.conditions
    if c:
        print(f"# host: nproc={c['nproc']} mem_total_mb={c['mem_total_mb']} "
              f"spark={c['spark']} java={c['java']} pyarrow={c['pyarrow']} "
              f"local_dir_fs={c['local_dir_fs']}; "
              f"Spark conf and spans in .bench_work/runs/{bench.run_id}.json")
    s = bench.summary
    if s:
        print(f"# {s['workload']} scale={s['scale']} seed={s['seed']} docs={s['docs']} "
              f"pairs={s['pairs']} clusters={s['clusters']} run_id={s['run_id']}")
        w = s["wall_s_samples"]
        print(f"# wall_s over n={len(w)} timed passes: median {statistics.median(w):.3f}, "
              f"max {max(w):.3f} (too few samples for a tail percentile)")
        print(f"# recall subset: {s['recall_detail']}; untraced pass: {s['untraced_pass']}")
        if "traced" in s:
            print(f"# traced vs untraced: {s['traced']}")
    for name, m in result["metrics"].items():
        print(f"# {name:<34} {m['value']:>14.4f} {m['unit']}")
    fail_ratio = result["failed"] / result["attempted"]
    print(f"# fail_ratio {fail_ratio:.4f} ({result['failed']}/{result['attempted']})")
    for f in bench.failures:
        print(f"# FAILED {f}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "full", "tiny"), default="bench",
                    help="corpus size (default: bench)")
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mashspark", "pipeline.py")):
        print("dedupbench: run from the repository root (mashspark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    bench = Bench(args, root)
    result = bench.run()
    _print_report(bench, result)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
