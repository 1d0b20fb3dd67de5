"""Per-layer metrics of a traced run (``--trace 1``).

Pipeline numbers come from the spans of the workload's own calls (and, for
the layer the workload does not time, one extra call after its timed
window); operator numbers come from isolated public calls on the
workload's own materialized inputs, forced through a noop sink. Executor
CPU, shuffle and spill come from the Spark event log, folded per span by
job id after the session stops. None of this runs inside a timed span of
the workload.
"""

from __future__ import annotations

import os
import statistics
import time

import corpus as C
import ledger as L
import workloads as W

RUN_STAGES = ("features", "signatures", "exact_edges", "lsh_sigs",
              "lsh_buckets", "lsh_edges", "phash_reps", "phash_blocks",
              "phash_edges", "components", "invariants")
INC_STAGES = ("inc_signatures", "inc_exact_edges", "inc_lsh_edges",
              "inc_phash_edges", "inc_components_contracted",
              "inc_components_delta", "inc_append_window")
# isolated operator calls: batch operators report busy core-seconds over
# the call (they run Python workers, whose CPU the executor metrics omit),
# incremental probes their wall time
OPERATOR_CPU = (
    "exact.signatures", "multimodal.image_features",
    "minhash_lsh.collapse_groups", "minhash_lsh.signatures",
    "minhash_lsh.candidate_pairs", "minhash_lsh.verify_pairs",
    "simhash.phash_near_dup_edges", "components.connected_components",
)
OPERATOR_WALL = (
    "minhash_lsh.incremental_near_dup_edges",
    "simhash.incremental_hamming_edges",
    "components.incremental_components_delta",
)


def names() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    out = [("session.build_session.s", "s", "lower")]
    for m, u, b in (("jobs", "count", "lower"), ("cpu_s", "s", "lower"),
                    ("shuffle_mb", "MB", "lower"), ("spill_mb", "MB", "lower"),
                    ("task_skew", "ratio", "lower"), ("wall_s", "s", "lower")):
        out.append((f"pipeline.run.{m}", u, b))
    for st in RUN_STAGES:
        out += [(f"pipeline.stage.{st}.s", "s", "lower"),
                (f"pipeline.stage.{st}.rows", "count", "lower")]
    out += [("pipeline.run_incremental.jobs", "count", "lower"),
            ("pipeline.run_incremental.cpu_s", "s", "lower"),
            ("pipeline.run_incremental.wall_s", "s", "lower")]
    out += [(f"pipeline.stage.{st}.s", "s", "lower") for st in INC_STAGES]
    out += [("pipeline.maintain_warehouse.wall_s", "s", "lower"),
            ("pipeline.maintain_warehouse.jobs", "count", "lower"),
            ("pipeline.maintain_warehouse.bytes_rewritten_mb", "MB", "lower"),
            ("pipeline.maintain_warehouse.stages_compacted", "count",
             "lower"),
            ("exact.signatures.cpu_s", "s", "lower"),
            ("multimodal.image_features.cpu_s", "s", "lower")]
    out += [(f"imagecodec.decode_image.us_per_image.{f}", "us", "lower")
            for f in ("png", "bmp", "jpg")]
    out += [(f"minhash_lsh.{op}.cpu_s", "s", "lower")
            for op in ("collapse_groups", "signatures", "candidate_pairs",
                       "verify_pairs")]
    out += [("minhash_lsh.candidate_pairs.pairs", "count", "lower"),
            ("minhash_lsh.verify_ratio", "ratio", "higher"),
            ("minhash_lsh.dropped_buckets", "count", "lower"),
            ("minhash_lsh.incremental_near_dup_edges.wall_s", "s", "lower"),
            ("minhash_lsh.incremental_near_dup_edges.jobs", "count", "lower"),
            ("simhash.phash_near_dup_edges.cpu_s", "s", "lower"),
            ("simhash.verify_ratio", "ratio", "higher"),
            ("simhash.incremental_hamming_edges.wall_s", "s", "lower"),
            ("components.connected_components.cpu_s", "s", "lower"),
            ("components.connected_components.jobs", "count", "lower"),
            ("components.connected_components.shuffle_mb", "MB", "lower"),
            ("components.incremental_components_delta.wall_s", "s", "lower"),
            ("components.delta_rows", "count", "lower"),
            ("components.relabel_rows", "count", "lower"),
            ("search.append_suffix_index.wall_s", "s", "lower"),
            ("search.query_suffix_index.jobs", "count", "lower"),
            ("search.index_shards", "count", "lower"),
            ("search.surviving_shards.ratio", "ratio", "lower")]
    for op in ("run", "run_incremental", "append_suffix_index",
               "maintain_warehouse"):
        out += [(f"storage.{op}.bytes_written_mb", "MB", "lower"),
                (f"storage.{op}.files_written", "count", "lower")]
    out += [("warehouse.files", "count", "lower"),
            ("trace.cpu_coverage", "ratio", "higher"),
            ("trace.overhead", "ratio", "lower")]
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def layer_pass(run, wl: str, out: dict) -> dict:
    """The untimed per-layer calls; → raw values keyed by metric name."""
    from pyspark.sql import functions as F

    from dupers_spark.functions import imagecodec
    from dupers_spark.operators import exact, minhash_lsh as ml
    from dupers_spark.operators import multimodal as mm, search
    from dupers_spark.operators import simhash as sh
    from dupers_spark.operators.components import (
        connected_components, incremental_components_delta)
    from dupers_spark.plans.pipeline import DedupPipeline, PipelineConfig
    from dupers_spark.sources.storage import StageStore

    spark, span = run.spark, run.tracer.span
    vals: dict = {}
    wh = out["warehouse"]
    store = StageStore(spark, wh)

    # the workload's own corpus (build) or base corpus (append_serve)
    images = spark.read.parquet(out["corpus_path"])
    rows = out["rows"]
    # an unseen probe batch right after the corpus window
    start = out["probe_after"]
    probe_rows = C.gen_rows(range(start, start + 10 * W.PROBE_GROUPS))
    probe_path = run.path("probe")
    C.write_parquet(probe_rows, os.path.join(probe_path, "part-0.parquet"))
    probe = spark.read.parquet(probe_path)

    if wl == "append_serve":
        # pipeline.run.* and stage numbers: one normal-mode build of the
        # base corpus on a fresh warehouse
        cfg = PipelineConfig(warehouse=run.path("layer_build"), fast=False)
        pipe = DedupPipeline(spark, cfg)
        run.timed("layer.build", lambda: pipe.run(images),
                  walk=cfg.warehouse)
        out["build_metrics"] = pipe.metrics

    # ---- isolated operators on the corpus
    with span("exact.signatures"):
        _noop(exact.signatures(images))
    with span("multimodal.image_features"):
        _noop(mm.image_features(images))
    for fmt in ("png", "bmp", "jpg"):
        blobs = [r["bytes"] for r in rows if r["fmt"] == fmt and r["bytes"]]
        t0 = time.perf_counter()
        for b in blobs:
            imagecodec.decode_image(b, fmt)
        vals[f"imagecodec.decode_image.us_per_image.{fmt}"] = \
            1e6 * (time.perf_counter() - t0) / max(1, len(blobs))

    caps = images.select("image_id", "caption")
    par = spark.sparkContext.defaultParallelism * 2
    grouped = ml.collapse_groups(caps).repartition(par)
    with span("minhash_lsh.collapse_groups"):
        _noop(grouped)
    grouped = grouped.localCheckpoint()
    with span("minhash_lsh.signatures"):
        _noop(ml.signatures(grouped.select("rep_id", "caption")))
    sigs = ml.signatures(grouped.select("rep_id", "caption")).localCheckpoint()
    with span("minhash_lsh.candidate_pairs"):
        pairs, dropped = ml.candidate_pairs(ml.band_buckets(sigs))
        _noop(pairs)
    pairs = pairs.localCheckpoint()
    n_pairs = pairs.count()
    vals["minhash_lsh.candidate_pairs.pairs"] = n_pairs
    vals["minhash_lsh.dropped_buckets"] = dropped.count()
    with span("minhash_lsh.verify_pairs"):
        n_ver = ml.verify_pairs(pairs, sigs).count()
    vals["minhash_lsh.verify_ratio"] = n_ver / max(1, n_pairs)

    feats = images.select("image_id", "phash").filter(
        F.col("phash").isNotNull())
    with span("simhash.phash_near_dup_edges"):
        _noop(sh.phash_near_dup_edges(feats, 3)[0])
    reps = sh.collapse_sig_groups(feats).select("rep_id", "sig") \
        .localCheckpoint()
    cands = sh.hamming_candidates(reps, 3)[0].localCheckpoint()
    n_c = cands.count()
    vals["simhash.verify_ratio"] = \
        sh.verify_hamming(cands, reps, 3).count() / max(1, n_c)

    edges = (store.read("exact_edges").select("a", "b")
             .unionByName(store.read("lsh_edges").select("a", "b"))
             .unionByName(store.read("phash_edges").select("a", "b"))
             .localCheckpoint())
    with span("components.connected_components"):
        connected_components(edges).select("component_id").distinct().count()

    # ---- isolated incremental probes of the unseen batch against the
    # workload's warehouse
    with span("minhash_lsh.incremental_near_dup_edges"):
        lsh_e = ml.incremental_near_dup_edges(
            store.read("lsh_sigs").select("rep_id", "shingles", "bands"),
            probe.select("image_id", "caption"),
            index_buckets=store.read("lsh_buckets"))[0].localCheckpoint()
    with span("simhash.incremental_hamming_edges"):
        ph_e = sh.incremental_hamming_edges(
            store.read("phash_reps"),
            probe.select("image_id", "phash").filter(
                F.col("phash").isNotNull()),
            3, index_blocks=store.read("phash_blocks"))[0].localCheckpoint()
    with span("components.incremental_components_delta"):
        incremental_components_delta(
            W.effective(store), lsh_e.unionByName(ph_e),
            probe.select("image_id"))

    if wl == "build_normal":
        # pipeline.run_incremental.* and search.append_suffix_index: one
        # append of the probe batch to the built warehouse
        pipe = DedupPipeline(spark, out["build_cfg"])
        run.timed("pipeline.run_incremental",
                  lambda: pipe.run_incremental(probe), walk=wh)
        run.timed("search.append_suffix_index",
                  lambda: search.append_suffix_index(
                      store, "captions_sa",
                      probe.select("image_id", "caption")), walk=wh)
        out["inc_metrics"] = [pipe.metrics]
        W.count_delta(run, store)

    index = store.read("captions_sa")
    shards = index.count()
    vals["search.index_shards"] = shards
    ratios = []
    for term in run.info.get("terms", []):
        keep = search.surviving_shards(index, term)
        ratios.append(1.0 if keep is None else len(keep) / max(1, shards))
    vals["search.surviving_shards.ratio"] = (statistics.mean(ratios)
                                             if ratios else 1.0)
    vals["warehouse.files"] = len(L.walk(wh))
    return vals


def assemble(run, out: dict, vals: dict, jobs: dict, session_s: float,
             untraced: dict | None) -> dict:
    """Fold spans + event-log job records + raw values into the per-layer
    metric dict (every name in :func:`names`)."""
    tr = run.tracer

    def led(name: str) -> list[dict]:
        return [L.span_ledger(s, jobs) for s in tr.named(name)]

    def med(xs, default=0.0):
        return statistics.median(xs) if xs else default

    vals["session.build_session.s"] = session_s
    vals["components.delta_rows"] = run.info["components_delta_rows"][-1]
    vals["components.relabel_rows"] = \
        run.info["components_relabel_rows"][-1]
    builds = led("build") + led("layer.build")
    for m in ("jobs", "cpu_s", "shuffle_mb", "spill_mb", "task_skew"):
        vals[f"pipeline.run.{m}"] = med([b[m] for b in builds])
    vals["pipeline.run.wall_s"] = med(
        [s["wall_s"] for s in tr.named("build") + tr.named("layer.build")])
    bm = {m["stage"]: m for m in out.get("build_metrics", [])}
    for st in RUN_STAGES:
        vals[f"pipeline.stage.{st}.s"] = bm.get(st, {}).get("seconds", 0.0)
        vals[f"pipeline.stage.{st}.rows"] = bm.get(st, {}).get("rows", 0)
    inc = led("pipeline.run_incremental")
    vals["pipeline.run_incremental.jobs"] = med([i["jobs"] for i in inc])
    vals["pipeline.run_incremental.cpu_s"] = med([i["cpu_s"] for i in inc])
    vals["pipeline.run_incremental.wall_s"] = med(
        [s["wall_s"] for s in tr.named("pipeline.run_incremental")])
    for st in INC_STAGES:
        vals[f"pipeline.stage.{st}.s"] = med(
            [m["seconds"] for ms in out.get("inc_metrics", [])
             for m in ms if m["stage"] == st])
    mspans = tr.named("maintain")
    vals["pipeline.maintain_warehouse.wall_s"] = med(
        [s["wall_s"] for s in mspans])
    vals["pipeline.maintain_warehouse.jobs"] = med(
        [s["jobs"] for s in mspans])
    mw = run.writes.get("maintain", [])
    vals["pipeline.maintain_warehouse.bytes_rewritten_mb"] = med(
        [b / 2**20 for b, _ in mw])
    vals["pipeline.maintain_warehouse.stages_compacted"] = med(
        [len(a) for a in run.info.get("maintain_actions", [])])
    for name in OPERATOR_CPU:
        vals[f"{name}.cpu_s"] = med([s["busy_core_s"]
                                     for s in tr.named(name)])
    for name in OPERATOR_WALL:
        vals[f"{name}.wall_s"] = med([s["wall_s"] for s in tr.named(name)])
    probe = tr.named("minhash_lsh.incremental_near_dup_edges")
    vals["minhash_lsh.incremental_near_dup_edges.jobs"] = med(
        [s["jobs"] for s in probe])
    cc = led("components.connected_components")
    vals["components.connected_components.jobs"] = med([x["jobs"] for x in cc])
    vals["components.connected_components.shuffle_mb"] = med(
        [x["shuffle_mb"] for x in cc])
    vals["search.append_suffix_index.wall_s"] = med(
        [s["wall_s"] for s in tr.named("search.append_suffix_index")])
    vals["search.query_suffix_index.jobs"] = med(
        [s["jobs"] for s in tr.named("search")])
    # storage writes per public op
    for op, kinds in (("run", ("build", "layer.build")),
                      ("run_incremental", ("pipeline.run_incremental",)),
                      ("append_suffix_index", ("search.append_suffix_index",)),
                      ("maintain_warehouse", ("maintain",))):
        w = [x for k in kinds for x in run.writes.get(k, [])]
        vals[f"storage.{op}.bytes_written_mb"] = med([b / 2**20 for b, _ in w])
        vals[f"storage.{op}.files_written"] = med([f for _, f in w])
    # whole trace: executor CPU of the top-level spans against the host's
    # busy core-seconds over the same spans
    top = [s for s in tr.spans if s["parent"] is None]
    cpu = sum(L.span_ledger(s, jobs)["cpu_s"] for s in top)
    busy = sum(s["busy_core_s"] for s in top)
    vals["trace.cpu_coverage"] = cpu / busy if busy else 0.0
    vals["trace.overhead"] = overhead(run, untraced)
    run.info["span_ledger"] = [
        {"name": s["name"], "wall_s": round(s["wall_s"], 3),
         "busy_core_s": round(s["busy_core_s"], 2),
         **{k: round(v, 3) for k, v in L.span_ledger(s, jobs).items()}}
        for s in top]
    return vals


TIMED_KINDS = ("build", "append", "search", "lookup", "maintain")


def timed_p50(run) -> dict:
    """Median wall per timed op kind of the workload's own window."""
    return {k: statistics.median(v) for k, v in run.samples.items()
            if k in TIMED_KINDS and v}


def overhead(run, untraced: dict | None) -> float:
    """Traced ÷ untraced wall, summed over the op kinds' medians."""
    if not untraced:
        return 0.0
    mine = run.info["timed_p50"]
    kinds = [k for k in mine if k in untraced]
    den = sum(untraced[k] for k in kinds)
    return sum(mine[k] for k in kinds) / den if den else 0.0
