"""The two closed-loop, single-client workloads.

build_normal  one DedupPipeline(fast=False).run() over a pre-written parquet
              corpus on an empty warehouse, then a serve pass (substring
              queries and dupe-list lookups) and one maintain_warehouse
              pass.
append_serve  rounds against a base warehouse: one append (run_incremental
              plus search.append_suffix_index of the same batch), then a
              serve pass on what the append returned, then one
              maintain_warehouse pass, which folds the append.

Each timed call is one span (ledger.Tracer) and one sample; every call's
output is checked against corpus.Reference or a driver-side substring scan
outside the clock. A failed or wrong call counts in ``failed``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

import corpus as C
import ledger as L

SETUP_REPS = 3          # set-up runs per process; setup_s reports the median
BUILD_GROUPS = 200      # build corpus: 2000 rows
LOOKUPS = 6             # per serve pass (append_serve: half batch ids)
# append_serve layout. The base is fixed (it is built once per checkout and
# source tree, see base_cache); the seed picks the batches.
BASE_G0, BASE_GROUPS, BASE_SEED, HELD_OUT = 424_242, 200, 7, 0.2
NEW_GROUPS = 40
BATCH_OLD, BATCH_NEW = 100, 100   # batch rows from base / unseen groups
MAX_ROUNDS = 2
PROBE_GROUPS = 10       # traced layer pass: an unseen 100-row probe batch


class Run:
    """State of one benchmark process: session, tracer, samples, checks."""

    def __init__(self, spark, tracer, workdir: str, seed: int,
                 seconds: float, trace: bool) -> None:
        self.spark = spark
        self.tracer = tracer
        self.workdir = workdir
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rng = np.random.default_rng(seed)
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.load: dict[str, list[dict]] = {}
        self.writes: dict[str, list[tuple[int, int]]] = {}
        self.info: dict = {}
        self.errors: list[str] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    def timed(self, kind: str, fn, walk: str | None = None):
        """Run one operation as a span and a sample; None on exception.
        ``walk``: in traced runs, the directory whose new files the
        operation's storage writes are counted from (walked outside the
        span)."""
        self.attempted += 1
        before = L.walk(walk) if (self.trace and walk) else None
        try:
            with self.tracer.span(kind) as s:
                out = fn()
        except Exception:  # noqa: BLE001 — a failed op is a counted result
            self.failed += 1
            self.errors.append(f"{kind}: {traceback.format_exc()}")
            print(self.errors[-1], file=sys.stderr)
            return None
        if before is not None:
            self.writes.setdefault(kind, []).append(
                L.written(before, L.walk(walk)))
        self.samples.setdefault(kind, []).append(s["wall_s"])
        self.load.setdefault(kind, []).append(
            {"wall_s": round(s["wall_s"], 4),
             "busy_core_s": round(s["busy_core_s"], 2),
             "steal_pct": round(s["steal_pct"], 2), "jobs": s["jobs"]})
        return out

    def check(self, ok: bool, what: str) -> None:
        """Count a wrong result of an already-attempted op as failed."""
        if not ok:
            self.failed += 1
            self.errors.append(f"mismatch: {what}")
            print(f"mismatch: {what}", file=sys.stderr)

    def setup(self, fn) -> object:
        """Run ``fn`` SETUP_REPS times, record the median wall, return the
        last result."""
        walls, out = [], None
        for k in range(SETUP_REPS):
            t0 = time.perf_counter()
            out = fn(k)
            walls.append(time.perf_counter() - t0)
        self.info["setup_reps_s"] = [round(w, 3) for w in walls]
        self.info["setup_median_s"] = statistics.median(walls)
        return out


# ------------------------------------------------------------ serving ops

def query_terms(rng, docs: dict[str, str]) -> list[str]:
    """The query-term mix, in seed order: two common vocabulary words (each
    in ~17% of captions), two rare two-word phrases taken from indexed
    captions, an absent term, and a substring of the flood caption (~10%
    of rows)."""
    from dupers_spark.sources import datagen

    vocab = datagen.VOCAB
    plain = sorted(c for c in set(docs.values())
                   if c != datagen.FLOOD_CAPTION)
    terms = [vocab[int(i)] for i in rng.choice(len(vocab), 2, replace=False)]
    for _ in range(2):
        words = plain[int(rng.integers(len(plain)))].split()
        j = int(rng.integers(len(words) - 1))
        terms.append(f"{words[j]} {words[j + 1]}")
    terms += [f"Absent {vocab[int(rng.integers(len(vocab)))]}",
              "the the the"]
    return [terms[int(i)] for i in rng.permutation(len(terms))]



def dupe_list(assign, iid: str) -> list[str]:
    """Members of ``iid``'s component, from an assignment frame."""
    from pyspark.sql import functions as F

    me = assign.filter(F.col("image_id") == iid).select("component_id")
    return [r[0] for r in assign.join(me, "component_id")
            .select("image_id").collect()]


def serve(run: Run, store, assign, docs: dict[str, str], ref,
          lookup_ids: list[str]) -> None:
    """One serve pass: the query-term mix over the persisted suffix index,
    then dupe-list lookups; each result checked outside the clock."""
    from dupers_spark.operators import search

    terms = query_terms(run.rng, docs)
    run.info.setdefault("terms", []).extend(terms)
    for term in terms:
        got = run.timed("search", lambda: [
            r[0] for r in search.query_suffix_index(
                store.read("captions_sa"), term).collect()])
        if got is not None:
            want = {i for i, c in docs.items() if term in c}
            run.check(set(got) == want and len(got) == len(want),
                      f"search {term!r}: {len(got)} docs, want {len(want)}")
    for iid in lookup_ids:
        got = run.timed("lookup", lambda: dupe_list(assign, iid))
        if got is not None:
            run.check(set(got) == ref.members(iid),
                      f"lookup {iid}: {len(got)} members, "
                      f"want {len(ref.members(iid))}")


def maintain(run: Run, cfg) -> None:
    from dupers_spark.plans.pipeline import maintain_warehouse

    recs = run.timed("maintain", lambda: maintain_warehouse(run.spark, cfg),
                     walk=cfg.warehouse)
    if recs is not None:
        acted = [r for r in recs if r["action"] != "ok"]
        run.info.setdefault("maintain_actions", []).append(
            [f"{r['stage']}:{r['action']}" for r in acted])


def effective(store):
    """The served assignment, composed from the public components API:
    base ∪ delta with the relabel log applied."""
    from dupers_spark.operators.components import apply_relabel

    eff = store.read("components").select("image_id", "component_id")
    if store.exists("components_delta"):
        eff = eff.unionByName(store.read("components_delta")
                              .select("image_id", "component_id"))
    if store.exists("components_relabel"):
        eff = apply_relabel(eff, store.read("components_relabel"))
    return eff


def count_delta(run: Run, store) -> None:
    """Traced runs: rows of the components delta and relabel log right
    after an append (extra jobs, outside every span)."""
    for stage in ("components_delta", "components_relabel"):
        n = store.read(stage).count() if store.exists(stage) else 0
        run.info.setdefault(f"{stage}_rows", []).append(n)


def check_assignment(run: Run, assign, ref, what: str) -> dict:
    """The whole assignment against the reference partition; → it."""
    got = {r[0]: r[1] for r in assign.collect()}
    known = [i for i in got if i in ref.parent]
    bad = C.same_partition({i: got[i] for i in known}, ref.partition(known))
    stray = len(got) - len(known) + len(set(ref.parent) - set(got))
    run.check(bad == 0 and stray == 0,
              f"{what}: {bad} ids in a different cluster, "
              f"{stray} ids missing or unknown")
    return got


# ------------------------------------------------------------ build_normal

def build_normal(run: Run) -> dict:
    from dupers_spark.operators import search
    from dupers_spark.plans.pipeline import DedupPipeline, PipelineConfig
    from dupers_spark.sources.storage import StageStore

    g0 = int(run.rng.integers(1, C.GROUP_SPAN - BUILD_GROUPS))
    indices = range(g0 * 10, (g0 + BUILD_GROUPS) * 10)

    def set_up(k: int):
        rows = C.gen_rows(indices)
        path = run.path(f"corpus{k}")
        nbytes = C.write_parquet(rows, os.path.join(path, "part-0.parquet"))
        images = run.spark.read.parquet(path)
        n = images.count()
        # the search index lives in the otherwise empty warehouse, as in
        # append_serve; run() never touches it
        template = run.path(f"template{k}")
        StageStore(run.spark, template).write(
            "captions_sa",
            search.build_suffix_index(images.select("image_id", "caption")))
        return rows, images, n, nbytes, template, path

    rows, images, n, nbytes, template, corpus_path = run.setup(set_up)
    run.info.update(window=[indices.start, indices.stop], rows=n)
    ref = C.Reference(decode=True)
    ref.add(rows)
    docs = {r["image_id"]: r["caption"] for r in rows}
    ids = [r["image_id"] for r in rows]

    t0 = time.perf_counter()
    cycle, out = 0, {}
    while cycle == 0 or time.perf_counter() - t0 < run.seconds:
        wh = run.path(f"wh{cycle}")
        shutil.copytree(template, wh)
        cfg = PipelineConfig(warehouse=wh, fast=False)
        pipe = DedupPipeline(run.spark, cfg)
        assign = run.timed("build", lambda: pipe.run(images), walk=wh)
        if assign is None:
            break
        run.samples.setdefault("images_per_s", []).append(
            n / run.samples["build"][-1])
        out.setdefault("build_metrics", pipe.metrics)
        out.setdefault("build_cfg", cfg)
        out["bytes_per_input_byte"] = L.tree_bytes(wh) / nbytes
        run.info["planted_splits"] = C.planted_splits(
            check_assignment(run, assign, ref, "build"))
        picks = run.rng.choice(len(ids), LOOKUPS, replace=False)
        serve(run, StageStore(run.spark, wh), assign, docs, ref,
              [ids[int(i)] for i in picks])
        maintain(run, cfg)
        cycle += 1
    out.update(corpus_path=corpus_path, rows=rows, warehouse=wh,
               probe_after=(g0 + BUILD_GROUPS) * 10)
    return out


# ------------------------------------------------------------ append_serve

def base_layout() -> tuple[list[int], list[int]]:
    """(base row indices, held-out rows of base groups) — fixed."""
    rng = np.random.default_rng(BASE_SEED)
    idx = np.arange(BASE_G0 * 10, (BASE_G0 + BASE_GROUPS) * 10)
    held = np.zeros(len(idx), dtype=bool)
    held[rng.choice(len(idx), int(len(idx) * HELD_OUT), replace=False)] = True
    return idx[~held].tolist(), idx[held].tolist()


def source_key(root: str) -> str:
    """Content hash of the program's sources plus the base layout: the base
    warehouse cache is valid for exactly one source tree."""
    h = hashlib.sha256(repr((BASE_G0, BASE_GROUPS, BASE_SEED, HELD_OUT))
                       .encode())
    src = os.path.join(root, "dupers_spark")
    for dirpath, dirs, files in os.walk(src):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, src).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def base_cache(run: Run, root: str, warehouse: str, base_idx) -> str:
    """The base warehouse for this source tree, built on first use by the
    code under test (DedupPipeline.run plus build_suffix_index) and kept
    under the work directory. It is built AT ``warehouse`` (stage markers
    hash the configured path) and then moved into the cache."""
    from dupers_spark.operators import search
    from dupers_spark.plans.pipeline import DedupPipeline, PipelineConfig
    from dupers_spark.sources.storage import StageStore

    cache = os.path.join(os.path.dirname(warehouse), "cache",
                         f"base-{source_key(root)}")
    if os.path.isdir(cache):
        return cache
    t0 = time.perf_counter()
    shutil.rmtree(warehouse, ignore_errors=True)
    corpus_dir = warehouse + "-corpus"
    shutil.rmtree(corpus_dir, ignore_errors=True)
    C.write_parquet(C.gen_rows(base_idx),
                    os.path.join(corpus_dir, "part-0.parquet"))
    images = run.spark.read.parquet(corpus_dir)
    DedupPipeline(run.spark, PipelineConfig(warehouse=warehouse)).run(images)
    StageStore(run.spark, warehouse).write(
        "captions_sa",
        search.build_suffix_index(images.select("image_id", "caption")))
    tmp = cache + f".tmp{os.getpid()}"
    os.makedirs(tmp)
    os.rename(warehouse, os.path.join(tmp, "warehouse"))
    os.rename(corpus_dir, os.path.join(tmp, "corpus"))
    os.rename(tmp, cache)
    run.info["base_build_s"] = round(time.perf_counter() - t0, 3)
    return cache


def batch_layout(run: Run, held: list[int]) -> list[list[int]]:
    """Seeded batches: BATCH_OLD held-out rows of base groups plus
    BATCH_NEW rows of an unseen window, each side in seed order (so new
    groups also straddle batches)."""
    while True:
        g1 = int(run.rng.integers(1, C.GROUP_SPAN - NEW_GROUPS))
        if g1 + NEW_GROUPS <= BASE_G0 or g1 >= BASE_G0 + BASE_GROUPS:
            break
    new = run.rng.permutation(
        np.arange(g1 * 10, (g1 + NEW_GROUPS) * 10)).tolist()
    old = run.rng.permutation(np.array(held)).tolist()
    run.info["new_window"] = [g1 * 10, (g1 + NEW_GROUPS) * 10]
    return [old[b * BATCH_OLD:(b + 1) * BATCH_OLD]
            + new[b * BATCH_NEW:(b + 1) * BATCH_NEW]
            for b in range(MAX_ROUNDS)]


def append_serve(run: Run, root: str) -> dict:
    from dupers_spark.operators import search
    from dupers_spark.plans.pipeline import DedupPipeline, PipelineConfig
    from dupers_spark.sources.storage import StageStore

    # a relative path: the stage markers hash it, and the cached base must
    # match wherever the checkout lives
    warehouse = os.path.join(".perfbench_work", "append", "warehouse")
    base_idx, held = base_layout()
    batches_idx = batch_layout(run, held)

    def set_up(k: int):
        batch_rows = [C.gen_rows(b) for b in batches_idx]
        paths, nbytes = [], []
        for b, rows in enumerate(batch_rows):
            p = run.path(f"batches{k}", f"b{b}")
            nbytes.append(C.write_parquet(rows,
                                          os.path.join(p, "part-0.parquet")))
            paths.append(p)
        cache = base_cache(run, root, warehouse, base_idx)
        shutil.rmtree(warehouse, ignore_errors=True)
        shutil.copytree(os.path.join(cache, "warehouse"), warehouse)
        base_path = os.path.join(cache, "corpus")
        base_bytes = L.tree_bytes(base_path)
        run.spark.read.parquet(paths[0]).count()   # input load
        return batch_rows, paths, nbytes, base_path, base_bytes

    batch_rows, paths, nbytes, base_path, base_bytes = run.setup(set_up)
    base_rows = C.read_rows(base_path)
    ref = C.Reference()
    ref.add(base_rows)
    docs = {r["image_id"]: r["caption"] for r in base_rows}
    cfg = PipelineConfig(warehouse=warehouse)
    store = StageStore(run.spark, warehouse)
    base_ids = [r["image_id"] for r in base_rows]

    t0 = time.perf_counter()
    rnd, assign, inc_metrics, touching = 0, None, [], []
    in_bytes = base_bytes
    while rnd < MAX_ROUNDS and (rnd == 0
                                or time.perf_counter() - t0 < run.seconds):
        batch = run.spark.read.parquet(paths[rnd])
        pipe = DedupPipeline(run.spark, cfg)

        def append():
            w0 = L.walk(warehouse) if run.trace else None
            with run.tracer.span("pipeline.run_incremental"):
                out = pipe.run_incremental(batch)
            w1 = L.walk(warehouse) if run.trace else None
            with run.tracer.span("search.append_suffix_index"):
                search.append_suffix_index(
                    store, "captions_sa", batch.select("image_id", "caption"))
            if run.trace:
                run.writes.setdefault("pipeline.run_incremental", []) \
                    .append(L.written(w0, w1))
                run.writes.setdefault("search.append_suffix_index", []) \
                    .append(L.written(w1, L.walk(warehouse)))
            return out

        assign = run.timed("append", append)
        if assign is None:
            break
        run.samples.setdefault("images_per_s", []).append(
            len(batch_rows[rnd]) / run.samples["append"][-1])
        if run.trace:
            count_delta(run, store)
        inc_metrics.append(pipe.metrics)
        in_bytes += nbytes[rnd]
        before = ref.touching
        ref.add(batch_rows[rnd])
        touching.append((ref.touching - before) / len(batch_rows[rnd]))
        docs.update({r["image_id"]: r["caption"] for r in batch_rows[rnd]})
        half = LOOKUPS // 2
        picks = ([batch_rows[rnd][int(i)]["image_id"] for i in
                  run.rng.choice(len(batch_rows[rnd]), half, replace=False)]
                 + [base_ids[int(i)] for i in
                    run.rng.choice(len(base_ids), LOOKUPS - half,
                                   replace=False)])
        serve(run, store, assign, docs, ref, picks)
        maintain(run, cfg)
        rnd += 1
    run.info.update(rounds=rnd, touching_share=[round(t, 3) for t in touching])
    if assign is not None:
        # the served state (after the last fold) against the reference over
        # base + every appended row, outside the clock
        check_assignment(run, effective(store), ref, "append_serve end state")
    return {"bytes_per_input_byte": L.tree_bytes(warehouse) / in_bytes,
            "inc_metrics": inc_metrics, "corpus_path": base_path,
            "rows": base_rows, "warehouse": warehouse,
            "probe_after": (BASE_G0 + BASE_GROUPS) * 10}
