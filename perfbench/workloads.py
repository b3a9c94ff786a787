"""The benchmark's workloads. Each prepares its seeded inputs, warms up,
runs its timed loop against the public API, checks every operation's
output and, when traced, replays single layer calls so their cost and
counts can be read apart.

- ``batch_dedup``: closed loop, one client. ``NearDupPipeline.run`` end to
  end on a seeded corpus window, with a fresh workdir per operation. In a
  warm session on a 4-core host an operation costs ~10 s of fixed
  per-stage work plus ~2.6 ms per doc; windows are large enough for the
  per-doc part to be ~40 % of an operation, and one operation outlasts
  the benchmark's run length. Traced, it also ingests a crawl increment
  of the last corpus through ``streaming.incremental`` to measure that
  layer.
- ``fuzzy_lookup``: closed loop, one client. ``fuzzy_join`` of a small
  needle dictionary against a short-doc table.

There is no separate incremental-ingest workload: one pipeline operation
costs ~10 s of fixed per-stage work on a 4-core host, and a third
workload's runs would not fit the benchmark's time budget.
"""

from __future__ import annotations

import inspect
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from perfbench import inputs, kernels

BATCH_DOCS = 3000       # corpus docs per batch_dedup operation, donors included
BATCH_WARM_DOCS = 128
INGEST_INC_DOCS = 20    # crawl increment ingested on top of a traced corpus
HAY_DOCS = 2000
NEEDLES_PER_LOOKUP = 4
N_LOOKUPS = 64
WARM_LOOKUPS = 2        # lookups keep getting faster over the first few
MAX_TYPOS = 2           # one substituted byte costs one or two typos
ORACLE_ROWS_PER_LOOKUP = 3
MIN_RECALL = 0.99
KERNEL_SAMPLE = 128


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    cores: int

    def __post_init__(self):
        os.makedirs(self.work, exist_ok=True)

    @property
    def traced(self) -> bool:
        return self.tracer.enabled


@dataclass
class Outcome:
    latencies: list[float] = field(default_factory=list)
    items: float = 0.0          # work done by the timed operations
    busy_s: float = 0.0         # summed operation wall time
    good: int = 0               # correctness: checked items that passed ...
    checked: int = 0            # ... out of this many
    attempted: int = 0
    failed: int = 0
    notes: dict = field(default_factory=dict)   # extra report lines
    layers: dict = field(default_factory=dict)  # per-layer metrics (traced)
    loop_start_ms: float = 0.0  # epoch ms at which timed operations began

    def record(self, latency: float, items: float, ok: bool) -> None:
        self.attempted += 1
        self.latencies.append(latency)
        self.busy_s += latency
        self.items += items
        self.failed += not ok


def _op_failed(what: str) -> None:
    print(f"perfbench: {what} failed:", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def _timed_ops(ctx: Ctx, out: Outcome):
    """Numbers of the timed operations: they start until ``ctx.seconds``
    have passed and at least one has run."""
    out.loop_start_ms = time.time() * 1e3
    start = time.perf_counter()
    i = 0
    while i < 1 or time.perf_counter() - start < ctx.seconds:
        yield i
        i += 1


def _connected(pairs: list[tuple[int, int]], edges) -> list[bool]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [find(a) == find(b) for a, b in pairs]


def _dup_pairs(truth) -> list[tuple[str, str]]:
    kinds = truth.column("kind").to_pylist()
    return [(a, b) for a, b, k in zip(truth.column("a_url").to_pylist(),
                                      truth.column("b_url").to_pylist(), kinds)
            if k in ("exact", "near")]


# --------------------------------------------------------------------------
# batch_dedup
# --------------------------------------------------------------------------

def _pipeline_recall(workdir: str, truth) -> tuple[int, int]:
    """(truth exact+near pairs sharing a cluster, all such pairs), read
    from the run's checkpoints."""
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(workdir, "documents"), columns=["doc_id", "url"])
    cl = pq.read_table(os.path.join(workdir, "clusters"), columns=["doc_id", "cluster_id"])
    id_of = dict(zip(docs.column("url").to_pylist(), docs.column("doc_id").to_pylist()))
    cluster = dict(zip(cl.column("doc_id").to_pylist(), cl.column("cluster_id").to_pylist()))
    pairs = _dup_pairs(truth)
    good = sum(cluster.get(id_of.get(a)) is not None
               and cluster.get(id_of.get(a)) == cluster.get(id_of.get(b))
               for a, b in pairs)
    return good, len(pairs)


def batch_dedup(ctx: Ctx) -> Outcome:
    from frizbee_spark.pipeline import NearDupPipeline, PipelineConfig

    # a warm-up window, then the window every timed operation runs on
    windows = inputs.corpus_windows(ctx.seed, [BATCH_WARM_DOCS, BATCH_DOCS])
    dirs = []
    for i, (docs, _) in enumerate(windows):
        d = os.path.join(ctx.work, f"corpus{i}")
        os.makedirs(d)
        inputs.write(docs, os.path.join(d, "documents.parquet"))
        dirs.append(d)
    docs, truth = windows[1]

    def run(wd: str, src: str, op: int | None):
        pipe = NearDupPipeline(ctx.spark, PipelineConfig(workdir=wd))
        with ctx.tracer.span("pipeline.run", op=op, label_jobs=False):
            pipe.run(input_path=src)
        return pipe

    t0 = time.perf_counter()
    wd = os.path.join(ctx.work, "pipe-warmup")
    run(wd, dirs[0], None)
    shutil.rmtree(wd)
    out = Outcome(notes={"warmup_s": (time.perf_counter() - t0, "s", 1)})

    stage_walls: dict[str, list[float]] = {}
    last_ok = None  # workdir of the last operation, if it passed
    for i in _timed_ops(ctx, out):
        wd = os.path.join(ctx.work, f"pipe{i}")
        t0 = time.perf_counter()
        ok = False
        try:
            pipe = run(wd, dirs[1], i)
            lat = time.perf_counter() - t0
            good, n = _pipeline_recall(wd, truth)
            out.good, out.checked = out.good + good, out.checked + n
            ok = good >= MIN_RECALL * n
            if ctx.traced:
                with ctx.tracer.span("check"):
                    for r in pipe.metrics().collect():
                        stage_walls.setdefault(r["stage"], []).append(r["wall_ms"] / 1e3)
        except Exception:
            _op_failed(f"batch_dedup operation {i}")
            lat = time.perf_counter() - t0
        out.record(lat, docs.num_rows, ok)
        if last_ok is not None:
            shutil.rmtree(last_ok)
        last_ok = wd if ok else None
        if not ok:
            shutil.rmtree(wd, ignore_errors=True)

    if last_ok is not None:
        if ctx.traced:
            out.layers.update(_batch_layers(ctx, last_ok, docs, truth, stage_walls))
            layers, ok = _incremental_layers(ctx, docs, truth)
            out.layers.update(layers)
            out.attempted += 1
            out.failed += not ok
        shutil.rmtree(last_ok)
    return out


def _batch_layers(ctx: Ctx, wd: str, docs, truth, stage_walls) -> dict:
    """Replay candidate generation and verification on the last
    operation's checkpoints, and time the kernels on its corpus."""
    from pyspark.sql import functions as F

    from frizbee_spark.operators.components import connected_components
    from frizbee_spark.operators.dedup import (
        DEFAULT_DEDUP, unified_candidate_pairs, verify_pairs)
    from frizbee_spark.util import release_tracked

    s = ctx.spark
    m = {f"pipeline.{st}.wall_s": float(np.mean(stage_walls.get(st, [0.0])))
         for st in ("documents", "signatures", "span_pairs", "span_report",
                    "verified", "clusters", "canonical")}
    m["dedup.compute_signatures.docs"] = docs.num_rows
    span_pairs = s.read.parquet(os.path.join(wd, "span_report")).count()
    m["dedup.span_extents.pairs"] = span_pairs

    sigs = s.read.parquet(os.path.join(wd, "signatures"))
    documents = s.read.parquet(os.path.join(wd, "documents"))
    cand_path = os.path.join(wd, "_replay_candidates")
    with ctx.tracer.span("replay.dedup.unified_candidate_pairs"):
        unified_candidate_pairs(sigs, DEFAULT_DEDUP, include_simhash=True) \
            .write.parquet(cand_path)
    cand = s.read.parquet(cand_path)
    try:
        with ctx.tracer.span("replay.dedup.verify_pairs"):
            v = verify_pairs(cand, documents, DEFAULT_DEDUP, signatures=sigs).agg(
                F.count("*").alias("pairs_in"),
                F.sum(F.col("exact").cast("long")).alias("exact"),
                F.sum((~F.col("exact") & (F.col("score") == 0)
                       & (F.col("similarity") == 0.0)).cast("long")).alias("rejected"),
                F.sum(F.col("verified").cast("long")).alias("verified"),
            ).collect()[0]
    finally:
        release_tracked()
    pairs_in = v["pairs_in"]
    m["dedup.unified_candidate_pairs.pairs"] = pairs_in
    m["dedup.verify_pairs.pairs_in"] = pairs_in
    m["dedup.verify_pairs.exact_gate"] = v["exact"] or 0
    m["dedup.verify_pairs.hamming_reject"] = v["rejected"] or 0
    m["dedup.verify_pairs.sw_pairs"] = pairs_in - (v["exact"] or 0) - (v["rejected"] or 0)
    m["dedup.verify_pairs.accept_ratio"] = (v["verified"] or 0) / pairs_in if pairs_in else 0.0
    m["components.assign_clusters.edges"] = v["verified"] or 0
    # 1: the edge set fits the cap under which components are solved on
    # the driver; 0: the distributed star iteration runs
    cap = inspect.signature(connected_components).parameters["driver_max_edges"].default
    m["components.assign_clusters.driver_route"] = int(m["components.assign_clusters.edges"] <= cap)

    texts = [t.encode() for t in docs.column("text").to_pylist()]
    m.update(_corpus_kernels(ctx.seed, texts, truth, docs))
    return m


def _corpus_kernels(seed: int, texts: list[bytes], truth, docs) -> dict:
    """Kernels on a web-corpus sample: signatures over docs, banded SW
    over near-duplicate truth pairs plus as many chance pairs, and the
    fuzzy matcher with needles cut from the same docs."""
    rng = np.random.default_rng([seed, 9])
    pick = rng.choice(len(texts), size=min(KERNEL_SAMPLE, len(texts)), replace=False)
    sample = [texts[k] for k in pick]
    row = {u: k for k, u in enumerate(docs.column("url").to_pylist())}
    near = [(texts[row[a]], texts[row[b]]) for a, b, k in zip(
        truth.column("a_url").to_pylist(), truth.column("b_url").to_pylist(),
        truth.column("kind").to_pylist())
        if k == "near" and a in row and b in row][:KERNEL_SAMPLE // 4]
    chance = [(sample[k], sample[-1 - k]) for k in range(KERNEL_SAMPLE // 4)]
    lookups = inputs.needles(seed, [t.decode() for t in sample], 2, NEEDLES_PER_LOOKUP)
    return {
        **kernels.signatures(sample),
        **kernels.banded(near + chance),
        **kernels.match_list([n for lk in lookups for _, n, _ in lk], sample, MAX_TYPOS),
    }


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _incremental_layers(ctx: Ctx, docs, truth) -> tuple[dict, bool]:
    """Ingest one crawl increment of a batch corpus through
    ``make_batch_processor`` on top of a base state built from the rest,
    then replay the delta step one public call at a time. Returns the
    layer metrics and whether the increment's truth pairs were found."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from frizbee_spark.operators.dedup import normalize_text, with_doc_id
    from frizbee_spark.streaming.incremental import (
        incremental_dedup_batch, make_batch_processor, verify_increment)
    from frizbee_spark.util import release_tracked

    s = ctx.spark
    inc, base = inputs.split_increment(ctx.seed, docs, INGEST_INC_DOCS)
    d = os.path.join(ctx.work, "ingest")
    os.makedirs(d)
    base_p = inputs.write(base, os.path.join(d, "base.parquet"))
    inc_p = inputs.write(inc, os.path.join(d, "increment.parquet"))
    state = os.path.join(d, "state")
    process = make_batch_processor(s, state)
    with ctx.tracer.span("replay.incremental.base"):
        process(s.read.parquet(base_p), 0)
    t0 = time.perf_counter()
    with ctx.tracer.span("incremental"):
        process(s.read.parquet(inc_p), 1)
    ingest_s = time.perf_counter() - t0

    with ctx.tracer.span("check"):
        id_of = {r["url"]: r["id"] for r in s.read.parquet(base_p, inc_p).select(
            "url", F.xxhash64("url").alias("id")).collect()}
    new = set(inc.column("url").to_pylist())
    pairs = [(id_of[a], id_of[b]) for a, b in _dup_pairs(truth) if a in new or b in new]
    edges = pq.read_table(os.path.join(state, "edges"), columns=["a", "b"])
    good = sum(_connected(pairs, zip(edges.column("a").to_pylist(),
                                     edges.column("b").to_pylist())))
    recall = good / len(pairs) if pairs else 1.0
    m = {"incremental.make_batch_processor.wall_s": ingest_s,
         "incremental.pair_recall": recall,
         "incremental.state_docs": base.num_rows + inc.num_rows,
         "incremental.state_bytes": _dir_bytes(state)}

    new_docs = with_doc_id(normalize_text(s.read.parquet(inc_p), "text"), "url") \
        .select("doc_id", "url", "norm_text")
    sigs = s.read.parquet(os.path.join(state, "signatures", "batch_id=0"))
    old_docs = s.read.parquet(os.path.join(state, "docs", "batch_id=0"))
    out = os.path.join(d, "replay")
    try:
        with ctx.tracer.span("replay.incremental.incremental_dedup_batch"):
            new_sigs, cand, all_sigs = incremental_dedup_batch(new_docs, sigs)
            cand.write.parquet(os.path.join(out, "cand"))
        cand = s.read.parquet(os.path.join(out, "cand"))
        m["incremental.incremental_dedup_batch.candidates"] = cand.count()
        lookup = new_docs.select("doc_id", "norm_text").unionByName(
            old_docs.select("doc_id", "norm_text"))
        with ctx.tracer.span("replay.incremental.verify_increment"):
            verify_increment(cand, lookup, all_sigs).write.parquet(
                os.path.join(out, "edges"))
        t0 = time.perf_counter()
        with ctx.tracer.span("replay.incremental.state_write"):
            new_sigs.write.parquet(os.path.join(out, "signatures"))
            new_docs.select("doc_id", "norm_text").write.parquet(os.path.join(out, "docs"))
        m["incremental.state_write_s"] = time.perf_counter() - t0
    finally:
        release_tracked()
    shutil.rmtree(d)
    return m, recall >= MIN_RECALL


# --------------------------------------------------------------------------
# fuzzy_lookup
# --------------------------------------------------------------------------

def _oracle_agrees(needle: str, doc: str, score: int, typos: int, exact: bool) -> bool:
    """Re-score one result row with the scalar reference, on the route
    the engine takes for the pair's size."""
    from frizbee_spark.constants import LENGTH_BUCKETS, SW_MAX_CELLS
    from frizbee_spark.functions import oracle

    n, h = needle.encode(), doc.encode()
    if len(n) * len(h) > SW_MAX_CELLS or len(h) > LENGTH_BUCKETS[-1]:
        g_score, _, g_exact = oracle.match_greedy(n, h)
        return (g_score, g_exact) == (score, exact)
    o_score, matrix, o_exact = oracle.smith_waterman(n, h)
    return (o_score, oracle.typos_from_score_matrix(matrix), o_exact) == (score, typos, exact)


def _oracle_typos(needle: str, doc: str) -> int:
    from frizbee_spark.functions import oracle

    return oracle.typos_from_score_matrix(oracle.smith_waterman(needle, doc)[1])


def fuzzy_lookup(ctx: Ctx) -> Outcome:
    from frizbee_spark.constants import LENGTH_BUCKETS, MatchConfig
    from frizbee_spark.operators.fuzzy import fuzzy_join

    hay = inputs.haystack(ctx.seed, HAY_DOCS)
    path = inputs.write(hay, os.path.join(ctx.work, "haystack.parquet"))
    texts = hay.column("text").to_pylist()
    # sources stay on the DP route, where the typo budget applies
    lookups = inputs.needles(ctx.seed, texts, N_LOOKUPS + WARM_LOOKUPS, NEEDLES_PER_LOOKUP,
                             max_source_len=LENGTH_BUCKETS[-1])
    df = ctx.spark.read.parquet(path)
    cfg = MatchConfig(max_typos=MAX_TYPOS)

    def lookup(needles, op):
        with ctx.tracer.span("fuzzy", op=op):
            return fuzzy_join(df, [(nid, n) for nid, n, _ in needles],
                              text_col="text", config=cfg).collect()

    t0 = time.perf_counter()
    for needles in lookups[N_LOOKUPS:]:
        lookup(needles, None)
    out = Outcome(notes={"warmup_s": (time.perf_counter() - t0, "s", 1)})

    results = []
    for i in _timed_ops(ctx, out):
        needles = lookups[i % N_LOOKUPS]
        t0 = time.perf_counter()
        try:
            rows = lookup(needles, i)
        except Exception:
            _op_failed(f"lookup {i}")
            rows = None
        results.append((needles, rows, time.perf_counter() - t0))

    rng = np.random.default_rng([ctx.seed, 5])
    for needles, rows, lat in results:
        ok = rows is not None
        if ok:
            # each needle's source doc is returned iff the reference puts
            # it within the typo budget
            found = {(r["needle_id"], r["doc_id"]) for r in rows}
            wrong = [(nid, n, src) for nid, n, src in needles
                     if ((nid, src) in found) != (_oracle_typos(n, texts[src]) <= MAX_TYPOS)]
            if wrong:
                print(f"perfbench: lookup disagrees with the reference on its "
                      f"source docs: {wrong}", file=sys.stderr)
            ok = not wrong
            text_of = {nid: n for nid, n, _ in needles}
            sample = rng.choice(len(rows), size=min(ORACLE_ROWS_PER_LOOKUP, len(rows)),
                                replace=False) if rows else []
            agree = sum(_oracle_agrees(text_of[rows[k]["needle_id"]], texts[rows[k]["doc_id"]],
                                       rows[k]["score"], rows[k]["typos"], rows[k]["exact"])
                        for k in sample)
            out.good, out.checked = out.good + agree, out.checked + len(sample)
            ok = ok and agree == len(sample)
        out.record(lat, NEEDLES_PER_LOOKUP * HAY_DOCS, ok)

    if ctx.traced:
        sample = [t.encode() for t in texts[:KERNEL_SAMPLE * 4]]
        pairs = [(sample[k], sample[-1 - k]) for k in range(KERNEL_SAMPLE // 2)]
        out.layers.update({
            **kernels.signatures(sample),
            **kernels.banded(pairs),
            **kernels.match_list([n for lk in lookups[:4] for _, n, _ in lk],
                                 sample, MAX_TYPOS),
        })
    return out


WORKLOADS = {
    "batch_dedup": batch_dedup,
    "fuzzy_lookup": fuzzy_lookup,
}
