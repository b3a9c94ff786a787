"""Host-graph centrality — fixed-point integer PageRank on DataFrames.

Web-corpus curation uses link centrality as a host-quality prior
(Common Crawl publishes harmonic-centrality host rankings for exactly
this; spam hosts earn few in-links from reputable hosts). PageRank is
also THE canonical iterative Spark workload, so this operator doubles
as the repo's reference pattern for iterative DataFrame jobs: persist
per iteration, release the previous cache once the next materializes,
one scalar action per iteration (the dangling mass), joins/aggregates
left to Catalyst.

Determinism discipline: ranks are **fixed-point integers** (units of
``1/scale`` of the total mass), every step is long arithmetic
(``DIV``, ``*``, ``+``) — integer sums are order-independent, unlike
float sums, so the result is bit-identical across partitionings,
engines, and runs. That makes a 10-iteration PageRank exactly
expressible as unrolled SQL CTEs, giving it a full DuckDB value-hash
oracle — rare for an iterative algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..util import tracked_local_checkpoint, tracked_persist


def host_pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping_pct: int = 85,
    scale: int = 10**12,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 8,
) -> DataFrame:
    """PageRank over a host→host edge list; returns (host, rank_u).

    Semantics (mirrored 1:1 by the unrolled-CTE oracle):

      - edges are deduplicated and self-loops dropped (host-level
        centrality counts each host pair once);
      - nodes = union of sources and destinations; N = |nodes|;
      - every node starts at ``base = scale DIV N`` units;
      - per iteration, with integer division throughout::

            contrib(e)  = rank(src) DIV outdeg(src)        per edge
            in(v)       = sum of contribs into v
            dangling    = sum of rank over zero-outdeg nodes
            rank'(v)    = ( (100 - d) * base
                            + d * (in(v) + dangling DIV N) ) DIV 100

        i.e. the classic damped update with the dangling mass
        redistributed uniformly, in units of ``1/scale``. Floor
        division leaks mass monotonically (bounded by N + |E| units
        per iteration — parts in 10^12 at web scale); the leak is
        deterministic and identical in the oracle, which is the point.

    Plan/scale shape: the edge list joins the current ranks by src and
    aggregates contributions by dst — one join + one map-side-combined
    aggregate per iteration, both on the (host) key; hot hosts are
    HEAVY IN-DEGREE rows, which partial aggregation collapses before
    the shuffle (the classic reason PageRank aggregates, never
    groups-then-collects). The rank frame (one small row per host —
    ~10^8 rows for the whole web, KBs per million hosts) is persisted
    each iteration and the previous cache released as soon as the next
    materializes, so lineage stays one-iteration deep in storage and
    the only driver traffic is the one dangling-mass scalar per
    iteration. Overflow-safe by construction: every intermediate is
    ≤ damping_pct * scale < 2^63.

    Lineage truncation: an iterative plan nests the previous iteration's
    plan, so after tens of iterations Catalyst's own tree recursion (not
    the data) becomes the limit. Every ``checkpoint_every`` iterations
    the rank frame is ``localCheckpoint``-ed — materialized and cut from
    its lineage (the standard cadence for iterative DataFrame jobs; on a
    real cluster with executor churn, swap in reliable ``checkpoint()``
    against the checkpoint dir — same call site, stronger storage).
    A checkpoint is dropped once a later one has materialized; the last
    one is released with the caller's ``release_tracked``.

    The returned frame is live (not persisted); callers owning a unit
    of work release intermediates via ``release_tracked`` as usual.
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    if not (0 <= damping_pct <= 100):
        raise ValueError(f"damping_pct must be in [0, 100], got {damping_pct}")
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = tracked_persist(
        e.select(F.col("src").alias("host"))
        .union(e.select("dst"))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank_u", F.lit(0).cast("long"))
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    edges_deg = tracked_persist(e.join(deg, "src"))
    base = scale // n
    d = damping_pct
    ranks = tracked_persist(
        nodes.withColumn("rank_u", F.lit(base).cast("long")))
    prev = None
    chain: list[DataFrame] = []
    for it in range(n_iter):
        # one scalar action: dangling mass = total held by sink hosts.
        # Materializes the persisted current ranks, so the previous
        # iteration's cache can be dropped right after.
        dangling = (
            ranks.join(deg, ranks.host == deg.src, "left_anti")
            .agg(F.coalesce(F.sum("rank_u"), F.lit(0)).alias("s"))
            .collect()[0]["s"]
        )
        if prev is not None:
            prev.unpersist()
        share = dangling // n
        contribs = (
            edges_deg.join(ranks, edges_deg.src == ranks.host)
            .select(
                F.col("dst").alias("host"),
                F.expr("rank_u DIV outdeg").alias("c"),
            )
            .groupBy("host")
            .agg(F.sum("c").alias("in_sum"))
        )
        nxt = nodes.join(contribs, "host", "left").select(
            "host",
            (
                F.lit((100 - d) * base)
                + F.lit(d) * (F.coalesce(F.col("in_sum"), F.lit(0))
                              + F.lit(share))
            ).cast("long").alias("_num"),
        ).select("host", F.expr("_num DIV 100").alias("rank_u"))
        if (it + 1) % checkpoint_every == 0:
            nxt = tracked_local_checkpoint(nxt, chain)
        prev, ranks = ranks, tracked_persist(nxt)
    return ranks
