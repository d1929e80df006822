"""Graph ranking operators (extension, SURVEY section 7.7).

PageRank over an edge DataFrame — the Common-Crawl-style host/page
quality rank a web-corpus pipeline feeds into selection (harmonic
centrality / PageRank are the standard URL-level quality priors next
to the text-level classifiers in ``operators/quality.py``).

**Integer-scaled arithmetic for cross-engine bit-exactness.**  Textbook
PageRank sums floating-point contributions, whose value depends on
reduction order — un-oracle-able across engines.  Here ranks live in
integer micro-units (``scale`` per node initially) and each update is

    r'(v) = base [+ dangling share] + SUM over in-edges u->v of
            (num * r(u)) DIV (den * outdeg(u))

with ``damping = num/den`` (default 17/20 = 0.85) and ``base =
scale * (den - num) DIV den``.  Every operation is BIGINT arithmetic:
integer sums are associative, so Spark's parallel aggregation and
DuckDB's serial one produce THE SAME NUMBERS, and the oracle unrolls
the iterations as plain CTEs.  The floor per contribution loses < 1
micro-unit per in-edge — at scale=10^9 a relative error < 10^-9 per
term vs the real-valued recurrence, far below any ranking use.

Semantics notes:
- fixed ``iters`` (deterministic, SQL-unrollable), no convergence test;
- dangling nodes (no out-edges): ``dangling="leak"`` (default) lets
  their mass evaporate — the simplified variant most link-spam
  literature uses, fine for symmetrized graphs which have no sinks;
  ``dangling="redistribute"`` is the teleport-corrected textbook form:
  each iteration aggregates the total rank sitting on sink nodes (one
  1-row BIGINT aggregate) and hands every node an equal integer share
  ``(num * dangling_mass) DIV (den * n_nodes)`` on top of ``base`` —
  still pure associative integer arithmetic, so the CTE oracle
  unrolls identically;
- overflow bound: ``num * total_mass`` must fit in int64, i.e.
  ``n_nodes * scale * num < 2^63`` — ASSERTED at the driver (the node
  count is materialized once, and it is also what the redistribute
  share needs); at 10^9 nodes drop ``scale`` to 10^6.

Scale shape: per iteration one equi-join of the edge list with the
current rank table (both keyed on the source node — AQE picks
broadcast while ranks fit, sort-merge beyond) plus one
partial-aggregated groupBy on the destination; the redistribute
variant adds one left-semi + 1-row sum (metadata traffic) per round;
the rank table is pinned every other round so the plan stays shallow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloud_optimized_data_pipelines_spark.batching import pin


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    scale: int = 1_000_000_000,
    damping_num: int = 17,
    damping_den: int = 20,
    dangling: str = "leak",
) -> DataFrame:
    """Integer-scaled PageRank; see module docstring.

    Returns (node, rank) with rank in micro-units of ``scale``;
    ``rank / scale`` is the conventional per-node rank value.
    ``dangling``: "leak" (sink mass evaporates) or "redistribute"
    (teleport-corrected equal integer share per node).
    """
    if dangling not in ("leak", "redistribute"):
        raise ValueError(f"dangling must be 'leak' or 'redistribute', got {dangling!r}")
    # the edge and node sets are read by the node count, the loop
    # invariants below and every round; unpinned, each read replays
    # the distinct over the input edges
    e = pin(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    )
    nodes = pin(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # One count() action: enforces the int64 bound (total mass is
    # ~n*scale and every contribution is multiplied by damping_num
    # before the DIV) and feeds the redistribute share's denominator.
    n_nodes = nodes.count()
    if n_nodes * scale * damping_num >= 2**63:
        raise ValueError(
            f"int64 overflow risk: n_nodes({n_nodes}) * scale({scale}) * "
            f"damping_num({damping_num}) >= 2^63; lower `scale` "
            "(e.g. 10^6 at 10^9 nodes)"
        )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # loop invariants: the edge |x| outdeg join and the sink-node set
    # are read by every round; pinned once, no round re-joins or
    # re-anti-joins them (one shuffle join saved per iteration; deg
    # attached before vs after the rank join is the same integer per
    # edge, so every contribution is unchanged).
    edeg = pin(e.join(outdeg, "src"))
    sinks = (
        pin(
            nodes.join(
                outdeg.select(F.col("src").alias("node")), "node", "left_anti"
            )
        )
        if dangling == "redistribute"
        else None
    )
    base = scale * (damping_den - damping_num) // damping_den
    ranks = nodes.withColumn("r", F.lit(scale).cast("long"))
    for it in range(iters):
        contrib = (
            edeg.join(ranks, edeg["src"] == ranks["node"])
            .select(
                F.col("dst"),
                F.expr(
                    f"({damping_num} * r) DIV ({damping_den} * deg)"
                ).alias("c"),
            )
        )
        inflow = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        nxt = nodes.join(inflow, nodes["node"] == inflow["dst"], "left")
        if sinks is not None:
            # total rank on sink nodes this round: a 1-row BIGINT
            # aggregate (associative), broadcast back as a scalar
            dm = (
                ranks.join(sinks, "node", "left_semi")
                .agg(
                    F.coalesce(F.sum("r"), F.lit(0))
                    .cast("long")
                    .alias("_dm")
                )
            )
            nxt = nxt.crossJoin(dm).withColumn(
                "_share",
                F.expr(
                    f"({damping_num} * _dm) DIV ({damping_den} * {n_nodes}L)"
                ),
            )
            share = F.col("_share")
        else:
            share = F.lit(0).cast("long")
        ranks = nxt.select(
            "node",
            (F.lit(base) + share + F.coalesce(F.col("s"), F.lit(0)))
            .cast("long")
            .alias("r"),
        )
        # pinned every OTHER round: a two-round plan is still shallow,
        # and each eager pin is one job barrier; the final round stays
        # lazy (the caller's action computes it).
        if (it + 1) % 2 == 0 and (it + 1) < iters:
            ranks = pin(ranks)
    return ranks.select("node", F.col("r").alias("rank"))


def label_propagation(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Deterministic SYNCHRONOUS label propagation (Raghavan 2007's
    community detection, made engine-checkable): every node starts as
    its own label; each round every node adopts the most frequent
    label among its in-neighbors (edge multiplicity = weight), ties
    broken by SMALLEST label — a total order, so the fixed iteration
    count unrolls into a plain-CTE oracle with zero randomness (the
    classic formulation's random visit order is exactly what makes it
    un-oracle-able; synchronous min-tie-break is the standard
    deterministic variant).

    Scale shape per round: the edge list — often an expensive derived
    subquery — and the node set are pinned once before the loop
    (unpinned, every round's join replays the edge derivation, plus
    twice for the node union — 5x at 3 rounds);
    each round is then one edge->label equi-join, a (node,label)
    partial-agg count, and a per-node ``min_by`` argmax over the
    ``(-c, label)`` key — the same max-count/min-label total order as
    the previous row_number window, but partial-aggregable and
    sort-free.  ``iters`` is fixed and small (communities stabilize
    in O(log n) rounds; at 100 TB run rounds until the label-change
    count converges, pinning like ``pagerank``)."""
    edges = pin(edges.select("src", "dst"))
    nodes = pin(
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    labels = nodes.withColumn("label", F.col("node"))
    for _ in range(iters):
        msgs = edges.join(
            labels.withColumnRenamed("node", "src"), "src"
        ).select(F.col("dst").alias("node"), "label")
        counts = msgs.groupBy("node", "label").agg(F.count("*").alias("c"))
        best = counts.groupBy("node").agg(
            F.min_by(
                "label", F.struct((-F.col("c")).alias("nc"), F.col("label"))
            ).alias("label")
        )
        labels = nodes.join(best, "node", "left").select(
            "node", F.coalesce("label", "node").alias("label")
        )
    return labels
