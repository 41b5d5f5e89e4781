"""Distributed connected components for near-duplicate clustering.

The canonical fuzzy-dedup pipeline at corpus scale is: candidate
pairs (MinHash-LSH / blocked Jaccard / embedding near-dup) →
**connected components** → keep one representative per cluster.
Spark has no built-in CC, so this implements hash-min label
propagation with pointer jumping (the MapReduce-era technique of
Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14) in pure DataFrame ops:

- each round does ``label(v) ← min(label(v), min of neighbors'
  labels)`` — a single equi-join shuffle keyed on the edge endpoint,
  map-side-combined by the ``min`` partial aggregate;
- then pointer jumping ``label(v) ← label(label(v))`` — doubles the
  propagation distance per round, so convergence is O(log diameter)
  rounds instead of O(diameter);
- every round is one eager checkpoint (``stage._round``) that
  truncates lineage, so the logical plan stays O(1) across iterations
  (iterative joins otherwise stack exponentially in Catalyst), and
  releases the previous round's blocks;
- the fixpoint (every node labelled with its component's minimum
  node id) is unique and independent of partitioning or iteration
  order, so results are deterministic and DuckDB-oracle-checkable
  (``WITH RECURSIVE`` reachability computes the same fixpoint).

Scale: each round shuffles O(|E|) rows on a single long key; near-dup
graphs are forests of tiny cliques (diameter ~2-3), so 2-4 rounds
close even at 100 TB.  The convergence check is an exact sum of the
labels, observed on the round's own checkpoint — no extra job.

The reference has no graph operators (SURVEY.md §2.3: joins absent;
parents derived by prefix slicing, extractors.py:171-175) — this is
an engine-native extension for the LLM-data-pipeline north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.stage import _release, _round, _stage


def co_purchase_edges(
    lineitem: DataFrame, min_co: int = 2, keep_weight: bool = False
) -> DataFrame:
    """Undirected co-purchase part graph: edges (p1 < p2) between
    parts that co-occur in at least ``min_co`` distinct orders
    (``keep_weight`` keeps the co-occurrence count as ``co``).

    This is THE shared subtree of the whole g_* analytics family —
    distinct (order, part) pairs → self-join on order → pair rollup.
    Both stages are staged:

    - ``op`` (the distinct pair list) feeds both sides of the
      self-join; unstaged, Catalyst plans two full lineitem scans +
      two distinct rollups per edge build (the canonicalized subtrees
      differ in projection, so ReuseExchange cannot share them);
    - ``edges`` feeds 2-5 consumers in every caller (adjacency both
      ways, degree rollups, triangle/two-hop joins, global counts);
      unstaged, EVERY consumer re-runs the scan → distinct →
      self-join → rollup pipeline — the r8 plan sweep measured up to
      20 parquet scans / 42 exchanges for one query (g_rich_club).

    Staged, the corpus is scanned once, the pair rollup runs once,
    and downstream graph algebra reads stored part-pair rows.  At
    100 TB that converts the family's dominant cost from
    O(consumers) full scans+shuffles to O(1).
    """
    op = _stage(lineitem.select("l_orderkey", "l_partkey").distinct())
    a = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1"))
    b = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p2"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("co"))
        .filter(F.col("co") >= min_co)
    )
    if not keep_weight:
        edges = edges.select("p1", "p2")
    return _stage(edges)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node of an undirected edge list with its
    component's minimum node id.

    Returns ``(node, component)`` — one row per node that appears in
    at least one edge.  Node ids must be castable to ``long``.
    """
    e = edges.select(F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b"))
    # Both directions plus one self-loop per node, in the (static,
    # reused-every-round) edge table: the hash-min join then produces
    # min(own label, neighbor labels) directly — no separate
    # labels-vs-neighbor_min join per round.  Materialize once; its
    # self-loops are the node list, so the first labels read the
    # checkpoint, not the input edges.
    sym, _ = _round(
        e.union(e.select("b", "a"))
        .union(e.select("a", F.col("a").alias("b")))
        .union(e.select(F.col("b").alias("a"), "b"))
        .distinct()
    )
    # Labels only ever decrease, so the exact (decimal — no long
    # overflow at any scale) sum of labels strictly decreases until
    # the fixpoint: convergence is a sum observed on the round's own
    # checkpoint, no prev-label join or column.
    label_sum = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    labels, m = _round(
        sym.where("a <=> b").select(F.col("a").alias("node"), F.col("a").alias("label")),
        [label_sum],
    )

    for _ in range(max_iter):
        prev_sum = m["s"]
        # a round of its own: both sides of the jump below read it
        cand, _ = _round(
            sym.join(
                labels.select(F.col("node").alias("b_node"), "label"),
                F.col("b") == F.col("b_node"),
            )
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("label").alias("label")),
            prev=labels,
        )
        # Pointer jumping: follow one indirection. Labels are always
        # node ids present in `cand`, so the left join always hits;
        # coalesce only guards the type checker's view of it.
        ptr = cand.select(F.col("node").alias("p_node"), F.col("label").alias("p_label"))
        labels, m = _round(
            cand.join(ptr, cand["label"] == ptr["p_node"], "left")
            .select("node", F.coalesce("p_label", "label").alias("label")),
            [label_sum],
            prev=cand,
        )
        if m["s"] == prev_sum:
            break
    _release(sym)
    return labels.select("node", F.col("label").alias("component"))


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Damped PageRank over a directed edge list, fixed ``iters``
    rounds from a uniform start — the canonical iterative-algorithm
    shape on DataFrames (importance scoring of corpus/link graphs).

    Determinism: each round's neighbor-sum goes through
    ``decimal(38,18)`` casts of the per-edge contributions, so the
    aggregation is order/partition-independent.  (Scale 18 on
    arbitrary binary doubles is safe: a cast tie needs the decimal
    expansion to terminate exactly one digit past the scale, which
    needs ~60 trailing zero mantissa bits — unlike money-style inputs
    whose expansions do terminate near low scales.)  With identical
    per-row IEEE arithmetic on the oracle side, every iteration is
    bit-reproducible on both engines.

    Scale: per round, one shuffle keyed on ``src`` for the
    contribution join and one keyed on ``dst`` for the sum —
    map-side-combinable, O(|E|) rows; each round is a checkpoint, so
    the plan stays O(1) across rounds as in :func:`connected_components`.
    Dangling nodes (no out-edges) contribute nothing, matching the
    simple formulation replicated by the SQL oracle.
    """
    e, _ = _round(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct())
    nodes, m = _round(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct(),
        [F.count(F.lit(1)).alias("n")],
    )
    n_nodes = m["n"]
    # degree table is static across rounds — materialize it once
    out_deg, _ = _round(e.groupBy("src").agg(F.count("*").alias("deg")))

    # an empty graph has no ranks to divide among
    start, base = (1.0 / n_nodes, (1.0 - damping) / n_nodes) if n_nodes else (0.0, 0.0)
    ranks = nodes.select("node", F.lit(start).alias("rank"))
    for _ in range(iters):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .join(out_deg, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("deg").cast("double")).alias("c"),
            )
        )
        summed = contrib.groupBy("node").agg(
            F.sum(F.col("c").cast("decimal(38,18)")).cast("double").alias("s")
        )
        ranks, _ = _round(
            nodes.join(summed, "node", "left").select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            ),
            prev=ranks,
        )
    # after a round, only the returned ranks are still read
    _release(e, out_deg, nodes if iters else None)
    return ranks
