"""Embedding similarity search operators.

- ``cosine_topk``: brute-force cosine top-k — exact baseline; the
  query side broadcasts, the corpus streams, so cost is
  O(|corpus| · |queries|) with no corpus shuffle.
- ``near_dup_pairs``: blocked pair mining (label block keys).
- ``lsh_ann_topk``: sign-random-projection LSH with multiple hash
  tables — the approximate scale path: candidates come from bucket
  equi-joins, never a cross product.

Vector math is native (zip_with/aggregate over array<double>) —
JVM-side, no Python serde.  Cosines are rounded to 6 dp (see
plans/registry.py determinism rules).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def as_double_vec(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential left-to-right dot product (matches the oracle's
    list_sum evaluation order for bit-exact doubles)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def _with_vec_and_norm(df: DataFrame, id_alias: str, vec_col: str = "embedding") -> DataFrame:
    vec = as_double_vec(F.col(vec_col))
    return df.select(
        F.col("vec_id").alias(id_alias),
        vec.alias(f"_vec_{id_alias}"),
    ).withColumn(f"_nrm_{id_alias}", norm_expr(F.col(f"_vec_{id_alias}")))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    max_query_rows: int | None = 100_000,
) -> DataFrame:
    """Exact top-k neighbors by cosine for each query vector.

    Output: (query_id, neighbor_id, cosine, rnk).  The query side is
    broadcast (it is the small side by construction); ranking is the
    two-phase salted top-k of ``ranks.grouped_topk``, so no single
    task ever sees one query's full corpus of candidates.

    This is the EXACT baseline — cost is O(|corpus| * |queries|) by
    design, so misuse with a large query set must fail loudly rather
    than melt the cluster: ``max_query_rows`` caps the broadcast side.
    The cap is checked AT EXECUTION (a bounded count of the query
    side folded into the plan via ``assert_true``), so building the
    plan stays action-free — the repo-wide convention.  Pass ``None``
    to skip when the caller has already bounded the query side.  For
    large query sets use :func:`lsh_ann_topk` or
    :func:`~idn_area_etl_spark.operators.ivf.ivf_ann_topk`.
    """
    if max_query_rows is not None:
        # limit(cap+1)+count keeps the guard O(cap) however large the
        # query side is; the 1-row result broadcasts onto the query
        # side and assert_true fails the job at execution if exceeded
        guard = (
            queries.limit(max_query_rows + 1)
            .select(F.lit(1).alias("_one"))
            .agg(F.count("*").alias("_qn"))
        )
        queries = (
            queries.crossJoin(F.broadcast(guard))
            .where(
                F.assert_true(
                    F.col("_qn") <= F.lit(max_query_rows),
                    F.lit(
                        f"cosine_topk query side exceeds max_query_rows="
                        f"{max_query_rows}; this operator broadcasts the "
                        "query side and is O(corpus x queries) — use "
                        "lsh_ann_topk / ivf_ann_topk for large query "
                        "sets, or raise the cap explicitly"
                    ),
                ).isNull()
            )
        )
    q = _with_vec_and_norm(queries, "query_id", vec_col)
    c = _with_vec_and_norm(corpus, "neighbor_id", vec_col)
    cos = F.round(
        dot_expr(F.col("_vec_query_id"), F.col("_vec_neighbor_id"))
        / (F.col("_nrm_query_id") * F.col("_nrm_neighbor_id")),
        6,
    )
    from idn_area_etl_spark.operators.ranks import grouped_topk

    scored = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id"), "inner"
    ).select("query_id", "neighbor_id", cos.alias("cosine"))
    # two-phase salted top-k (r6): a plain per-query window would ship
    # each query's ENTIRE corpus of candidates to one task
    return grouped_topk(
        scored,
        ["query_id"],
        [F.desc("cosine"), F.col("neighbor_id")],
        k,
        salt_key=F.col("neighbor_id"),
    ).orderBy("query_id", "rnk")


def probe_label_nn(
    emb: DataFrame,
    probe_limit: int = 200,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """1-NN label prediction for a literal-bounded probe set against
    the full streaming corpus: (qid, truth, pred), one row per probe.

    Winner per probe = highest 6-dp cosine, ties -> lexically
    smallest label: ci = round(cos * 1e6) is injective on 6-dp
    cosines, so min-ordering by (-ci, label) is exactly
    (cosine DESC, label ASC).

    Scale shape (r8): the per-probe argmax runs as TWO aggregates
    instead of one ``min_by(pred, struct(-ci, pred))`` over the
    joined stream.  A struct ordering key is a non-primitive agg
    buffer, which plans as SortAggregate — sorting the
    (corpus x probes) stream inside every map task before combining
    (the SCALE.md "SortAggregate hazard").  Grouping first by
    (qid, truth, pred) with a primitive ``max(ci)`` buffer keeps the
    partial aggregation a map-side-combinable HashAggregate, so the
    exchange carries at most probes x |label domain| finished rows;
    the struct-keyed ``min_by`` then runs over that bounded rollup
    only.  max-then-argmax elects the identical winner: the min of
    (-ci, pred) over all rows equals the min over per-pred minima,
    and the per-pred minimum is (-max(ci), pred).
    """
    v = emb.select(
        "vec_id",
        F.col(label_col).alias("label"),
        as_double_vec(F.col(vec_col)).alias("vec"),
    ).withColumn("nrm", norm_expr(F.col("vec")))
    q = v.filter(F.col("vec_id") < probe_limit).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("truth"),
        F.col("vec").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = v.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("pred"),
        F.col("vec").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    cos = F.round(
        dot_expr(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
        6,
    )
    scored = c.join(F.broadcast(q), F.col("qid") != F.col("cid")).select(
        "qid",
        "truth",
        "pred",
        F.round(cos * 1e6).cast("long").alias("ci"),
    )
    cand = scored.groupBy("qid", "truth", "pred").agg(
        F.max("ci").alias("ci")
    )
    return cand.groupBy("qid", "truth").agg(
        F.min_by(
            "pred",
            F.struct((-F.col("ci")).alias("a"), F.col("pred").alias("b")),
        ).alias("pred")
    )


def near_dup_pairs(
    emb: DataFrame,
    top_k: int = 20,
    block_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k most-similar same-block vector pairs (near-duplicate
    mining).  The block column is the join/shuffle key."""
    vec = as_double_vec(F.col(vec_col))
    v = emb.select(
        "vec_id", F.col(block_col).alias("_block"), vec.alias("_vec")
    ).withColumn("_nrm", norm_expr(F.col("_vec")))
    a, b = v.alias("a"), v.alias("b")
    cos = F.round(
        dot_expr(F.col("a._vec"), F.col("b._vec"))
        / (F.col("a._nrm") * F.col("b._nrm")),
        6,
    )
    return (
        a.join(
            b,
            (F.col("a._block") == F.col("b._block"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_a", "vec_b")
        .limit(top_k)
    )


def _deterministic_planes(n_tables: int, n_planes: int, dim: int) -> list[list[list[float]]]:
    """Deterministic pseudo-random hyperplanes from SHA-256 bytes —
    fixed across runs/machines (part of the index definition)."""
    planes: list[list[list[float]]] = []
    for t in range(n_tables):
        table = []
        for p in range(n_planes):
            vals: list[float] = []
            counter = 0
            while len(vals) < dim:
                digest = hashlib.sha256(f"{t}:{p}:{counter}".encode()).digest()
                for i in range(0, len(digest) - 1, 2):
                    if len(vals) >= dim:
                        break
                    raw = int.from_bytes(digest[i : i + 2], "big")
                    vals.append(raw / 65535.0 - 0.5)
                counter += 1
            table.append(vals)
        planes.append(table)
    return planes


def lsh_bucket_expr(vec: Column, table_planes: list[list[float]]) -> Column:
    """Sign-random-projection bucket id for one hash table: the bit
    string of sign(vec · plane) over the table's planes."""
    bits = [
        F.when(
            dot_expr(vec, F.array(*[F.lit(x) for x in plane])) > 0, F.lit("1")
        ).otherwise(F.lit("0"))
        for plane in table_planes
    ]
    return F.concat(*bits)


def lsh_ann_topk(
    queries: DataFrame | None,
    corpus: DataFrame,
    k: int = 3,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    query_pred=None,
) -> DataFrame:
    """Approximate top-k via multi-table sign-LSH.

    Each vector gets one bucket per hash table; query/corpus pairs
    colliding in ANY table become candidates (union of equi-joins on
    (table, bucket) — at 100 TB this is a plain shuffle join on a
    compact key).  Exact cosine ranks the candidates.

    r9-opt (guide §2.4/§6): the projected (id, vec, norm) frame is
    STAGED once per side and both the bucketize pass and the exact
    rerank read it — unstaged, Catalyst re-expanded the corpus scan
    per consumer (bucketize + rerank = 2 full corpus reads, plus 2
    filtered query reads).  The staged ``_vec`` column holds exactly
    ``as_double_vec(vec_col)``, so bucket hashes and cosines are
    bit-identical to the unstaged form (staging moves a
    materialization boundary, never the dataflow).

    ``query_pred`` (optional): when the query set is a row-filter of
    ``corpus`` (the common probe pattern), pass a callable mapping the
    id column to the filter predicate instead of a ``queries`` frame
    (pass ``queries=None``); the query side is then DERIVED from the
    staged corpus projection — same rows, same per-row expressions —
    so the corpus parquet is scanned exactly once for the whole query.
    Exactly one of ``queries`` and ``query_pred`` must be given.
    """
    if (queries is None) == (query_pred is None):
        raise ValueError("pass exactly one of queries and query_pred")
    planes = _deterministic_planes(n_tables, n_planes, dim)
    from idn_area_etl_spark.operators.dedup import _stage

    def bucketize(prep: DataFrame, id_alias: str) -> DataFrame:
        vec = F.col(f"_vec_{id_alias}")
        entries = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("table_no"),
                        lsh_bucket_expr(vec, planes[t]).alias("bucket"),
                    )
                    for t in range(n_tables)
                ]
            )
        )
        return prep.select(
            F.col(id_alias), entries.alias("e")
        ).select(id_alias, "e.table_no", "e.bucket")

    cv = _stage(_with_vec_and_norm(corpus, "neighbor_id", vec_col))
    if query_pred is not None:
        qv = cv.filter(query_pred(F.col("neighbor_id"))).select(
            F.col("neighbor_id").alias("query_id"),
            F.col("_vec_neighbor_id").alias("_vec_query_id"),
            F.col("_nrm_neighbor_id").alias("_nrm_query_id"),
        )
    else:
        qv = _stage(_with_vec_and_norm(queries, "query_id", vec_col))
    cand_ids = (
        bucketize(cv, "neighbor_id")
        .join(
            F.broadcast(bucketize(qv, "query_id")),
            ["table_no", "bucket"],
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    cand = cand_ids.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id")
    cos = F.round(
        dot_expr(F.col("_vec_query_id"), F.col("_vec_neighbor_id"))
        / (F.col("_nrm_query_id") * F.col("_nrm_neighbor_id")),
        6,
    )
    from idn_area_etl_spark.operators.ranks import grouped_topk

    # two-phase salted top-k (r6): LSH bucket candidates per query are
    # data-scaled (corpus / 2^bits × tables) — never one task's worth
    return grouped_topk(
        cand.select("query_id", "neighbor_id", cos.alias("cosine")),
        ["query_id"],
        [F.desc("cosine"), F.col("neighbor_id")],
        k,
        salt_key=F.col("neighbor_id"),
    ).orderBy("query_id", "rnk")


def label_centroids(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-label centroid vectors via posexplode → exact decimal sums.

    Scale: one shuffle keyed on (label, dim) with map-side partial
    aggregation — the classic distributed centroid step of k-means /
    cluster profiling.  Element sums go through decimal so the result
    is bit-deterministic under any partitioning; the per-dim mean is a
    single IEEE division.  Reassembly sorts (dim, value) structs, so
    collect_list's arrival order never matters.
    """
    e = emb.select(
        "label", F.posexplode(as_double_vec(F.col(vec_col))).alias("pos", "val")
    )
    sums = e.groupBy("label", "pos").agg(
        F.sum(F.col("val").cast("decimal(32,14)")).cast("double").alias("s"),
        F.count("*").alias("n"),
    )
    dims = sums.select(
        "label", "pos", (F.col("s") / F.col("n").cast("double")).alias("c")
    )
    return dims.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda x: x["c"],
        ).alias("centroid")
    )


def centroid_cohesion(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-label cluster cohesion: mean cosine of members to their
    label centroid.

    The centroid side is tiny (one row per label) → broadcast join;
    per-member cosine is row-local array math; the mean goes through
    an exact decimal sum of 9-dp-rounded cosines (order-independent).
    """
    cents = label_centroids(emb, vec_col)
    m = emb.join(F.broadcast(cents), "label")
    vec = as_double_vec(F.col(vec_col))
    # cosine is undefined at zero norm (e.g. a centroid of antipodal
    # members) — exclude those rows instead of dividing by zero
    denom = norm_expr(vec) * norm_expr(F.col("centroid"))
    cos = dot_expr(vec, F.col("centroid")) / F.col("denom")
    per = (
        m.withColumn("denom", denom)
        .filter(F.col("denom") > 0)
        .select("label", F.round(cos, 9).cast("decimal(20,10)").alias("c9"))
    )
    return (
        per.groupBy("label")
        .agg(
            F.count("*").alias("n_members"),
            F.round(
                F.sum("c9").cast("double") / F.count("*").cast("double"), 6
            ).alias("cohesion"),
        )
        .orderBy("label")
    )
