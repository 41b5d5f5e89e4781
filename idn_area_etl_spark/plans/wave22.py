"""Twenty-second wave: LLM-data-pipeline depth — LM-based quality
filtering, phonetic blocking, and seeded semantic dedup.

Reference parity note: the reference (idn-area-etl) cleans strings
but has no statistical text surface (SURVEY.md §2.8 is regex
cleaning only); these are the standard large-corpus curation
operators layered on the engine:

- **Bigram-LM perplexity scoring** (`d_perplexity_bigram`) — the
  CCNet/Gopher-style quality signal: train an add-one-smoothed
  bigram LM on the corpus itself (two grouped counts), then score
  every document's mean negative log2 probability.  Count tables
  scale with vocabulary, not corpus, and join back to the token
  stream as ordinary equi-joins (AQE broadcasts them when small —
  at 100 TB the w1-count join stays a shuffle join on the token
  key, which is exactly right).
- **Phonetic blocking** (`d_phonetic_blocks`) — Soundex keys over
  part names as the blocking stage of fuzzy entity resolution:
  collisions-per-key is the block-size histogram that bounds the
  downstream pair-join cost (see j_fuzzy_customer_pairs for the
  residual-verify stage).
- **Seeded semantic dedup** (`e_semantic_dedup_seeded`) — canopy
  clustering for embedding near-dup removal: assign every vector
  to its nearest of k fixed seed vectors (broadcast cross join →
  argmax cosine), then search for near-duplicate pairs ONLY inside
  a cluster (the self-join is blocked on cluster id, never global).
  Seeds here are the k lowest vec_ids so the DuckDB oracle can
  replay the assignment exactly; at scale the seeds come from
  `ivf.kmeans_fit` (same downstream plan, rows-only check).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.similarity import (
    as_double_vec,
    dot_expr,
    norm_expr,
)
from idn_area_etl_spark.operators.text import soundex_expr, tokens_expr
from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


def d_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram negative-log2-likelihood under an
    add-one-smoothed corpus bigram LM.

    Determinism: per-bigram nll is a pure scalar; the per-doc mean
    uses round-9 → exact decimal sums (order-independent), rounded
    to 6dp on output.
    """
    docs = load_table(spark, sf_dir, "documents")
    # r8-opt: toks feeds the bigram explode AND the unigram counts;
    # bigrams feeds the LM counts AND the scoring probe; c_w feeds
    # the smoothing join AND the vocabulary size — unstaged, Catalyst
    # re-ran the scan + tokenization per consumer (4 documents scans
    # / 24 exchange refs in the captured plan).  Staged: one scan,
    # one tokenization, one bigram explode, one unigram rollup
    # (guide §2.4).
    toks = _stage(
        docs.select("doc_id", tokens_expr(F.col("text")).alias("t"))
    )
    bigrams = toks.select(
        "doc_id",
        # guard: Spark's sequence(1, 0) DESCENDS instead of being
        # empty, so single-token docs need the explicit empty array.
        F.explode(
            F.expr(
                "CASE WHEN size(t) < 2 THEN"
                " cast(array() AS array<struct<w1:string,w2:string>>)"
                " ELSE transform(sequence(1, size(t) - 1),"
                " i -> struct(t[i - 1] AS w1, t[i] AS w2)) END"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    bigrams = _stage(bigrams)
    c_bg = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c_bg"))
    unigrams = toks.select(F.explode("t").alias("w"))
    c_w = _stage(unigrams.groupBy("w").agg(F.count("*").alias("c_w")))
    vocab = c_w.agg(F.count("*").alias("v"))

    scored = (
        bigrams.join(c_bg, ["w1", "w2"])
        .join(c_w.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
    )
    nll = -F.log2(
        (F.col("c_bg") + 1.0)
        / (F.col("c_w").cast("double") + F.col("v").cast("double"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        (
            F.sum(F.round(nll, 9).cast("decimal(28,9)")).cast("double")
            / F.count("*").cast("double")
        ).alias("avg_raw"),
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        F.round("avg_raw", 6).alias("avg_nll"),
    )


D_PPL_SQL = """
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                t -> t <> '') AS t
  FROM documents
),
flat AS (
  SELECT doc_id,
    unnest([t[i] for i in generate_series(1, len(t) - 1)]) AS w1,
    unnest([t[i + 1] for i in generate_series(1, len(t) - 1)]) AS w2
  FROM toks
),
cbg AS (SELECT w1, w2, COUNT(*) AS c_bg FROM flat GROUP BY 1, 2),
uni AS (SELECT unnest(t) AS w1 FROM toks),
cw AS (SELECT w1, COUNT(*) AS c_w FROM uni GROUP BY 1),
vocab AS (SELECT COUNT(*) AS v FROM cw),
scored AS (
  SELECT doc_id,
    -log2((c_bg + 1.0) / (CAST(c_w AS DOUBLE) + CAST(v AS DOUBLE)))
      AS nll
  FROM flat
  JOIN cbg USING (w1, w2)
  JOIN cw USING (w1)
  CROSS JOIN vocab
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  ROUND(CAST(SUM(CAST(ROUND(nll, 9) AS DECIMAL(28,9))) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE), 6) AS avg_nll
FROM scored GROUP BY doc_id
ORDER BY doc_id
"""


def d_phonetic_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soundex blocking over part names: per-key block size, distinct
    spellings, and the lexical extremes of each block."""
    p = load_table(spark, sf_dir, "part")
    words = F.split(F.col("p_name"), " ")
    key = F.concat_ws(
        "_",
        soundex_expr(F.get(words, 0)),
        soundex_expr(F.get(words, 1)),
    )
    return (
        p.select(key.alias("phonetic_key"), "p_name")
        .groupBy("phonetic_key")
        .agg(
            F.count("*").alias("n_parts"),
            F.count_distinct("p_name").alias("n_spellings"),
            F.min("p_name").alias("first_name"),
            F.max("p_name").alias("last_name"),
        )
        .orderBy("phonetic_key")
    )


def _soundex_sql(col: str) -> str:
    """DuckDB replica of soundex_expr (RE2-safe, 'g'-flagged)."""
    digits = (
        f"translate(substring(upper({col}), 2, 1000000),"
        " 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '01230120022455012623010202')"
    )
    for d in "123456":
        digits = f"regexp_replace({digits}, '{d}{{2,}}', '{d}', 'g')"
    return (
        f"substring(substring(upper({col}), 1, 1) || "
        f"replace({digits}, '0', '') || '000', 1, 4)"
    )


D_PHONETIC_SQL = f"""
WITH keys AS (
  SELECT {_soundex_sql("string_split(p_name, ' ')[1]")} || '_' ||
         {_soundex_sql("string_split(p_name, ' ')[2]")} AS phonetic_key,
         p_name
  FROM part
)
SELECT phonetic_key,
  CAST(COUNT(*) AS BIGINT) AS n_parts,
  CAST(COUNT(DISTINCT p_name) AS BIGINT) AS n_spellings,
  MIN(p_name) AS first_name,
  MAX(p_name) AS last_name
FROM keys GROUP BY phonetic_key
ORDER BY phonetic_key
"""


N_SEEDS = 8
SEMDUP_THRESHOLD = 0.3


def seeded_semantic_clusters(
    emb: DataFrame, n_seeds: int = N_SEEDS
) -> DataFrame:
    """Assign each vector to its nearest seed (k lowest vec_ids) by
    cosine — the canopy-assignment stage of semantic dedup.

    The seed side is k rows → broadcast; assignment is an argmax
    over k cosines per vector via one grouped max(struct) (no
    window over the replicated stream).  Cosines are rounded to 9dp
    before the argmax so tie-breaking (lowest seed id) is
    bit-identical across engines.
    """
    v = emb.select(
        "vec_id",
        as_double_vec(F.col("embedding")).alias("vec"),
    ).withColumn("nrm", norm_expr(F.col("vec")))
    seeds = (
        v.orderBy("vec_id")
        .limit(n_seeds)
        .select(
            F.col("vec_id").alias("seed_id"),
            F.col("vec").alias("seed_vec"),
            F.col("nrm").alias("seed_nrm"),
        )
    )
    scored = v.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "vec",
        "nrm",
        "seed_id",
        F.round(
            dot_expr(F.col("vec"), F.col("seed_vec"))
            / (F.col("nrm") * F.col("seed_nrm")),
            9,
        ).alias("c9"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.max(F.struct(F.col("c9"), (-F.col("seed_id")).alias("ns"))).alias(
                "best"
            ),
            F.first("vec").alias("vec"),
            F.first("nrm").alias("nrm"),
        )
        .select(
            "vec_id",
            (-F.col("best.ns")).alias("cluster"),
            "vec",
            "nrm",
        )
    )


def e_semantic_dedup_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate embedding pairs found only within canopy
    clusters: blocked self-join on cluster id, cosine > threshold."""
    emb = load_table(spark, sf_dir, "embeddings")
    # r8-opt: stage the canopy assignment — it feeds both sides of
    # the blocked self-join, and unstaged the whole seed-scoring
    # subtree (corpus scan → seed broadcast NLJ → per-vector argmax
    # aggregate with its corpus-scale shuffle) runs TWICE, once per
    # join side (4 parquet scans / 2 NLJs in the captured plan).
    # Staged, the corpus is scored against the seeds once.
    assigned = _stage(seeded_semantic_clusters(emb))
    a = assigned.select(
        F.col("cluster"),
        F.col("vec_id").alias("vec_a"),
        F.col("vec").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = assigned.select(
        F.col("cluster"),
        F.col("vec_id").alias("vec_b"),
        F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(b, "cluster").filter(F.col("vec_a") < F.col("vec_b"))
    cos = dot_expr(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        pairs.select(
            "cluster",
            "vec_a",
            "vec_b",
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") > SEMDUP_THRESHOLD)
        .orderBy(F.desc("cosine"), "vec_a", "vec_b")
        .limit(50)
    )


E_SEMDUP_SQL = f"""
WITH v AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS vec,
    sqrt(list_sum(list_transform(
      [CAST(x AS DOUBLE) for x in embedding], x -> x * x))) AS nrm
  FROM embeddings
),
seeds AS (
  SELECT vec_id AS seed_id, vec AS seed_vec, nrm AS seed_nrm
  FROM v ORDER BY vec_id LIMIT {N_SEEDS}
),
scored AS (
  SELECT v.vec_id, v.vec, v.nrm, seed_id,
    ROUND(list_sum(list_transform(generate_series(1, len(v.vec)),
                   i -> v.vec[i] * seed_vec[i]))
          / (v.nrm * seed_nrm), 9) AS c9
  FROM v CROSS JOIN seeds
),
assigned AS (
  SELECT vec_id, vec, nrm,
    ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY c9 DESC, seed_id) AS rn,
    seed_id AS cluster
  FROM scored
),
cl AS (SELECT vec_id, vec, nrm, cluster FROM assigned WHERE rn = 1),
pairs AS (
  SELECT a.cluster AS cluster, a.vec_id AS vec_a, b.vec_id AS vec_b,
    ROUND(list_sum(list_transform(generate_series(1, len(a.vec)),
                   i -> a.vec[i] * b.vec[i])) / (a.nrm * b.nrm), 6)
      AS cosine
  FROM cl a JOIN cl b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
)
SELECT cluster, vec_a, vec_b, cosine
FROM pairs WHERE cosine > {SEMDUP_THRESHOLD}
ORDER BY cosine DESC, vec_a, vec_b
LIMIT 50
"""


SPECS = [
    QuerySpec("d_perplexity_bigram", d_perplexity_bigram, D_PPL_SQL,
              doc="corpus bigram-LM perplexity quality scoring",
              tags=("text", "curation")),
    QuerySpec("d_phonetic_blocks", d_phonetic_blocks, D_PHONETIC_SQL,
              doc="Soundex phonetic blocking histogram",
              tags=("text", "dedup")),
    QuerySpec("e_semantic_dedup_seeded", e_semantic_dedup_seeded,
              E_SEMDUP_SQL,
              doc="canopy-blocked semantic near-dup pairs",
              tags=("similarity", "dedup")),
]
