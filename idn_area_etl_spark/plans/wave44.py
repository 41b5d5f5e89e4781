"""Forty-fourth wave: exact similarity self-join via prefix
filtering, DSIR-style importance weighting, duplicated-span profiling,
and temperature-scaled mixture weights.

Reference parity note: the reference (idn-area-etl) has no similarity
machinery — these are the training-data-pipeline extensions the brief
asks for, built Spark-first.  Every query carries an exact DuckDB
oracle (the prefix join's oracle is the brute-force all-pairs
definition it must equal).

- **Prefix-filtered Jaccard join** (`j_jaccard_prefix_join`) — the
  EXACT set-similarity self-join (AllPairs/PPJoin family) over
  distinct word 5-gram shingle sets at tau=0.8.  The Spark plan
  emits only rare-first prefixes and equi-joins on the prefix
  shingle; the oracle is the O(n^2)-ish brute-force definition, so
  the comparison proves the pruning is lossless.
- **DSIR importance weights** (`d_dsir_weights`) — data-selection
  importance resampling: Laplace-smoothed unigram log-likelihood
  ratio of a target distribution (lang='en') vs the raw corpus,
  summed per document (exact decimal summation), rolled up
  per-language.  The vocabulary log-ratio table is a broadcast dim;
  the per-doc score is one map-side-combinable aggregation.
- **Duplicated-span fraction** (`d_dup_span_fraction`) — per-doc
  share of distinct word 8-gram shingles that occur in 2+ documents
  (the substring-level dup signal of Lee et al.'s dedup work,
  shingle-approximated), per-language mean and heavy-dup count.
- **Temperature mixture weights** (`s_temperature_mixture`) —
  alpha=0.5 temperature-scaled language sampling shares
  (p_i^0.5 / sum p_j^0.5, sqrt only — pow is banned for oracle
  float parity), the multilingual-mixture rebalancing primitive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from idn_area_etl_spark.functions.cleaning import WHITESPACE, sql_string
from idn_area_etl_spark.operators.dedup import (
    prefix_jaccard_join,
    token_shingles_expr,
)
from idn_area_etl_spark.operators.stage import _stage
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table


def _ws_tokens(text: str) -> str:
    """SQL text: the lowercased whitespace tokens of ``text``, blanks dropped."""
    return f"filter(split(lower(trim({text})), {WHITESPACE}), t -> t != '')"


# ------------------------------------------------------------------ #
# j_jaccard_prefix_join
# ------------------------------------------------------------------ #


def j_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with 5-gram-shingle Jaccard >= 0.8, found
    by prefix filtering; oracle is the brute-force definition."""
    docs = load_table(spark, sf_dir, "documents")
    return prefix_jaccard_join(docs, n=5, tau_num=4, tau_den=5)


J_PREFIX_SQL = r"""
WITH tok AS (
  SELECT doc_id,
    list_distinct([array_to_string(ws[i:i+4], ' ')
                   for i in generate_series(1, len(ws) - 4)]) AS sh
  FROM (
    SELECT doc_id,
      list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                  x -> x <> '') AS ws
    FROM documents
  )
  WHERE len(ws) >= 5
),
ex AS (SELECT doc_id, unnest(sh) AS s FROM tok),
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS i
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, len(sh) AS n FROM tok)
SELECT doc1, doc2,
  CAST(i AS BIGINT) AS n_inter,
  CAST(na.n + nb.n - i AS BIGINT) AS n_union,
  ROUND(CAST(i AS DOUBLE) / (na.n + nb.n - i), 6) AS jaccard
FROM inter
JOIN sizes na ON doc1 = na.doc_id
JOIN sizes nb ON doc2 = nb.doc_id
WHERE i * 5 >= (na.n + nb.n - i) * 4
ORDER BY doc1, doc2
"""


# ------------------------------------------------------------------ #
# d_dsir_weights
# ------------------------------------------------------------------ #


def d_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance scores: per-language doc count, mean
    smoothed log-likelihood ratio vs the lang='en' target, and the
    share of documents the target-ratio filter would select."""
    return dsir_rollup(load_table(spark, sf_dir, "documents"))


def dsir_rollup(docs: DataFrame, target_lang: str = "en") -> DataFrame:
    """The DSIR scoring pipeline over any (doc_id, lang, text) frame —
    split out so tools/stress.py can tier the SAME end-to-end shape
    (vocabulary shuffle join included) on synthetic 100k/1M corpora.

    r8 shape (VERDICT r7 item 4): the per-doc token-count rollup
    ``tok = (doc_id, lang, w, cnt)`` is computed ROW-LOCALLY — sort
    the token array, run-length encode it with higher-order
    functions, explode the (token, count) runs — so the explode
    itself emits distinct doc-token pairs and every downstream
    token-keyed exchange (the vocabulary count AND the ratio join)
    carries the corpus' repetition factor less data than the raw
    occurrence stream.  Crucially there is NO pre-aggregation
    shuffle: an explode → groupBy(doc_id, lang, w) rollup would add
    a composite-key exchange at occurrence scale, which on
    low-repetition corpora costs more than it saves (measured:
    16.6 s vs 9.3 s at the 100k-doc stress tier); the run-length
    form is O(len·log len) per row inside the scan stage, strictly
    cheaper than either predecessor in both regimes.  The per-doc
    score is unchanged bit-for-bit: summing cnt copies of the same
    decimal equals multiplying it by cnt (decimal arithmetic is
    exact; the oracle applies the identical rewrite).

    r8-opt: ``tok`` and ``vocab`` are staged.  Without it the
    physical plan holds THREE copies of the scan → token-RLE subtree
    (the scores join probe, the vocab agg feeding ratio, and the
    vocab agg feeding totals) and TWO copies of the vocab aggregate —
    Catalyst's ReuseExchange cannot share them because column pruning
    makes the subtrees non-identical.  Staged, the corpus is scanned
    and run-length-encoded ONCE and the vocabulary aggregated ONCE;
    at 100 TB that deletes two full corpus scans + tokenizations and
    one token-scale shuffle.  Values are unchanged: staging only
    materializes an intermediate, and both heavy exchanges stay
    AQE-skew-splittable (tok is deliberately NOT pre-partitioned by
    ``w`` — co-partitioned join inputs would pin a hot-token
    partition to one task with no exchange left for AQE to split)."""
    tok = _stage(doc_token_counts(docs))
    vocab = _stage(
        tok.groupBy("w").agg(
            F.expr("sum(cnt) AS rc"),
            F.expr(
                f"sum(CASE WHEN lang = {sql_string(target_lang)} THEN cnt ELSE 0 END) AS tc"
            ),
        )
    )
    totals = vocab.agg(
        F.expr("sum(rc) AS R"), F.expr("sum(tc) AS T"), F.expr("count(*) AS V")
    )
    ratio = vocab.crossJoin(F.broadcast(totals)).selectExpr(
        "w",
        "ln(CAST(tc + 1 AS DOUBLE) / (T + V)) - ln(CAST(rc + 1 AS DOUBLE) / (R + V)) AS lr",
    )
    # NO broadcast hint on ratio: it has one row per distinct raw token;
    # on a web-scale corpus the whitespace-token vocabulary is billions
    # of rows (the typo/URL tail grows ~linearly, Heaps' law does not
    # bound it).  tok is already distinct-doc-token scale, so a plain
    # shuffle join on "w" touches the same order of data either way —
    # and AQE still broadcasts when ratio is genuinely small.
    scores = (
        tok.join(ratio, "w")
        .groupBy("doc_id", "lang")
        .agg(
            # product cast back to decimal(27,12): the value is exact
            # (quantized lr × integer cnt, |product| < 10^15) and the
            # SUM aggregate keeps the ORIGINAL per-occurrence sum's
            # decimal type, so the downstream mean division is
            # bit-identical to the pre-r8 plan
            F.expr(
                "sum(CAST(CAST(lr AS DECIMAL(27,12)) * CAST(cnt AS DECIMAL(10,0))"
                " AS DECIMAL(27,12))) AS score"
            )
        )
    )
    return (
        scores.groupBy("lang")
        .agg(
            F.expr("count(*) AS n_docs"),
            F.expr("round(CAST(sum(score) / count(*) AS DOUBLE), 6) AS mean_score"),
            F.expr("sum(CAST(score > 0 AS BIGINT)) AS n_selected"),
        )
        .orderBy("lang")
    )


def doc_token_counts(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, lang, w, cnt) whitespace-token counts per
    document, computed WITHOUT a shuffle: the token array is sorted
    row-locally, run heads are the indices where the sorted array
    changes value, and each run's length is the gap to the next head.
    Equality with ``explode → groupBy(doc_id, lang, w) → count`` is
    pinned by tests/test_wave44.py (doc_id is unique per input row in
    every caller, so per-row and per-key counting coincide)."""
    starts = "filter(transform(st, (x, i) -> i), i -> i = 0 OR get(st, i - 1) != get(st, i))"
    runs = (
        "transform(starts, (s, j) -> named_struct('w', get(st, s),"
        " 'cnt', CAST(coalesce(get(starts, j + 1), size(st)) - s AS BIGINT)))"
    )
    return (
        docs.selectExpr("doc_id", "lang", f"array_sort({_ws_tokens('text')}) AS st")
        .selectExpr("doc_id", "lang", "st", f"{starts} AS starts")
        .selectExpr("doc_id", "lang", f"explode({runs}) AS e")
        .selectExpr("doc_id", "lang", "e.w AS w", "e.cnt AS cnt")
    )


D_DSIR_SQL = r"""
WITH tok AS (
  SELECT doc_id, lang, w, COUNT(*) AS cnt FROM (
    SELECT doc_id, lang, unnest(
      list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                  x -> x <> '')) AS w
    FROM documents
  ) GROUP BY doc_id, lang, w
),
vocab AS (
  SELECT w, SUM(cnt) AS rc,
    SUM(CASE WHEN lang = 'en' THEN cnt ELSE 0 END) AS tc
  FROM tok GROUP BY w
),
totals AS (
  SELECT SUM(rc) AS R, SUM(tc) AS T, COUNT(*) AS V FROM vocab
),
ratio AS (
  SELECT w,
    ln(CAST(tc + 1 AS DOUBLE) / (T + V))
      - ln(CAST(rc + 1 AS DOUBLE) / (R + V)) AS lr
  FROM vocab CROSS JOIN totals
),
scores AS (
  SELECT tok.doc_id, tok.lang,
    SUM(CAST(CAST(lr AS DECIMAL(27,12)) * cnt AS DECIMAL(27,12)))
      AS score
  FROM tok JOIN ratio USING (w)
  GROUP BY tok.doc_id, tok.lang
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
  ROUND(CAST(SUM(score) / COUNT(*) AS DOUBLE), 6) AS mean_score,
  CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_selected
FROM scores GROUP BY lang ORDER BY lang
"""


# ------------------------------------------------------------------ #
# d_dup_span_fraction
# ------------------------------------------------------------------ #


def d_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language profile of duplicated 8-gram spans: mean fraction
    of a doc's distinct shingles seen in 2+ docs, and the count of
    docs where that fraction exceeds one half."""
    docs = load_table(spark, sf_dir, "documents")
    # shared regex-scan shingler (>=8-token filter means its
    # whole-text fallback never fires → exactly the 8-gram windows)
    tok = (
        docs.where(f"size({_ws_tokens('text')}) >= 8")
        .select(
            "doc_id",
            "lang",
            token_shingles_expr("text", 8).alias("sh"),
        )
    )
    # r9-opt (guide §2.4): ex feeds the duplicate-shingle vocabulary
    # and the per-doc fraction; unstaged, the corpus scan + shingle
    # explode re-ran per consumer (2 duplicate scans).
    from idn_area_etl_spark.operators.stage import _stage

    ex = _stage(tok.select("doc_id", "lang", F.explode("sh").alias("s")))
    dupset = (
        ex.groupBy("s")
        .agg(F.count("*").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("s")
    )
    per_doc = (
        ex.join(dupset.withColumn("is_dup", F.lit(1)), "s", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("nsh"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("ndup"),
        )
        .select(
            "lang",
            "nsh",
            "ndup",
            (F.col("ndup").cast("double") / F.col("nsh")).alias("frac"),
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                (
                    F.sum(F.col("frac").cast("decimal(27,12)"))
                    / F.count("*")
                ).cast("double"),
                6,
            ).alias("mean_dup_frac"),
            F.sum((F.col("ndup") * 2 > F.col("nsh")).cast("long")).alias(
                "n_heavy_dup"
            ),
        )
        .orderBy("lang")
    )


D_SPAN_SQL = r"""
WITH tok AS (
  SELECT doc_id, lang,
    list_distinct([array_to_string(ws[i:i+7], ' ')
                   for i in generate_series(1, len(ws) - 7)]) AS sh
  FROM (
    SELECT doc_id, lang,
      list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                  x -> x <> '') AS ws
    FROM documents
  )
  WHERE len(ws) >= 8
),
ex AS (SELECT doc_id, lang, unnest(sh) AS s FROM tok),
dupset AS (
  SELECT s FROM ex GROUP BY s HAVING COUNT(*) >= 2
),
per_doc AS (
  SELECT ex.doc_id, ex.lang, COUNT(*) AS nsh,
    SUM(CASE WHEN dupset.s IS NOT NULL THEN 1 ELSE 0 END) AS ndup
  FROM ex LEFT JOIN dupset ON ex.s = dupset.s
  GROUP BY ex.doc_id, ex.lang
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
  ROUND(CAST(SUM(CAST(CAST(ndup AS DOUBLE) / nsh AS DECIMAL(27,12)))
             / COUNT(*) AS DOUBLE), 6) AS mean_dup_frac,
  CAST(SUM(CASE WHEN ndup * 2 > nsh THEN 1 ELSE 0 END) AS BIGINT)
    AS n_heavy_dup
FROM per_doc GROUP BY lang ORDER BY lang
"""


# ------------------------------------------------------------------ #
# s_temperature_mixture
# ------------------------------------------------------------------ #


def s_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha = 0.5) language sampling weights
    from whitespace token counts."""
    docs = load_table(spark, sf_dir, "documents")
    # r8-opt: the 5-row per-lang rollup feeds the total, the shares
    # and the weight sum — unstaged, each consumer re-ran the full
    # documents scan + tokenization (4 scans / 30 exchange refs in
    # the captured plan); staged, one scan (guide §2.4).
    per_lang = _stage(
        docs.groupBy("lang").agg(
            F.expr(f"sum(CAST(size({_ws_tokens('text')}) AS BIGINT)) AS n_tokens")
        )
    )
    tot = per_lang.agg(
        F.sum("n_tokens").alias("total"),
    )
    shares = per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("total")).alias("p"),
        F.sqrt(F.col("n_tokens").cast("double") / F.col("total")).alias(
            "wraw"
        ),
    )
    wtot = shares.agg(
        F.sum(F.col("wraw").cast("decimal(27,15)"))
        .cast("double")
        .alias("wsum")
    )
    return (
        shares.crossJoin(F.broadcast(wtot))
        .select(
            "lang",
            "n_tokens",
            F.round("p", 6).alias("raw_share"),
            F.round(F.col("wraw") / F.col("wsum"), 6).alias("temp_share"),
        )
        .orderBy("lang")
    )


S_TEMP_SQL = r"""
WITH per_lang AS (
  SELECT lang,
    CAST(SUM(len(list_filter(
      regexp_split_to_array(lower(trim(text)), '\s+'),
      x -> x <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
),
tot AS (SELECT SUM(n_tokens) AS total FROM per_lang),
shares AS (
  SELECT lang, n_tokens,
    CAST(n_tokens AS DOUBLE) / total AS p,
    sqrt(CAST(n_tokens AS DOUBLE) / total) AS wraw
  FROM per_lang CROSS JOIN tot
),
wtot AS (
  SELECT CAST(SUM(CAST(wraw AS DECIMAL(27,15))) AS DOUBLE) AS wsum
  FROM shares
)
SELECT lang, n_tokens,
  ROUND(p, 6) AS raw_share,
  ROUND(wraw / wsum, 6) AS temp_share
FROM shares CROSS JOIN wtot
ORDER BY lang
"""


SPECS = [
    QuerySpec(
        "j_jaccard_prefix_join",
        j_jaccard_prefix_join,
        J_PREFIX_SQL,
        doc="exact shingle-Jaccard >= 0.8 self-join via prefix filtering",
        tags=("dedup", "join", "similarity"),
    ),
    QuerySpec(
        "d_dsir_weights",
        d_dsir_weights,
        D_DSIR_SQL,
        # headline: the data-selection scale path whose vocabulary join
        # was un-broadcast in round 5 — benched so the shuffle-join
        # plan's number is tracked round-over-round
        headline=True,
        doc="DSIR importance weights: smoothed unigram LLR vs en target",
        tags=("text", "dataset-prep"),
    ),
    QuerySpec(
        "d_dup_span_fraction",
        d_dup_span_fraction,
        D_SPAN_SQL,
        doc="duplicated 8-gram span fraction per doc, per-language rollup",
        tags=("text", "dedup"),
    ),
    QuerySpec(
        "s_temperature_mixture",
        s_temperature_mixture,
        S_TEMP_SQL,
        doc="alpha=0.5 temperature language mixture weights",
        tags=("dataset-prep", "sampling"),
    ),
]
