"""Forty-second wave: canonical near-exact dedup, two-proportion
z-test, and cross-group quantile normalization.

Reference parity note: dataset-prep + experimentation statistics;
every query carries an exact DuckDB oracle.

- **Canonical dedup** (`d_canonical_dedup`) — the robust tier
  between exact and MinHash dedup: documents collapse on a
  canonical form (lowercase, punctuation stripped, whitespace
  collapsed) so trivially-reformatted copies dedup without any
  similarity machinery.  One md5-keyed aggregation; group keeper is
  the smallest doc_id.  Reports per-language group/duplicate
  counts.
- **Two-proportion z-test** (`a_two_proportion_ztest`) — the
  conversion-rate A/B primitive: the share of users whose FIRST
  event is a click, compared across md5-split user halves with the
  pooled-variance z statistic from exact counts.  (The obvious
  "ever purchased" outcome is degenerate on this stream — every
  user converts — and a zero pooled variance correctly faults under
  ANSI mode.)  Complements the wave-20 Welch test (means) with the
  proportions version.
- **Quantile normalization** (`q_quantile_normalize`) — map each
  language's document-length distribution onto the reference
  ('en') quantiles: percent-rank within group → index into the
  sorted reference values (integer index arithmetic — identical on
  both engines; no interpolation).  The batch-effect-correction
  prep op; the reference side is one sorted rollup broadcast by the
  rank-index equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.operators.ranks import global_row_number, grouped_row_number
from idn_area_etl_spark.plans.registry import QuerySpec
from idn_area_etl_spark.sources.tables import load_table

# ------------------------------------------------------------------ #
# d_canonical_dedup
# ------------------------------------------------------------------ #


def d_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup on the canonical text form; per-language
    distinct-group and duplicate counts."""
    docs = load_table(spark, sf_dir, "documents")
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    keyed = docs.select("doc_id", "lang", F.md5(canon).alias("ckey"))
    groups = keyed.groupBy("lang", "ckey").agg(
        F.count("*").alias("n"), F.min("doc_id").alias("keeper")
    )
    return (
        groups.groupBy("lang")
        .agg(
            F.count("*").alias("n_groups"),
            F.sum(F.col("n").cast("decimal(20,0)"))
            .cast("long")
            .alias("n_docs"),
            F.sum((F.col("n") - 1).cast("decimal(20,0)"))
            .cast("long")
            .alias("n_duplicates"),
        )
        .orderBy("lang")
    )


D_CANON_SQL = r"""
WITH keyed AS (
  SELECT doc_id, lang,
    md5(trim(regexp_replace(regexp_replace(lower(text),
        '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS ckey
  FROM documents
),
groups AS (
  SELECT lang, ckey, COUNT(*) AS n, MIN(doc_id) AS keeper
  FROM keyed GROUP BY lang, ckey
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_groups,
  CAST(SUM(CAST(n AS DECIMAL(20,0))) AS BIGINT) AS n_docs,
  CAST(SUM(CAST(n - 1 AS DECIMAL(20,0))) AS BIGINT) AS n_duplicates
FROM groups GROUP BY lang ORDER BY lang
"""


# ------------------------------------------------------------------ #
# a_two_proportion_ztest
# ------------------------------------------------------------------ #


def a_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: first-event-is-click rates of the
    md5-split user halves."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.struct("ts", "event_id", F.col("event_type").alias("et"))
        ).alias("first_ev")
    ).select(
        "user_id",
        (F.col("first_ev.et") == "click").cast("long").alias("converted"),
    )
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("arm:"), F.col("user_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    armed = per_user.select(arm.alias("arm"), "converted")
    counts = armed.groupBy("arm").agg(
        F.count("*").alias("n"), F.sum("converted").alias("x")
    )
    w = Window.partitionBy()
    # r9-opt (guide §2.4): pooled feeds both arm legs; unstaged, the
    # events scan + per-user rollup re-ran per consumer (2 duplicate
    # scans).  2-row staged frame.
    from idn_area_etl_spark.operators.stage import _stage

    pooled = _stage(
        counts.select(
            "arm",
            "n",
            "x",
            F.sum("n").over(w).alias("n_tot"),
            F.sum("x").over(w).alias("x_tot"),
        )
    )
    a = pooled.filter(F.col("arm") == 0).select(
        F.col("n").alias("n0"),
        F.col("x").alias("x0"),
        "n_tot",
        "x_tot",
    )
    b = pooled.filter(F.col("arm") == 1).select(
        F.col("n").alias("n1"), F.col("x").alias("x1")
    )
    joined = a.crossJoin(F.broadcast(b))
    p0 = F.col("x0").cast("double") / F.col("n0").cast("double")
    p1 = F.col("x1").cast("double") / F.col("n1").cast("double")
    pp = F.col("x_tot").cast("double") / F.col("n_tot").cast("double")
    se = F.sqrt(
        pp
        * (1.0 - pp)
        * (
            1.0 / F.col("n0").cast("double")
            + 1.0 / F.col("n1").cast("double")
        )
    )
    return joined.select(
        F.col("n0").cast("long").alias("n_a"),
        F.col("n1").cast("long").alias("n_b"),
        F.round(p0, 6).alias("rate_a"),
        F.round(p1, 6).alias("rate_b"),
        F.round((p0 - p1) / se, 6).alias("z_stat"),
    )


A_TWOPROP_SQL = """
WITH ordered AS (
  SELECT user_id, event_type,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS rn
  FROM events
),
per_user AS (
  SELECT user_id,
    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS converted
  FROM ordered WHERE rn = 1
),
armed AS (
  SELECT CAST(('0x' || substring(md5('arm:' || CAST(user_id AS VARCHAR)),
                                 1, 13)) AS UBIGINT) % 2 AS arm,
    converted
  FROM per_user
),
counts AS (
  SELECT arm, COUNT(*) AS n, SUM(converted) AS x
  FROM armed GROUP BY arm
),
pooled AS (
  SELECT arm, n, x, SUM(n) OVER () AS n_tot, SUM(x) OVER () AS x_tot
  FROM counts
),
a AS (SELECT n AS n0, x AS x0, n_tot, x_tot FROM pooled WHERE arm = 0),
b AS (SELECT n AS n1, x AS x1 FROM pooled WHERE arm = 1)
SELECT CAST(n0 AS BIGINT) AS n_a, CAST(n1 AS BIGINT) AS n_b,
  ROUND(CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) AS rate_a,
  ROUND(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS rate_b,
  ROUND((CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE)
         - CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        / SQRT((CAST(x_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))
               * (1.0 - CAST(x_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))
               * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))),
        6) AS z_stat
FROM a CROSS JOIN b
"""


# ------------------------------------------------------------------ #
# q_quantile_normalize
# ------------------------------------------------------------------ #

QN_REF_LANG = "en"


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map each language's doc-length distribution onto the reference
    language's quantiles (integer rank-index lookup, no
    interpolation); per-language before/after means."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    ref = docs.filter(F.col("lang") == QN_REF_LANG)
    # reference-language cardinality is unbounded — distributed rank
    ref_sorted = global_row_number(
        ref, [F.col("n_chars").asc(), F.col("doc_id").asc()], out="idx"
    ).select(F.col("idx"), F.col("n_chars").alias("ref_val"))
    n_ref = ref.count()  # driver scalar: deterministic, O(1)
    # languages are few but each is huge: grouped_row_number splits a
    # giant language across range partitions instead of one task
    ranked = grouped_row_number(
        docs,
        ["lang"],
        [F.col("n_chars").asc(), F.col("doc_id").asc()],
        out="rn",
        count_out="n_lang",
    ).select("lang", "n_chars", "rn", "n_lang")
    r = (F.col("rn") - 1).cast("double") / F.greatest(
        (F.col("n_lang") - 1).cast("double"), F.lit(1.0)
    )
    idx = (F.floor(r * (n_ref - 1)) + 1).cast("int")
    mapped = ranked.select(
        "lang", "n_chars", idx.alias("idx")
    ).join(F.broadcast(ref_sorted), "idx")
    return (
        mapped.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.sum(F.col("n_chars").cast("decimal(20,0)")).cast("double")
                / F.count("*").cast("double"),
                6,
            ).alias("mean_before"),
            F.round(
                F.sum(F.col("ref_val").cast("decimal(20,0)")).cast("double")
                / F.count("*").cast("double"),
                6,
            ).alias("mean_after"),
        )
        .orderBy("lang")
    )


def _qn_sql() -> str:
    return f"""
WITH docs AS (
  SELECT doc_id, lang, n_chars FROM documents
),
ref_sorted AS (
  SELECT ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS idx,
    n_chars AS ref_val
  FROM docs WHERE lang = '{QN_REF_LANG}'
),
nref AS (SELECT COUNT(*) AS n_ref FROM docs WHERE lang = '{QN_REF_LANG}'),
ranked AS (
  SELECT lang, n_chars,
    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
      AS rn,
    COUNT(*) OVER (PARTITION BY lang) AS n_lang
  FROM docs
),
mapped AS (
  SELECT r.lang, r.n_chars, s.ref_val
  FROM ranked r
  CROSS JOIN nref
  JOIN ref_sorted s
    ON s.idx = CAST(FLOOR((CAST(r.rn - 1 AS DOUBLE)
          / GREATEST(CAST(r.n_lang - 1 AS DOUBLE), 1.0))
          * (nref.n_ref - 1)) + 1 AS INT)
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
  ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(20,0))) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE), 6) AS mean_before,
  ROUND(CAST(SUM(CAST(ref_val AS DECIMAL(20,0))) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE), 6) AS mean_after
FROM mapped GROUP BY lang ORDER BY lang
"""


SPECS = [
    QuerySpec(
        "d_canonical_dedup",
        d_canonical_dedup,
        D_CANON_SQL,
        doc="near-exact dedup on canonicalized text (md5 groups)",
        tags=("dedup", "text"),
    ),
    QuerySpec(
        "a_two_proportion_ztest",
        a_two_proportion_ztest,
        A_TWOPROP_SQL,
        doc="two-proportion conversion z-test over md5 split arms",
        tags=("stats", "ab-test"),
    ),
    QuerySpec(
        "q_quantile_normalize",
        q_quantile_normalize,
        _qn_sql(),
        doc="quantile-normalize doc lengths onto the reference language",
        tags=("prep", "stats"),
    ),
]
