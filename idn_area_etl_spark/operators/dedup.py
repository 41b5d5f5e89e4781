"""Deduplication operators for LLM-data pipelines at scale.

Five strategies, all shuffle-conscious:

- **exact**: content-hash groupBy — one shuffle on the hash, map-side
  partial agg.
- **n-gram Jaccard**: blocked self-join (language × length band) —
  exact similarity inside blocks; block keys bound the pair explosion.
- **MinHash-LSH**: signature → banded bucket join — the 100 TB path:
  candidate generation is equi-join on (band, bucket-hash), never an
  all-pairs product.
- **prefix-filtered exact Jaccard** (AllPairs/PPJoin): rare-first
  prefixes → equi-join on a prefix shingle, no false negatives.
- **SimHash**: 64-bit sign fingerprints; near-dups differ in few bits.

MinHash-LSH and the prefix join are filter-and-verify set-similarity
joins built on three private pieces, which the batch operators, the
fuzzy mode of ``curate`` and ``streaming/fuzzy_dedup.py`` all share:

- :func:`_minhash_sketch` — one regex-shingle scan, one explode and one
  per-doc aggregate: the signature minima and the hashed shingle set;
- :func:`_band_pairs` — band keys equi-joined on ``(band_no,
  band_hash)`` into distinct id pairs (the filter);
- :func:`_verify_jaccard` — candidates joined to both sides' sets:
  intersection, union, the integer threshold test and the rounded
  Jaccard (the verify).

Everything is native column expressions (xxhash64, higher-order
aggregate/transform) — no Python in the row path.  The shingler, the
sketch's 64 minima, the band keys, the band-pair join and the verify
are written as SQL text over column names (``selectExpr``,
``F.expr``, lambdas as in ``functions/cleaning.py:map_sql``, and the
sketch's aggregate as one ``spark.sql`` statement): the JVM parses
each in one call, so building the fuzzy path costs under two hundred
py4j round-trips rather than one or more per expression node.  The
shingle helpers take a column name.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from idn_area_etl_spark.functions.cleaning import WHITESPACE, map_sql, sql_string
from idn_area_etl_spark.operators.stage import _stage

#: Mersenne-ish prime keeping (P-1)*A + B within int64.
MINHASH_PRIME = 2_147_483_647

#: Deterministic affine hash parameters (fixed across runs — they are
#: part of the signature definition, like a model seed).
_MINHASH_PARAMS = [
    ((i * 2_654_435_761 + 0x9E3779B9) % MINHASH_PRIME or 1, (i * 40_503 + 12_345) % MINHASH_PRIME)
    for i in range(1, 65)
]


def token_shingles_expr(text: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles (w-shingling) — far more
    discriminative than char shingles on shared-vocabulary corpora,
    and ~10× fewer elements per doc.

    Execution shape: one ``regexp_extract_all`` with a lookahead
    capture — the match consumes one token (``\\S+ ?``) while the
    zero-width lookahead captures the n-token window starting there,
    so every token start yields one shingle in a single codegen'd
    regex scan.  The previous higher-order form
    (``transform(sequence(...), i -> array_join(slice(toks, i, n)))``)
    ran interpreted lambdas per position — measured ~13× slower
    (~0.8 ms/doc vs ~0.06 ms/doc at 300-char docs); value-identity
    incl. edge shapes (empty / whitespace-only / <n tokens / NULL)
    is pinned by ``tests/test_dedup.py``.

    Fewer-than-n-token docs fall back to the whole normalized text
    (one shingle), whitespace-only to ``''``, NULL text to ``[NULL]``
    — exactly the old semantics.  ``text`` is a column name.
    """
    grams = _ngrams_sql(text, n)
    return F.expr(
        f"array_distinct(CASE WHEN size({grams}) > 0 THEN {grams}"
        f" ELSE array({_norm_text_sql(text)}) END)"
    )


def _norm_text_sql(text: str) -> str:
    """Whitespace-collapsed, trimmed, lowercased text (the shingle
    normalization)."""
    return f"trim(lower(regexp_replace({text}, {WHITESPACE}, ' ')))"


def _ngrams_sql(text: str, n: int) -> str:
    pat = r"(?=(" + " ".join([r"\S+"] * n) + r"))\S+ ?"
    return f"regexp_extract_all({_norm_text_sql(text)}, {sql_string(pat)}, 1)"


def token_ngrams_expr(text: str, n: int = 3) -> Column:
    """ALL positional word n-grams of column ``text`` (duplicates kept,
    one per token start) via the same single-regex-scan shape as
    :func:`token_shingles_expr`; empty for texts with < n tokens."""
    return F.expr(_ngrams_sql(text, n))


def _hashed_shingles(text: str, n: int) -> Column:
    """:func:`token_shingles_expr` with each shingle xxhash64'd."""
    return map_sql(token_shingles_expr(text, n), lambda s: f"xxhash64({s})")


def exact_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: group documents by content hash.

    Returns one row per distinct content with the representative
    (minimum) doc_id and copy count.  Scale: single hash-partitioned
    shuffle; partial aggregation happens map-side.
    """
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count("*").alias("n_copies"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def contamination_overlap(
    docs: DataFrame,
    n: int = 3,
    mod: int = 10,
    top_k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination screen: rank corpus documents by the
    fraction of their word ``n``-gram shingles that also occur in a
    held-out benchmark set (here: ``doc_id % mod == 0``).

    Scale: the benchmark shingle vocabulary is deduped and broadcast
    (benchmarks are small by construction), so the corpus side is one
    explode + broadcast-hash semi-match + per-doc re-aggregation — no
    all-pairs comparison and no shuffle of the corpus text itself.
    """
    sh = docs.select(
        "doc_id", token_shingles_expr(text_col, n).alias("shingles")
    )
    bench = (
        sh.filter(F.col("doc_id") % mod == 0)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    cand = sh.filter(F.col("doc_id") % mod != 0).select(
        "doc_id",
        F.size("shingles").alias("n_shingles"),
        F.explode("shingles").alias("shingle"),
    )
    return (
        cand.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count("*").alias("n_overlap"))
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            F.round(
                F.col("n_overlap").cast("double") / F.col("n_shingles"), 6
            ).alias("contamination"),
        )
        .orderBy(F.col("contamination").desc(), "doc_id")
        .limit(top_k)
    )


def winnow_substring_pairs(
    docs: DataFrame,
    k: int = 20,
    w: int = 8,
    max_df: int = 20,
    min_shared: int = 3,
    top_k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Substring-level near-dup pairs via winnowed fingerprints
    (copied passages, not whole-document similarity).

    Every shared substring of length ≥ k+w−1 chars is guaranteed to
    produce a shared fingerprint; pairs sharing ≥ ``min_shared``
    fingerprints are ranked.  Fingerprints occurring in more than
    ``max_df`` documents are dropped first — the standard ubiquitous-
    n-gram stop list (boilerplate would otherwise make the pair join
    quadratic in the corpus, the same reason suffix-array dedup
    pipelines drop high-frequency grams).

    Scale: fingerprinting is row-local; the stop-list filter bounds
    every fingerprint's pair fan-out at max_df², so pair generation is
    bounded per group — no cross product.

    Shape: ONE shuffle of the fingerprint table —
    ``groupBy(fp).collect_list(doc_id)`` — with the stop list falling
    out of the same aggregate (``size(ids) <= max_df``), then bounded
    in-group pair explosion (≤ max_df·(max_df−1)/2 = 190 structs per
    group at the default).  The previous df-filter-join + fp-equi-self-
    join shape ran the Arrow fingerprint pass twice (the aggregate and
    the join probe side shuffle through different exchanges, so
    exchange reuse can't share them) and shuffled ``fps`` three times;
    measured 1M-doc stress: 104.8 s → 22.4 s (4.7x), value-identical.
    """
    from idn_area_etl_spark.operators.text import winnow_fingerprint_rows

    # vectorized Arrow fingerprint stage — value-identical to
    # explode(winnow_fingerprints_expr(...)), ~100x cheaper per doc.
    fps = winnow_fingerprint_rows(docs, k, w, text_col)
    groups = (
        fps.groupBy("fp")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_df))
    )
    # ids are distinct per fp (fingerprint rows are per-doc distinct)
    # and sorted ascending, so (x, y) with y after x gives doc_a < doc_b.
    pairs = groups.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ids",
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + F.lit(2), F.size("ids")),
                        lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .orderBy(F.col("n_shared").desc(), "doc_a", "doc_b")
        .limit(top_k)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    top_k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity over blocked pairs.

    Blocking on (lang, length-band) keeps the self-join from becoming
    an all-pairs product — the block key is the shuffle key, so each
    executor sees only intra-block pairs.  Word shingles keep the
    per-doc arrays ~6× smaller than char shingles (the intersect cost
    is quadratic-ish in array size).  For unblocked scale-out use
    minhash_candidates instead.
    """
    return (
        _blocked_jaccard(docs, n, text_col)
        .select("doc_a", "doc_b", F.round("jaccard_raw", 6).alias("jaccard"))
        .orderBy(F.desc("jaccard"), "doc_a", "doc_b")
        .limit(top_k)
    )


def jaccard_edges(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate edge list: blocked pairs with Jaccard ≥
    threshold, as ``(doc_a, doc_b)`` — input to
    :func:`idn_area_etl_spark.operators.graph.connected_components`
    for cluster-then-keep-one fuzzy dedup."""
    return (
        _blocked_jaccard(docs, n, text_col)
        .filter(F.col("jaccard_raw") >= threshold)
        .select("doc_a", "doc_b")
    )


def _blocked_jaccard(docs: DataFrame, n: int, text_col: str) -> DataFrame:
    """Blocked self-join with exact word-n-gram Jaccard in
    ``jaccard_raw`` (unrounded double)."""
    # Shingles are xxhash64'd to longs before the self-join: the
    # array_intersect then compares 8-byte values instead of ~20-char
    # strings (~35% cheaper per pair, measured), and Jaccard over the
    # hashed sets equals Jaccard over the string sets up to 64-bit
    # collisions (~1e-8 at millions of distinct shingles).
    sh = docs.filter(F.length(text_col) >= n).select(
        "doc_id",
        "lang",
        F.floor(F.length(text_col) / 100).cast("int").alias("len_band"),
        _hashed_shingles(text_col, n).alias("shingles"),
    )
    # materialize the shingle stage once — both self-join sides read it
    sh = _stage(sh)
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    uni = F.size(F.col("a.shingles")) + F.size(F.col("b.shingles")) - inter
    return a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.len_band") == F.col("b.len_band"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        (inter.cast("double") / uni).alias("jaccard_raw"),
    )


def _minhash_sketch(
    docs: DataFrame, num_hashes: int, n: int, text_col: str
) -> DataFrame:
    """The sketch every MinHash join reads: ``(doc_id, _m0 ..
    _m{num_hashes-1}, sh)`` — the affine-permutation minima of the
    signature and the hashed shingle set, from ONE regex-shingle scan,
    one explode and one per-doc aggregate.

    The aggregate is one SQL statement over the exploded frame (one
    parse instead of a py4j ``F.expr`` per aggregate), and its
    optimized plan is the bare ``Aggregate`` over the ``Generate``.
    Because ``collect_set`` is an object aggregate, both the partial
    and the final aggregate run as ``ObjectHashAggregate``, outside
    whole-stage codegen, and a task holding more than
    ``spark.sql.objectHashAggregate.sortBased.fallbackThreshold``
    (128) docs switches to sort-based aggregation.  Each doc's
    shingles come from one input row, so the partial aggregate
    already holds one finished row per doc and the exchange carries
    that row.  (Per-doc ``transform``+``array_min`` lambdas instead
    would run interpreted, as in :func:`simhash_signatures`.)
    ``explode_outer`` keeps a doc with no shingle as one NULL-hash
    row, whose minima are NULL.

    ``sh`` holds xxhash64 longs, not shingle strings (same trade as
    :func:`_blocked_jaccard`: exact up to 64-bit collisions, ~35%
    cheaper intersects) and, load-bearing at scale, raw shingle text
    is so repetitive that AQE's compressed-size estimate can pick a
    broadcast whose deserialized form is GBs (seen with
    :func:`prefix_jaccard_join` at 1M docs); hashed longs compress
    ~1:1, so AQE's adaptive join choice stays trustworthy.
    ``collect_set`` drops duplicates and NULLs: shingle arrays are
    already distinct and xxhash64 never returns NULL, so set semantics
    are exact.  A caller that selects only the minima gets a plan
    without the ``collect_set`` (column pruning drops it)."""
    p = f"CAST({MINHASH_PRIME} AS BIGINT)"
    exploded = docs.select(
        "doc_id", F.explode_outer(_hashed_shingles(text_col, n)).alias("_h")
    )
    minima = ", ".join(
        f"min(pmod(pmod(_h, {p}) * {a} + {b}, {p})) AS _m{i}"
        for i, (a, b) in enumerate(_MINHASH_PARAMS[:num_hashes])
    )
    return docs.sparkSession.sql(
        f"SELECT doc_id, {minima}, collect_set(_h) AS sh FROM {{t}} GROUP BY doc_id",
        t=exploded,
    )


def _signature(num_hashes: int) -> str:
    """The sketch minima as one ``signature`` array, as SQL text."""
    minima = ", ".join(f"_m{i}" for i in range(num_hashes))
    return f"array({minima}) AS signature"


def _band_keys(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """``(doc_id, band_no, band_hash)``: one row per band of each
    ``signature``.

    ``band_hash`` is ``xxhash64(band_no, sig[i..i+r-1])`` over the
    signature longs, so two docs collide in a band iff their band
    slices are equal (modulo 2^-64 hash-collision odds).  ``bands`` is
    a Python constant, so the struct array is plain column expressions
    (whole-stage codegen), not an interpreted ``transform`` lambda over
    ``sequence``."""
    entries = ", ".join(
        f"named_struct('band_no', {bno}, 'band_hash', xxhash64({bno}, "
        + ", ".join(
            f"get(signature, {bno * rows_per_band + j})" for j in range(rows_per_band)
        )
        + "))"
        for bno in range(bands)
    )
    return sigs.selectExpr("doc_id", f"explode(array({entries})) AS band").selectExpr(
        "doc_id", "band.band_no", "band.band_hash"
    )


def _sets_and_keys(
    sketch: DataFrame, num_hashes: int, bands: int
) -> tuple[DataFrame, DataFrame]:
    """The two views of a sketch the joins read: the verify sets
    ``(doc_id, sh, nsh)`` and the band keys of :func:`_band_keys`."""
    sets = sketch.selectExpr("doc_id", "sh", "size(sh) AS nsh")
    sigs = sketch.selectExpr("doc_id", _signature(num_hashes))
    return sets, _band_keys(sigs, bands, num_hashes // bands)


def _band_pairs(left: DataFrame, right: DataFrame) -> DataFrame:
    """Distinct ``(doc_a, doc_b)`` id pairs, ``doc_a`` from ``left``,
    ``doc_b`` from ``right``, that collide in at least one band: an
    equi-join on the compact ``(band_no, band_hash)`` key (a plain
    shuffle join, never a cross product).  Callers keep the pairs they
    want with a filter on the two ids; the optimizer pushes it into
    the join condition."""
    a, b = left.alias("a"), right.alias("b")
    return (
        a.join(b, F.expr("a.band_no = b.band_no AND a.band_hash = b.band_hash"))
        .selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b")
        .distinct()
    )


def _verify_jaccard(
    cand: DataFrame, left: DataFrame, right: DataFrame, num: int, den: int
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs.

    ``cand`` has two id columns, matched to ``left``'s and ``right``'s
    ``(doc_id, sh, nsh)`` sets.  Returns those two columns plus
    ``n_inter``, ``n_union`` and the rounded ``jaccard`` for the pairs
    with ``jaccard >= num/den``, tested in exact integers
    (``inter*den >= union*num``, no float edge)."""
    id_a, id_b = cand.columns
    sets_a = left.selectExpr(f"doc_id AS {id_a}", "sh AS sh_a", "nsh AS n_a")
    sets_b = right.selectExpr(f"doc_id AS {id_b}", "sh AS sh_b", "nsh AS n_b")
    inter = "size(array_intersect(sh_a, sh_b))"
    return (
        cand.join(sets_a, id_a)
        .join(sets_b, id_b)
        .selectExpr(id_a, id_b, f"{inter} AS n_inter", f"n_a + n_b - {inter} AS n_union")
        .where(f"n_inter * {den} >= n_union * {num}")
        .selectExpr(
            id_a,
            id_b,
            "n_inter",
            "n_union",
            "round(CAST(n_inter AS DOUBLE) / n_union, 6) AS jaccard",
        )
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 32,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """MinHash signatures: min over word-n-gram shingles of affine
    permutations of xxhash64(shingle) mod P.  num_hashes independent
    permutations → E[matching fraction] = Jaccard similarity."""
    return _minhash_sketch(docs, num_hashes, n, text_col).selectExpr(
        "doc_id", _signature(num_hashes)
    )


def minhash_candidates(
    docs: DataFrame,
    threshold: float = 0.3,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """MinHash-LSH candidate pairs with estimated Jaccard ≥ threshold.

    The banded bucket join is the scale path: signatures split into
    ``bands`` bands of ``num_hashes/bands`` rows; docs colliding in any
    band become candidates (equi-join on the band hash — a plain
    shuffle join on a compact key, no cross product), then the full
    signatures estimate similarity.
    """
    # four consumers (key sides a/b, signature sides sa/sb) read the
    # signatures; staged, the regex-shingle scan runs once
    sigs = _stage(minhash_signatures(docs, num_hashes, n, text_col))
    keys = _band_keys(sigs, bands, num_hashes // bands)
    cand = _band_pairs(keys, keys).where("doc_a < doc_b")
    sa = sigs.selectExpr("doc_id AS doc_a", "signature AS sig_a")
    sb = sigs.selectExpr("doc_id AS doc_b", "signature AS sig_b")
    same = "filter(zip_with(sig_a, sig_b, (x, y) -> x = y), same -> same)"
    est = f"CAST(size({same}) AS DOUBLE) / {float(num_hashes)!r}D"
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .selectExpr("doc_a", "doc_b", f"round({est}, 6) AS est_jaccard")
        .where(f"est_jaccard >= {float(threshold)!r}D")
    )


def minhash_verified_pairs(
    docs: DataFrame,
    threshold_num: int = 3,
    threshold_den: int = 5,
    num_hashes: int = 64,
    bands: int = 32,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """The actual 100 TB fuzzy-dedup recipe: MinHash-LSH candidate
    generation followed by EXACT word-n-gram Jaccard verification on
    the candidates only.

    Candidate generation is the banded bucket equi-join from
    :func:`minhash_candidates` (compact ``(band_no, band_hash)`` key,
    never an all-pairs product); verification then computes the exact
    Jaccard for each candidate and keeps pairs with
    ``jaccard >= threshold_num/threshold_den`` — the threshold test is
    exact integer arithmetic (``inter*den >= union*num``), no float
    edges.  With ``bands`` bands of ``num_hashes/bands`` rows, a pair
    at the threshold is missed with probability
    ``(1 - tau^(num_hashes/bands))^bands`` — at tau=0.6, 64 hashes and
    32 two-row bands that is (1-0.36)^32 < 1e-6, so at test scale the
    output equals the exact all-pairs join (which is what the DuckDB
    oracle computes) while the plan stays equi-join-only.

    Output: ``(doc_a, doc_b, n_inter, n_union, jaccard)`` sorted by
    pair id.
    """
    # Stage separation: the sketch (signature minima + hashed shingle
    # set, tiny next to the text) feeds four consumers (key sides a/b,
    # verify sides).  Without staging, Catalyst prunes each branch
    # differently (keys keep the minima, verify keeps sh), the
    # canonical subplans diverge, ReuseExchange cannot share them, and
    # with broadcast joins the probe sides stream the un-reused
    # aggregate — four full regex-shingle scans of the corpus.  This is
    # the move a 100 TB pipeline makes by writing the signature stage
    # to a table between jobs.
    sketch = _stage(_minhash_sketch(docs, num_hashes, n, text_col))
    sets, keys = _sets_and_keys(sketch, num_hashes, bands)
    cand = _band_pairs(keys, keys).where("doc_a < doc_b")
    return _verify_jaccard(cand, sets, sets, threshold_num, threshold_den)


def simhash_signatures(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash over whitespace tokens as a hex string.

    Each bit is the sign of the sum of ±1 votes from xxhash64(token)
    bits; near-duplicate texts land within a few bits of Hamming
    distance.

    Execution shape: explode the token hashes and compute the 64 bit
    votes as plain ``sum`` aggregates (bit b votes +1 iff
    ``2*count(bit set) > count(tokens)``).  Plain sums stay inside
    whole-stage codegen with map-side partial aggregation — since every
    doc's tokens come from one input row, the aggregation COMPLETES
    map-side and the exchange carries one finished 64-counter row per
    doc (~0.5 KB).  The previous formulation folded a 64-way
    higher-order ``aggregate`` lambda per document; HOF lambdas are
    interpreted (no codegen), which measured ~20x slower at 50k docs
    (tools/stress.py).  The packed int64 ``sig`` is what pair
    comparisons use: hamming = bit_count(a ^ b), one ALU op per pair.
    """
    tokens = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda t: t != F.lit(""),
    )
    tok = docs.select(
        "doc_id",
        F.explode_outer(
            F.transform(tokens, lambda t: F.xxhash64(t))
        ).alias("_h"),
    )
    # explode_outer keeps empty/null-text docs as a single null-hash
    # row; count("_h") ignores nulls so their n_tok is 0 and every bit
    # votes 0, matching the fold semantics (empty sum is not > 0).
    counts = tok.groupBy("doc_id").agg(
        F.count("_h").alias("_n_tok"),
        *[
            F.coalesce(
                F.sum(F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1))),
                F.lit(0),
            ).alias(f"_c{b}")
            for b in range(64)
        ],
    )
    # bit b (MSB-first) is 1 iff set-votes outnumber clear-votes:
    # sum(±1) = 2*c_b - n_tok > 0
    packed = None
    for b in range(63, -1, -1):
        term = F.shiftleft(
            (F.lit(2) * F.col(f"_c{b}") > F.col("_n_tok"))
            .cast("long"),
            b,
        )
        packed = term if packed is None else packed.bitwiseOR(term)
    bits = F.lpad(F.bin("sig"), 64, "0")
    return (
        counts.select("doc_id", packed.alias("sig"))
        .select("doc_id", bits.alias("bits"), "sig")
        .select(
            "doc_id", "bits", F.conv("bits", 2, 16).alias("simhash"), "sig"
        )
    )


def simhash_near_pairs(
    docs: DataFrame, max_hamming: int = 3, text_col: str = "text"
) -> DataFrame:
    """SimHash near-dup pairs within a Hamming radius.

    Scale path: block on 16-bit quarters (a pair within Hamming ≤ 3 of
    64 bits must agree exactly on ≥ 1 of 4 quarters — pigeonhole), so
    candidates come from 4 equi-joins, not a cross product.
    """
    # both join sides read the signatures; staged, the explode+sum
    # signature scan runs once
    sigs = _stage(simhash_signatures(docs, text_col))
    # 16-bit quarters of the packed signature (shift + mask — no string
    # manipulation in the blocking key either)
    quarters = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), qi -> struct("
                "  qi AS q_no,"
                "  (shiftright(sig, (3 - qi) * 16) & 65535) AS q_val))"
            )
        ).alias("q"),
    ).select("doc_id", "sig", "q.q_no", "q.q_val")
    a, b = quarters.alias("a"), quarters.alias("b")
    # popcount of the XOR of the packed longs — one codegen'd ALU op per
    # pair vs the former 64-char string zip (~64× less work per pair)
    hamming = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    return (
        a.join(
            b,
            (F.col("a.q_no") == F.col("b.q_no"))
            & (F.col("a.q_val") == F.col("b.q_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def prefix_jaccard_join(
    docs: DataFrame,
    n: int = 5,
    tau_num: int = 4,
    tau_den: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering
    (AllPairs/PPJoin family): all document pairs whose distinct word
    ``n``-gram shingle sets have Jaccard >= ``tau_num/tau_den``.

    The scale story, versus the all-pairs / blocked joins above:

    1. Shingle sets are ordered rare-first by the ``(document
       frequency, shingle)`` pair — a consistent total order with NO
       globally-materialized rank: df joins back onto the exploded
       shingles with a plain shuffle equi-join, and the only window is
       per-document.  (A previous version ranked the whole vocabulary
       through one unpartitioned row_number window and broadcast it —
       a single-task sort plus a vocabulary-sized broadcast, both of
       which die at 100 TB.)
    2. Each document emits only its **prefix** — the first
       ``|S| - ceil(tau*|S|) + 1`` shingles under that ordering.  The
       pigeonhole guarantee: two sets with Jaccard >= tau MUST share
       at least one prefix shingle, so the candidate equi-join on the
       prefix shingle loses nothing.  Rare-first ordering makes the
       per-shingle candidate lists short (frequent shingles almost
       never appear in prefixes).
    3. A length filter (``tau*max(|A|,|B|) <= min(|A|,|B|)``, kept in
       exact integer arithmetic) prunes candidates before
       verification; verification is one ``array_intersect`` per
       surviving pair.

    The candidate join is an equi-join on the prefix shingle — a plain
    shuffle-hash/sort-merge join, never a cartesian — and the final
    threshold test ``inter*tau_den >= union*tau_num`` stays in
    integers (no float threshold edge cases).

    Documents with fewer than ``n`` tokens have no n-gram shingles and
    are excluded (mirrors the SQL oracle's ``len >= n`` guard).
    """
    # Token-count guard first (docs with < n tokens have no n-gram
    # shingles and are excluded, mirroring the oracle's len >= n), then
    # the shared regex-scan shingler — for >= n-token docs its
    # whole-text fallback never fires, so it emits exactly the n-gram
    # windows.  The previous inline transform/slice/array_join lambdas
    # were interpreted per position (~0.8 ms/doc); this path took the
    # 100k-doc stress run from 77 s to the join-bound cost.
    n_tokens = F.size(
        F.regexp_extract_all(F.trim(F.col(text_col)), F.lit(r"\S+"), 0)
    )
    # tok feeds the df agg, the prefix build and both verify sides;
    # staged, the regex-shingle scan runs once
    tok = (
        docs.filter(n_tokens >= n)
        .select(
            "doc_id",
            token_shingles_expr(text_col, n).alias("sh"),
        )
        .select("doc_id", "sh", F.size("sh").alias("nsh"))
    )
    tok = _stage(tok)
    ex = tok.select("doc_id", "nsh", F.explode("sh").alias("s"))
    # Rare-first ordering comes from the (document-frequency, shingle)
    # pair directly — no global integer rank is materialized.  The old
    # formulation ranked the whole vocabulary through one unpartitioned
    # row_number window and broadcast it (both explode at 100 TB); the
    # pigeonhole argument only needs a consistent total order, and
    # (df, s) already is one.  dfreq joins back via a sort-merge
    # equi-join on the shingle, and the only window left is
    # per-document.
    #
    # Every join side in this operator scales WITH THE CORPUS
    # (vocabulary df, per-doc prefixes, full shingle arrays), so none
    # is ever broadcast-safe — and shingle text is so repetitive that
    # AQE's compressed-shuffle size estimate can sit under the
    # broadcast threshold while the deserialized table is GBs (seen
    # at 1M synthetic docs: a "64 MB" side whose broadcast collect
    # blew spark.driver.maxResultSize).  The merge hints pin every
    # join to sort-merge.
    dfreq = ex.groupBy("s").agg(F.count("*").alias("df")).hint("merge")
    # prefix length L = |S| - ceil(tau*|S|) + 1, in exact integers
    ceil_tau_n = F.floor(
        (F.lit(tau_num) * F.col("nsh") + F.lit(tau_den - 1)) / F.lit(tau_den)
    )
    prefix = (
        ex.join(dfreq, "s")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "s")
            ),
        )
        .filter(F.col("pos") <= F.col("nsh") - ceil_tau_n + F.lit(1))
        .select("doc_id", "nsh", "s")
    )
    # both candidate-join sides read the prefix stage; materialize it
    # once instead of re-running the df join + per-doc window
    prefix = _stage(prefix)
    a, b = prefix.hint("merge").alias("a"), prefix.hint("merge").alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.lit(tau_num)
                * F.greatest(F.col("a.nsh"), F.col("b.nsh"))
                <= F.lit(tau_den)
                * F.least(F.col("a.nsh"), F.col("b.nsh"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
        )
        .distinct()
    )
    sets = tok.hint("merge")
    return _verify_jaccard(cand, sets, sets, tau_num, tau_den)
