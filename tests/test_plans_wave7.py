"""Seventh-wave queries: the sampling / sketch / layout properties
SQL can't express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idn_area_etl_spark.plans import all_specs, wave7
from idn_area_etl_spark.sinks import zvalue
from idn_area_etl_spark.sources.tables import load_table


def test_all_wave7_registered():
    specs = all_specs()
    assert all(specs[spec.name] is spec for spec in wave7.SPECS)


@pytest.mark.parametrize(
    "name", [s.name for s in wave7.SPECS if s.oracle is not None]
)
def test_wave7_matches_duckdb_oracle(oracle_parity, name):
    oracle_parity(name)


def test_weighted_sample_partition_invariant(spark, sf_dir):
    build = all_specs()["s_weighted_sample_docs"].builder
    ids = [r.doc_id for r in build(spark, sf_dir).collect()]
    docs = load_table(spark, sf_dir, "documents").repartition(17)
    docs.createOrReplaceTempView("documents_repart")
    # rebuild from a differently-partitioned base: same selection
    again = [r.doc_id for r in build(spark, sf_dir).collect()]
    assert ids == again


def test_weighted_sample_prefers_longer_docs(spark, sf_dir):
    """E[selection] ∝ weight: the sampled docs' mean length must
    exceed the corpus mean by a clear margin."""
    docs = load_table(spark, sf_dir, "documents")
    corpus_mean = docs.agg(F.avg("n_chars")).collect()[0][0]
    sample = all_specs()["s_weighted_sample_docs"].builder(spark, sf_dir)
    sample_mean = sample.agg(F.avg("n_chars")).collect()[0][0]
    assert sample_mean > corpus_mean * 1.1


def test_quantile_sketch_within_accuracy(spark, sf_dir):
    """GK with accuracy=10000 ⇒ rank error ≤ 1/10000; the spec emits
    in-plan booleans asserting each estimate sits inside the exact
    percentiles at rank ±5/accuracy (the oracle pins them TRUE), and
    the raw estimate re-computed here sits within a whisker of the
    exact median."""
    from pyspark.sql import functions as F

    from idn_area_etl_spark.sources.tables import load_table

    rows = all_specs()["a_quantile_sketch"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.p50_in_bounds and r.p99_in_bounds, r
    li = load_table(spark, sf_dir, "lineitem")
    # exact_p50 is the DISCRETE median (r7): the stored element at rank
    # ceil(n/2) — strictly-less count below the target rank, le-count
    # at or past it
    for r in rows:
        flag = li.filter(F.col("l_returnflag") == r.l_returnflag)
        n = flag.count()
        target = (n + 1) // 2
        n_lt = flag.filter(F.col("l_extendedprice") < r.exact_p50).count()
        n_le = flag.filter(F.col("l_extendedprice") <= r.exact_p50).count()
        assert n_lt < target <= n_le, (r.l_returnflag, n_lt, target, n_le)
    raw = li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias(
            "ap50"
        ),
        F.expr("percentile(l_extendedprice, 0.5)").alias("x50"),
    ).collect()
    for r in raw:
        assert abs(r.ap50 - r.x50) / r.x50 < 0.01


def _morton(x: int, y: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zvalue_matches_pure_python(spark):
    pts = [(x, y) for x in (0, 1, 5, 255, 1023) for y in (0, 2, 7, 512, 1023)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", zvalue(F.col("x"), F.col("y"), 10).alias("z")).collect()
    }
    for (x, y), z in got.items():
        assert z == _morton(x, y, 10), (x, y)


def test_zvalue_clusters_quadrants(spark):
    """Top bit of each coordinate dominates the key: every point of
    the low quadrant sorts before any point of the high quadrant."""
    lo = [(x, y) for x in range(0, 8) for y in range(0, 8)]
    hi = [(x, y) for x in range(8, 16) for y in range(8, 16)]
    df = spark.createDataFrame(lo + hi, "x long, y long")
    ordered = df.select(
        "x", "y", zvalue(F.col("x"), F.col("y"), 4).alias("z")
    ).orderBy("z").collect()
    first_hi = next(i for i, r in enumerate(ordered) if r.x >= 8)
    assert all(r.x < 8 and r.y < 8 for r in ordered[:first_hi])
    assert all(r.x >= 8 and r.y >= 8 for r in ordered[first_hi:])


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """The layout payoff: z-clustering bounds BOTH column ranges per
    file, so a slab predicate on *either* axis touches few files.
    Single-key (row-major) clustering serves one axis and forces a
    full-file sweep on the other — exactly what parquet min/max file
    and row-group pruning keys on."""
    from idn_area_etl_spark.sinks import write_partitioned_parquet

    n = 1 << 12  # 64×64 grid
    grid = spark.range(n).select(
        (F.col("id") % 64).alias("x"),
        F.floor(F.col("id") / 64).alias("y"),
        F.lit("p").alias("part"),
    )
    zkeyed = grid.withColumn("zkey", zvalue(F.col("x"), F.col("y"), 6))

    def files_touched(path: str) -> int:
        """Files whose (min,max) stats intersect x<8, plus those
        intersecting y<8 — the two thin-slab scans."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        hits = 0
        for frag in ds.dataset(path, format="parquet").get_fragments():
            tbl = frag.to_table(columns=["x", "y"])
            if pc.min(tbl.column("x")).as_py() < 8:
                hits += 1
            if pc.min(tbl.column("y")).as_py() < 8:
                hits += 1
        return hits

    z_path, plain_path = str(tmp_path / "z"), str(tmp_path / "plain")
    write_partitioned_parquet(
        zkeyed, z_path, ["part"], cluster_by=["zkey"], max_records_per_file=256
    )
    write_partitioned_parquet(
        zkeyed, plain_path, ["part"], cluster_by=["y", "x"],
        max_records_per_file=256,
    )
    # 256-row files: z-order → 16×16 tiles, 4 files per slab (8 total);
    # row-major → every file spans all x, so the x-slab sweeps all 16.
    assert files_touched(z_path) < files_touched(plain_path) * 0.6
