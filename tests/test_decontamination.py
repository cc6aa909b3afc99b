"""Benchmark decontamination (n-gram overlap vs an eval set) — oracle
compare at fixture scale plus semantic invariants, including the round-12
Bloom membership sketch (one-sided verdicts, certified false positives,
OR-merge law)."""

from __future__ import annotations

from pyspark.sql import functions as F

from rangebar_patterns_spark.operators.textops import (
    BENCHMARK_MOD,
    BENCHMARK_RESIDUE,
    benchmark_overlap,
    benchmark_overlap_bloom,
)
from rangebar_patterns_spark.plans.textops_oracle import decontamination_sql
from rangebar_patterns_spark.sources.tables import load_table

from conftest import SF_DIR, compare_frames


def _split(spark):
    docs = load_table(spark, SF_DIR, "documents")
    is_bench = F.col("doc_id") % BENCHMARK_MOD == BENCHMARK_RESIDUE
    return docs.filter(~is_bench), docs.filter(is_bench)


def test_matches_oracle(spark, duck):
    """The full union panel (doc rows + filter rows) hash-matches the
    DuckDB twin — which builds the merged bit array GLOBALLY while Spark
    OR-merges the per-part partials, so this equality certifies the
    Bloom OR-merge law on top of the exact-overlap ground truth."""
    corpus, bench = _split(spark)
    sp = benchmark_overlap_bloom(corpus, bench)
    du = duck.execute(decontamination_sql()).df()
    compare_frames(sp, du)


def test_bloom_one_sided_with_real_false_positives(spark):
    """Bloom verdicts are one-sided (never a false negative: every exact
    hit is a bloom hit, so n_bloom >= n_contaminated and the exact
    verdict implies the bloom verdict), and the geometry is deliberately
    lossy enough that REAL false positives occur at the fixture — both
    at shingle grain (n_false_pos > 0 somewhere) and at verdict grain
    (at least one fp_flag document)."""
    corpus, bench = _split(spark)
    doc = benchmark_overlap_bloom(corpus, bench).filter(
        F.col("row_kind") == "doc"
    )
    assert doc.filter(F.col("n_bloom") < F.col("n_contaminated")).count() == 0
    assert doc.filter(F.col("n_false_pos") < 0).count() == 0
    assert (
        doc.filter(
            (F.col("is_contaminated") == "true")
            & (F.col("is_contaminated_bloom") != "true")
        ).count()
        == 0
    )
    assert doc.filter(F.col("n_false_pos") > 0).count() > 0
    assert doc.filter(F.col("fp_flag") == "true").count() > 0


def test_bloom_filter_rows_geometry(spark):
    """Filter rows: every partial shares the merged array's geometry m,
    bits-set never exceeds k * inserted (nor m), the merged array's
    popcount is at most the sum of the partials' (OR can only lose
    bits to overlap, never gain), and fill stays under 50% (the
    bits-per-element design keeps FP rates scale-invariant)."""
    from rangebar_patterns_spark.operators.textops import BLOOM_K

    corpus, bench = _split(spark)
    rows = (
        benchmark_overlap_bloom(corpus, bench)
        .filter(F.col("row_kind") == "filter")
        .collect()
    )
    parts = [r for r in rows if r.part != "__merged__"]
    merged = [r for r in rows if r.part == "__merged__"]
    assert len(merged) == 1 and len(parts) >= 1
    m = merged[0].bloom_m
    for r in rows:
        assert r.bloom_m == m
        assert 0 < r.n_bloom <= min(BLOOM_K * r.n_shingles, m)
    assert merged[0].n_bloom <= sum(r.n_bloom for r in parts)
    assert merged[0].n_bloom >= max(r.n_bloom for r in parts)
    assert merged[0].bloom_ratio < 0.5


def test_bloom_partition_layout_invariant(spark):
    """The panel is a pure function of the data — repartitioning either
    side changes nothing (per-partition bit_or partials merge to the
    same array, the probe is per-row math)."""
    corpus, bench = _split(spark)
    a = sorted(map(tuple, benchmark_overlap_bloom(corpus, bench).collect()))
    b = sorted(
        map(
            tuple,
            benchmark_overlap_bloom(
                corpus.repartition(13, "doc_id"), bench.repartition(3)
            ).collect(),
        )
    )
    assert a == b


def test_benchmark_docs_self_score_fully(spark):
    """Scoring the eval set against itself must flag every member with a
    shingle as 100% contaminated — the operator's sanity anchor."""
    _, bench = _split(spark)
    out = benchmark_overlap(bench, bench).filter(F.col("n_shingles") > 0)
    assert out.count() > 0
    assert out.filter(~F.col("is_contaminated")).count() == 0
    assert out.filter(F.col("contamination_ratio") != 1.0).count() == 0


def test_disjoint_benchmark_scores_zero(spark):
    corpus, _ = _split(spark)
    bench = corpus.sparkSession.createDataFrame(
        [("zzq xxv wwy uup ttr ssn zzq xxv wwy",)], "text string"
    )
    out = benchmark_overlap(corpus.limit(50), bench)
    assert out.filter(F.col("n_contaminated") != 0).count() == 0


def test_bloom_panel_leaves_no_persisted_relation(spark):
    """The panel is a plan, not a cache owner: building and collecting it
    must leave no persisted RDD behind, because nothing ever releases one
    made here.  The reset first drops any cached twin of the panel's
    relations from earlier tests, which would otherwise hide a new
    persist."""
    from rangebar_patterns_spark.plans.catalog import reset_plan_caches

    reset_plan_caches(spark)

    def persisted() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    corpus, bench = _split(spark)
    benchmark_overlap_bloom(corpus, bench).collect()
    assert not persisted() - before
