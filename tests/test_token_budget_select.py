"""pipeline_token_budget_select: the histogram-threshold selection must
reproduce the global prefix rule EXACTLY (the oracle comparison proves it
on the synthetic corpus; these tests pin the boundary geometry on crafted
corpora where the budget crossing is engineered, including the
exact-landing edge the histogram logic special-cases)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from thesis_iceberg_spark.queries import REGISTRY, queries
from thesis_iceberg_spark.queries.text import quality_frame

queries()

_FN = REGISTRY["pipeline_token_budget_select"].fn


def _write_docs(spark, tmp_path_factory, rows, name):
    d = str(tmp_path_factory.mktemp(name))
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).write.parquet(f"{d}/documents.parquet")
    return d


@pytest.fixture(scope="module")
def mixed_dir(spark, tmp_path_factory):
    # quality_score rises with alpha ratio and token count; build docs of
    # graded quality so scores spread across histogram bins and the
    # budget crossing lands INSIDE a bin (docs of equal score share a bin,
    # so crafting several same-score docs exercises the within-bin sort)
    rows = []
    did = 1
    for grade in range(8):
        # grade g: g+2 clean words -> monotone score ladder
        text = " ".join(f"word{w}" for w in range(grade + 2))
        for _ in range(4):  # 4 identical-score docs per grade
            rows.append((did, text, "en", "web", len(text)))
            did += 1
    # degenerate rows: excluded by the score-IS-NOT-NULL contract
    rows += [(did, "", "en", "web", 0), (did + 1, None, "fr", "web", None)]
    return _write_docs(spark, tmp_path_factory, rows, "budgetcorp")


def _reference_prefix(spark, sf_dir):
    """The naive global-sort form computed independently of the operator."""
    s = (
        quality_frame(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        )
        .filter(F.col("quality_score").isNotNull())
        .select("doc_id", "quality_score", "n_tokens")
        .collect()
    )
    s.sort(key=lambda r: (-r.quality_score, r.doc_id))
    budget = int(sum(r.n_tokens for r in s) * 0.5)
    kept, cum = [], 0
    for r in s:
        cum += r.n_tokens
        if cum > budget:
            break
        kept.append(r.doc_id)
    return set(kept), budget


def test_matches_global_prefix_rule(spark, mixed_dir):
    expect, budget = _reference_prefix(spark, mixed_dir)
    out = _FN(spark, mixed_dir).collect()
    assert {r.doc_id for r in out} == expect
    # the crossing lands inside a bin here: kept mass is under budget but
    # adding any dropped doc would exceed it (greedy prefix optimality)
    assert sum(r.n_tokens for r in out) <= budget


def test_single_bin_boundary(spark, tmp_path_factory):
    # every doc identical -> ONE bin holds everything and that bin IS the
    # budget-crossing bin (cum_before=0 < budget=24 < cum_through=48):
    # the whole answer comes from the boundary-sort branch
    rows = [(i, "alpha beta gamma", "en", "web", 16) for i in range(1, 17)]
    d = _write_docs(spark, tmp_path_factory, rows, "singlebin")
    expect, budget = _reference_prefix(spark, d)
    out = _FN(spark, d).collect()
    assert {r.doc_id for r in out} == expect
    assert len({r.sel_bucket for r in out}) == 1
    assert sum(r.n_tokens for r in out) == budget


def test_exact_landing_no_boundary_bin(spark, tmp_path_factory):
    # TWO score grades where the higher grade's token mass EXACTLY equals
    # the budget: grade A = 4 clean 6-token docs (24 tokens), grade B = 8
    # punctuation-heavy 3-token docs (24 tokens, much lower score, so a
    # different bin) -> budget = floor(48*0.5) = 24 = mass(A).  Bin A has
    # cum_through == budget (fully kept, NOT a crossing bin) and bin B
    # has cum_before == budget with cum_through > budget (boundary under
    # the <=-rule, but every B doc overflows) — the kept set must be
    # exactly grade A, produced by the full_min filter (review r10: the
    # single-bin corpus this test previously used could never produce
    # the cum_through == budget geometry its name claims)
    rows = [
        (i, "alpha beta gamma delta epsil zeta", "en", "web", 34)
        for i in range(1, 5)
    ] + [
        (i, "x1. y2. z3.", "en", "web", 11)
        for i in range(10, 18)
    ]
    d = _write_docs(spark, tmp_path_factory, rows, "exactland")
    expect, budget = _reference_prefix(spark, d)
    assert expect == {1, 2, 3, 4}  # the geometry actually holds
    out = _FN(spark, d).collect()
    assert {r.doc_id for r in out} == expect
    assert sum(r.n_tokens for r in out) == budget == 24
    assert len({r.sel_bucket for r in out}) == 1  # all from grade A's bin


def test_empty_and_degenerate_corpus(spark, tmp_path_factory):
    d = _write_docs(
        spark,
        tmp_path_factory,
        [(1, "", "en", "web", 0), (2, None, "fr", "web", None)],
        "degtok",
    )
    assert _FN(spark, d).count() == 0


# --- iterative boundary refinement (the 100 TB completion) -----------------


def test_refinement_score_bins_match_reference(spark, mixed_dir):
    from thesis_iceberg_spark.queries.pipeline_q import token_budget_select_df

    docs = spark.read.parquet(f"{mixed_dir}/documents.parquet")
    expect, _ = _reference_prefix(spark, mixed_dir)
    depth: list = []
    out = token_budget_select_df(
        docs, boundary_sort_cap=2, refine_depth_out=depth
    ).collect()
    assert {r.doc_id for r in out} == expect
    # the crossing bin holds 4 equal-score docs > cap, so at least one
    # refinement level ran (score bins first, then the equal-score run
    # falls to id bins)
    assert depth[-1] >= 1


def test_refinement_id_bins_on_equal_score_run(spark, tmp_path_factory):
    from thesis_iceberg_spark.queries.pipeline_q import token_budget_select_df

    # 64 identical docs: ONE bin, all scores equal -> refinement must
    # split by doc_id ranges; prefix = lowest doc_ids first
    rows = [(i, "alpha beta gamma", "en", "web", 16) for i in range(1, 65)]
    d = _write_docs(spark, tmp_path_factory, rows, "eqscore")
    docs = spark.read.parquet(f"{d}/documents.parquet")
    expect, budget = _reference_prefix(spark, d)
    assert expect == set(range(1, 33))  # deterministic: id-ASC prefix
    depth: list = []
    out = token_budget_select_df(
        docs, boundary_sort_cap=4, refine_depth_out=depth
    ).collect()
    assert {r.doc_id for r in out} == expect
    assert sum(r.n_tokens for r in out) == budget
    assert depth[-1] >= 1


def test_default_cap_never_refines_at_test_scale(spark, mixed_dir):
    from thesis_iceberg_spark.queries.pipeline_q import token_budget_select_df

    docs = spark.read.parquet(f"{mixed_dir}/documents.parquet")
    depth: list = []
    token_budget_select_df(docs, refine_depth_out=depth).count()
    assert depth[-1] == 0


def test_refine_depth_out_param(spark, mixed_dir):
    # concurrency-safe diagnostics channel (review r10 ADVICE): the call
    # appends its depth exactly once to the caller-owned list on every
    # path (refined / unrefined / degenerate empty budget)
    from thesis_iceberg_spark.queries.pipeline_q import token_budget_select_df

    docs = spark.read.parquet(f"{mixed_dir}/documents.parquet")
    out: list = []
    token_budget_select_df(docs, refine_depth_out=out).count()
    assert out == [0]
    token_budget_select_df(docs, boundary_sort_cap=2, refine_depth_out=out).count()
    assert len(out) == 2 and out[1] >= 1
    empty = docs.filter("doc_id IS NULL")
    token_budget_select_df(empty, refine_depth_out=out).count()
    assert out[2:] == [0]


def test_multilevel_refinement_offset_accounting(spark, tmp_path_factory):
    from thesis_iceberg_spark.queries.pipeline_q import token_budget_select_df

    # 512 identical docs, cap=4: level 1's id-range bins leave ~8 docs in
    # the crossing sub-bin (> cap), so a SECOND id-refinement level must
    # run — pinning the absolute-offset accounting ACROSS levels, where a
    # relative/absolute confusion would silently shift the cut
    rows = [(i, "alpha beta gamma", "en", "web", 16) for i in range(1, 513)]
    d = _write_docs(spark, tmp_path_factory, rows, "deepref")
    docs = spark.read.parquet(f"{d}/documents.parquet")
    expect, budget = _reference_prefix(spark, d)
    assert expect == set(range(1, 257))  # id-ASC prefix of half the mass
    depth: list = []
    out = token_budget_select_df(
        docs, boundary_sort_cap=4, refine_depth_out=depth
    ).collect()
    assert {r.doc_id for r in out} == expect
    assert sum(r.n_tokens for r in out) == budget
    assert depth[-1] >= 2


def test_budget_frac_extremes(spark, mixed_dir):
    from thesis_iceberg_spark.queries.pipeline_q import token_budget_select_df

    docs = spark.read.parquet(f"{mixed_dir}/documents.parquet")
    # frac=0: budget=0 and every doc has n_tokens >= 1 -> nothing kept
    # (the crossing bin walks to the very top docs and drops them all)
    assert token_budget_select_df(docs, budget_frac=0.0).count() == 0
    # frac=1: budget = total mass -> every scored doc kept, no boundary
    n_scored = 32  # 8 grades x 4 docs; the 2 degenerate rows are excluded
    assert token_budget_select_df(docs, budget_frac=1.0).count() == n_scored
