"""Scale guarantees for the generative embedding-LSH ladder, EMPIRICAL
since round 7: the round-7 executed sweep (tests/exp_lsh_generative_rung.py,
n=21.5k with planted near-dups) measured the per-pair random-collision
ratio T(arity) and showed it is n-INVARIANT — a pair collides iff the two
signatures share >= arity dims, so the pre-r7 uniform-bucket floor n^2/B
underestimated collisions by orders of magnitude (measured T(4)=0.0856 vs
the model's 1e-6 at n=1e6).  The ladder's admission bounds are now derived
from the MEASURED constants (candidates/doc <= budget at every admitted
count), arity 4 was dropped as dominated by 5, and the ladder tops out at
~1.8e8 vectors, beyond which the kmeans-bounded path is the scale answer.
Plus forced-execution runs proving the high-arity join chains, base-128
keys, and the per-bucket overflow guard are live code paths."""

from __future__ import annotations

import math

import pytest

from thesis_iceberg_spark.queries import REGISTRY, queries
from thesis_iceberg_spark.queries.dedup import (
    _ANCHOR_OFFSET,
    _SIGNED_DIMS,
    _lsh_tier,
    SIG_TIERS,
    dedup_embedding_cosine_pairs,
)

queries()

# a log-spaced count grid: every decade up to the ladder top plus each
# rung boundary from both sides
_TOP = SIG_TIERS[-1][0]
_GRID = sorted(
    n
    for n in (
        {10**e for e in range(3, 9)}
        | {3 * 10**e for e in range(3, 8)}
        | {b - 1 for b, *_ in SIG_TIERS if b is not None}
        | {b for b, *_ in SIG_TIERS if b is not None and b < _TOP}
    )
    if n < _TOP
)


def test_measured_collision_budget_at_every_admitted_count():
    """At EVERY admitted corpus count the selected rung's MEASURED
    collision ratio keeps projected candidate work linear:
    T(arity) * n <= the per-doc verification budget — the property the
    pre-r7 closed form (n^2/B) claimed but the executed sweep falsified.
    Also: arity 4 must never be selected (measured strictly dominated by
    arity 5: 4x the candidates at identical recall)."""
    from thesis_iceberg_spark.queries.dedup import (
        _CAND_PER_DOC_BUDGET,
        MEASURED_COLLISION_RATIO,
    )

    for n in _GRID:
        arity, dims, anchor = _lsh_tier(n)
        assert arity != 4, "arity-4 rung is dominated by 5 — must be absent"
        if arity in MEASURED_COLLISION_RATIO:
            t = MEASURED_COLLISION_RATIO[arity]
            assert t * n <= _CAND_PER_DOC_BUDGET * 1.0001, (n, arity, t * n)
        # projected candidates stay within the documented CI ratio gate at
        # every admitted count (T is n-invariant, so this is exact)
        if arity in MEASURED_COLLISION_RATIO:
            assert MEASURED_COLLISION_RATIO[arity] <= 0.05, (n, arity)


def test_ladder_shape_and_key_arithmetic():
    """Arity is monotone in n, feasible (arity <= sig width, anchor rank <=
    sig width), per-vector bucket rows stay bounded, and base-128 long keys
    never collide across the main/anchor namespaces or overflow."""
    prev_arity = 0
    for n in _GRID:
        arity, dims, anchor = _lsh_tier(n)
        assert arity >= prev_arity, "arity must not shrink as n grows"
        prev_arity = arity
        assert arity <= dims and (not anchor or anchor <= dims)
        # bounded per-vector work: signature cost independent of corpus size
        rows = math.comb(dims, arity) + (
            math.comb(anchor, arity - 1) if anchor else 0
        )
        # C(16,8) main + C(13,7) anchor at the top rung
        assert rows <= 12870 + 1716, (n, rows)
        # main keys stay below the anchor namespace; anchor keys fit a long
        assert 128**arity <= _ANCHOR_OFFSET
        assert _ANCHOR_OFFSET + 128 ** (arity - 1) < 2**63


def test_past_the_ladder_raises_loudly():
    top_bound = SIG_TIERS[-1][0]
    # measured-T bounds top out around 1.8e8 vectors (honest, not 1.4e11)
    assert top_bound is not None and 10**8 < top_bound < 10**9
    with pytest.raises(NotImplementedError, match="kmeans-bounded"):
        _lsh_tier(top_bound)


def test_forced_arity7_rung_executes(spark, sf_dir, monkeypatch):
    """The arity-7 rung (selected around n=1e9) on tiny data: the 7-way
    tuple join, anchor 6-tuples, and base-128 key build must execute and
    keep precision 1.0 (candidates are exact-verified)."""
    from thesis_iceberg_spark.queries import dedup

    monkeypatch.setattr(
        dedup, "SIG_TIERS", ((1, 2, 16, 0), (2, 3, 12, 6), (None, 7, 16, 11))
    )
    lsh = {
        (r.vec_a, r.vec_b)
        for r in REGISTRY["dedup_embedding_lsh_pairs"]
        .fn(spark, sf_dir)
        .select("vec_a", "vec_b")
        .collect()
    }
    brute = {
        (r.vec_a, r.vec_b)
        for r in dedup_embedding_cosine_pairs(spark, sf_dir)
        .select("vec_a", "vec_b")
        .collect()
    }
    assert lsh <= brute, f"false positives: {sorted(lsh - brute)[:5]}"


def test_bucket_overflow_guard_fires(spark, sf_dir, monkeypatch):
    """With the cap forced to 1, any bucket collision (which near-dup data
    must produce) raises the executor-side overflow error instead of
    squaring into candidates."""
    from thesis_iceberg_spark.queries import dedup

    monkeypatch.setattr(dedup, "BUCKET_CAP", 1)
    with pytest.raises(Exception, match="bucket overflow"):
        REGISTRY["dedup_embedding_lsh_pairs"].fn(spark, sf_dir).collect()


def test_duplicated_bucket_row_emits_no_self_pair(spark):
    """A repeated (vec_id, bucket) row puts an id in its bucket's member
    list twice; the candidates must still never pair a vector with itself."""
    from thesis_iceberg_spark.queries.dedup import _bucket_candidates

    buckets = spark.createDataFrame([(7, 1), (7, 1)], "vec_id BIGINT, bucket BIGINT")
    assert _bucket_candidates(buckets, "test").collect() == []


def _planted_fixture(tmp_path):
    """n=1200 embeddings: 600 random unit vectors + 150 planted near-dups
    at each pair cosine in {0.7, 0.8, 0.9, 0.95} (v' = c*v + sqrt(1-c^2)*u
    with u orthonormal — the pair cosine is exact by construction).
    Deterministic seed: the measurement is exactly reproducible."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    dim, nbase = 64, 600
    base = rng.standard_normal((nbase, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows, pairs = [], {}
    for i in range(nbase):
        rows.append(base[i])
    vid = nbase
    for c in (0.7, 0.8, 0.9, 0.95):
        for i in range(0, nbase, 4):
            v = base[i]
            g = rng.standard_normal(dim)
            g -= g @ v * v
            g /= np.linalg.norm(g)
            rows.append(c * v + math.sqrt(1 - c * c) * g)
            pairs[(i, vid)] = c
            vid += 1
    t = pa.table(
        {
            "vec_id": pa.array(range(len(rows)), pa.int64()),
            "embedding": pa.array(
                [[float(x) for x in r] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array(["x"] * len(rows)),
        }
    )
    pq.write_table(t, str(tmp_path / "embeddings.parquet"))
    return str(tmp_path), pairs


@pytest.mark.parametrize(
    "arity,gates",
    [
        (5, {0.7: 0.95, 0.8: 0.95, 0.9: 0.95}),  # measured 1.0 everywhere
        (8, {0.8: 0.90, 0.9: 0.95}),  # measured 0.94 / 1.0
    ],
)
def test_generative_rung_recall_on_planted_near_dups(
    spark, tmp_path, monkeypatch, arity, gates
):
    """MEASURED recall at the generative rungs (round-5 sweep, documented
    at SIG_TIERS): on planted near-dups the first (a=5) and top (a=8)
    rungs hold recall at the similarity grades near-dup mining actually
    targets at 1e8-1e9 vectors (cosine >= 0.8); the a=8 gate at 0.8 is
    deliberately the weakest measured point (0.94).  Deterministic
    fixture + deterministic algorithm -> no flake margin needed beyond
    the documented gates."""
    from thesis_iceberg_spark.queries import dedup

    loc, pairs = _planted_fixture(tmp_path)
    monkeypatch.setattr(
        dedup,
        "SIG_TIERS",
        ((1, 2, 16, 0), (2, 3, 12, 6), (None, arity, 16, dedup._ANCHOR_RANK)),
    )
    raw = dedup.load_table(spark, loc, "embeddings")
    cand = {
        (r.vec_a, r.vec_b)
        for r in dedup._embedding_lsh_candidates(
            spark, raw, dedup._emb_norms(raw)
        ).collect()
    }
    cand = {(min(a, b), max(a, b)) for a, b in cand}
    n = 1200
    assert len(cand) <= 0.05 * n * n, f"candidates {len(cand)} > 0.05*n^2"
    for cos, floor in gates.items():
        tp = {p for p, c in pairs.items() if c == cos}
        recall = len(cand & tp) / len(tp)
        assert recall >= floor, f"arity {arity} recall@{cos} {recall:.3f} < {floor}"


def test_null_and_short_vectors_degrade_gracefully(spark, tmp_path):
    """A NULL embedding emits no signature rows (like the replaced
    posexplode-of-NULL form and the oracle); a vector with fewer coords
    than the signature width emits the fewer valid tuples instead of
    crashing the precomputed-pattern indexing."""
    from thesis_iceberg_spark.queries import dedup

    loc = str(tmp_path / "degenerate")
    rows = [
        (1, [float(i) for i in range(64)]),
        (2, [float(i) for i in range(64)]),  # duplicate of 1 -> candidate
        (3, None),  # NULL embedding
        (4, [1.0, -2.0, 3.0]),  # 3 coords < sig_dims=16 -> C(3,2) tuples
    ]
    spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>").write.parquet(
        f"{loc}/embeddings.parquet"
    )
    raw = dedup.load_table(spark, loc, "embeddings")
    cand = {
        (r.vec_a, r.vec_b)
        for r in dedup._embedding_lsh_candidates(
            spark, raw, dedup._emb_norms(raw)
        ).collect()
    }
    assert (1, 2) in cand
    assert not any(3 in p for p in cand)  # NULL vec never a candidate


def test_exact_substr_spans_crafted(spark, tmp_path):
    """Known span geometry: a 20-token passage shared by two docs yields
    one merged span each ([10,30) and [0,20)); an internal 16-token
    repeat with a 17-token gap stays TWO spans (merge rule: gap <= K);
    an all-unique doc emits nothing."""
    from thesis_iceberg_spark.queries import REGISTRY
    from thesis_iceberg_spark.queries.dedup import EXACT_SUBSTR_K

    assert EXACT_SUBSTR_K == 16  # the geometry below depends on K
    common = [f"w{i}" for i in range(20)]
    x = [f"p{i}" for i in range(16)]
    rows = [
        (1, " ".join([f"a{i}" for i in range(10)] + common + ["b0", "b1"])),
        (2, " ".join(common + [f"c{i}" for i in range(7)])),
        (3, " ".join(f"u{i}" for i in range(30))),
        (4, " ".join(x + ["q0"] + x)),
    ]
    loc = str(tmp_path / "spans")
    spark.createDataFrame(rows, "doc_id BIGINT, text STRING").write.parquet(
        f"{loc}/documents.parquet"
    )
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in REGISTRY["dedup_exact_substr_spans"].fn(spark, loc).collect()
    )
    assert got == [
        (1, 10, 30, 20),
        (2, 0, 20, 20),
        (4, 0, 16, 16),
        (4, 17, 33, 16),
    ]
    # the APPLY step cuts exactly those spans and keeps everything else
    cleaned = {
        r.doc_id: r.asDict()
        for r in REGISTRY["pipeline_remove_dup_spans"].fn(spark, loc).collect()
    }
    assert cleaned[1]["kept_text"] == " ".join(
        [f"a{i}" for i in range(10)] + ["b0", "b1"]
    )
    assert cleaned[1]["n_removed_tokens"] == 20
    assert cleaned[2]["kept_text"] == " ".join(f"c{i}" for i in range(7))
    assert cleaned[3]["n_removed_tokens"] == 0  # unique doc untouched
    assert cleaned[3]["kept_text"] == " ".join(f"u{i}" for i in range(30))
    assert cleaned[4]["kept_text"] == "q0"  # both repeats of x cut


def _planted_corpus_np(n_base: int, n_planted: int):
    """THE SAME generator as tests/exp_lsh_generative_rung.py (imported,
    not copied): the MEASURED_COLLISION_RATIO constants were derived from
    that harness's corpus distribution, so the regression gate must test
    against the identical planting scheme or it validates the wrong
    thing."""
    from exp_lsh_generative_rung import make_corpus

    _ids, vecs, planted = make_corpus(n_base, n_planted)
    return vecs, planted


def test_generative_rung_executes_on_real_data(spark, monkeypatch):
    """VERDICT r6 ask #3, pinned as a regression gate: the FIRST generative
    rung (arity 5, top-16 + anchor triples top-13) EXECUTED on a real
    corpus (n=8400, 400 planted near-dups) must measure candidates/n^2
    <= 0.05 and recall >= 0.95 at every planted cosine grade.  The full
    sweep (n=21.5k, arity 4-8) is tests/exp_lsh_generative_rung.py; its
    measured ratios are the MEASURED_COLLISION_RATIO constants."""
    import pandas as pd

    from thesis_iceberg_spark.queries import dedup

    vecs, planted = _planted_corpus_np(8000, 400)
    pdf = pd.DataFrame(
        {"vec_id": range(len(vecs)), "embedding": list(vecs)}
    )
    emb = spark.createDataFrame(pdf).repartition(8)
    monkeypatch.setattr(dedup, "_lsh_tier", lambda count: (5, 16, 13))
    cand = dedup._embedding_lsh_candidates(spark, emb, dedup._emb_norms(emb))
    n = len(vecs)
    planted_set = sorted({(a, b) if a < b else (b, a) for a, b, _ in planted})
    hits = {
        (r.a, r.b)
        for r in cand.toDF("a", "b")
        .join(spark.createDataFrame(planted_set, "a BIGINT, b BIGINT"), ["a", "b"])
        .collect()
    }
    n_cand = cand.count()
    ratio = n_cand / n**2
    assert ratio <= 0.05, f"measured ratio {ratio:.4f} > 0.05"
    by_cos: dict[float, list[int]] = {}
    for a, b, c in planted:
        key = (a, b) if a < b else (b, a)
        by_cos.setdefault(c, []).append(key in hits)
    for c, oks in sorted(by_cos.items()):
        recall = sum(oks) / len(oks)
        assert recall >= 0.95, f"recall@{c} = {recall:.3f} < 0.95"


def test_kmeans_candidates_on_planted_corpus(spark):
    """The kmeans-bounded path (the 1e8+ scale answer) on the same planted
    corpus: candidates O(n) by construction (ratio <= p^2/(2k) with
    headroom) and recall >= 0.9 on planted pairs at cosine >= 0.8 — the
    SemDeDup operating regime it exists for."""
    import pandas as pd

    from thesis_iceberg_spark.queries import dedup

    vecs, planted = _planted_corpus_np(8000, 400)
    pdf = pd.DataFrame({"vec_id": range(len(vecs)), "embedding": list(vecs)})
    emb = spark.createDataFrame(pdf).repartition(8)
    n = len(vecs)
    cand = dedup.dedup_embedding_kmeans_candidates(spark, emb)
    planted_set = sorted({(a, b) if a < b else (b, a) for a, b, _ in planted})
    hits = {
        (r.a, r.b)
        for r in cand.toDF("a", "b")
        .join(spark.createDataFrame(planted_set, "a BIGINT, b BIGINT"), ["a", "b"])
        .collect()
    }
    n_cand = cand.count()
    k = max(dedup.KMEANS_MIN_K, n // dedup.KMEANS_BUCKET_TARGET)
    bound = dedup._kmeans_nprobe(k) ** 2 * n * n / (2 * k)
    assert n_cand <= 2 * bound, f"candidates {n_cand} > 2x analytic {bound:.0f}"
    assert n_cand <= 0.05 * n * n
    by_cos: dict[float, list[int]] = {}
    for a, b, c in planted:
        key = (a, b) if a < b else (b, a)
        by_cos.setdefault(c, []).append(key in hits)
    for c, oks in sorted(by_cos.items()):
        recall = sum(oks) / len(oks)
        if c >= 0.8:
            assert recall >= 0.9, f"kmeans recall@{c} = {recall:.3f} < 0.9"


def test_kmeans_k_rule_two_regimes():
    """Pure arithmetic: fine regime k = n/64 to the 65536 cap, then the
    budget regime grows k only as the per-doc candidate budget requires
    (n*p^2/(2*budget)), so per-doc candidates stay <= budget at EVERY n
    while fit cost (20*k rows per fit) stays bounded."""
    from thesis_iceberg_spark.queries.dedup import (
        _CAND_PER_DOC_BUDGET,
        _kmeans_k,
        _kmeans_nprobe,
        KMEANS_K_FINE_CAP,
    )

    for n in [500, 5_000, 50_000, 4_000_000, 10_000_000, 10**8, 10**9]:
        k = _kmeans_k(n)
        p = _kmeans_nprobe(k)
        per_doc = p * p * n / (2 * k)
        assert per_doc <= _CAND_PER_DOC_BUDGET * 1.05, (n, k, per_doc)
        assert k <= max(KMEANS_K_FINE_CAP, n), (n, k)
    # monotone: k never shrinks as n grows
    ks = [_kmeans_k(n) for n in [10**e for e in range(3, 10)]]
    assert ks == sorted(ks)


def test_kmeans_nprobe_tiers():
    """The r11 k-aware probe rule: 5 / 8 at the measured boundary (the
    old p=3 tier below k=512 died in the r11 margin sweep — 0.62-0.71
    recall at sf0.1, under the 0.7 gate on 4 of 5 seeds), ratio p^2/(2k)
    bounded at every RULE-SIZED tier edge (k >= KMEANS_MIN_K), and the
    budget-regime k sizing uses the SAME p the assign kernel defaults to
    (the two formulas drifting apart would overshoot the per-doc
    budget)."""
    from thesis_iceberg_spark.queries.dedup import (
        _CAND_PER_DOC_BUDGET,
        _kmeans_k,
        _kmeans_nprobe,
        KMEANS_K_FINE_CAP,
        KMEANS_MIN_K,
        KMEANS_NPROBE_WIDE_K,
    )

    assert KMEANS_MIN_K == 256  # the measured r11 floor
    assert _kmeans_nprobe(KMEANS_MIN_K) == 5
    assert _kmeans_nprobe(804) == 5  # the measured 51.5k-corpus point
    assert _kmeans_nprobe(KMEANS_NPROBE_WIDE_K - 1) == 5
    assert _kmeans_nprobe(KMEANS_NPROBE_WIDE_K) == 8
    assert _kmeans_nprobe(15_781) == 8  # the measured 1e6-corpus point
    # ratio bounded at each tier's MINIMUM rule-sized k (worst case
    # within the tier; explicit k < MIN_K is the caller's problem)
    for k_edge in (KMEANS_MIN_K, KMEANS_NPROBE_WIDE_K):
        p = _kmeans_nprobe(k_edge)
        assert p * p / (2 * k_edge) <= 0.05, (k_edge, p)
    # budget regime: k >= fine cap >= wide tier, so assign p == sizing p
    # and per-doc candidates land exactly at the budget
    for n in (10**8, 10**9):
        k = _kmeans_k(n)
        assert k >= KMEANS_K_FINE_CAP >= KMEANS_NPROBE_WIDE_K
        p = _kmeans_nprobe(k)
        assert abs(p * p * n / (2 * k) - _CAND_PER_DOC_BUDGET) < 0.01 * _CAND_PER_DOC_BUDGET
