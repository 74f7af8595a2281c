"""ann_int8_range_search (r12): threshold (radius) similarity search.

Membership is decided on the exact integer quantized dot against the
integer rational threshold qdot*DEN >= qself*NUM, so these tests pin
(a) set equality with a numpy twin of the same arithmetic, (b) the
exact-boundary row (== threshold is KEPT, one grid step under is not),
(c) the all-zero degenerate corpus, and (d) the narrow broadcast-only
plan (the 100 TB claim).  The registered query's full value oracle is
auto-covered by tests/test_correctness.py.
"""

from __future__ import annotations

import numpy as np

from thesis_iceberg_spark.plans import formatted_plan
from thesis_iceberg_spark.queries import REGISTRY, queries
from thesis_iceberg_spark.queries.similarity import (
    Q_SCALE_TOP,
    RANGE_DEN,
    RANGE_NUM,
)

queries()

_FN = REGISTRY["ann_int8_range_search"].fn
_SCHEMA = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"


def _numpy_twin(vecs, ids):
    x = np.asarray(vecs, dtype=np.float64)
    s = Q_SCALE_TOP / np.abs(x).max()
    q8 = np.floor(x * s + 0.5).astype(np.int64)
    qpos = int(np.argmin(ids))
    qself = int(q8[qpos] @ q8[qpos])
    dots = q8 @ q8[qpos]
    return sorted(
        (int(i), int(d))
        for i, d in zip(ids, dots)
        if i != ids[qpos] and d * RANGE_DEN >= qself * RANGE_NUM
    )


def test_matches_numpy_quantization_twin(spark, sf_dir):
    rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    expect = _numpy_twin([r.embedding for r in rows], [r.vec_id for r in rows])
    got = sorted((r.vec_id, r.qdot) for r in _FN(spark, sf_dir).collect())
    assert got == expect
    assert got, "no matches at driver scale — the kept arm is untested"


def _write_vecs(spark, tmp_path_factory, name, rows):
    d = str(tmp_path_factory.mktemp(name))
    spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.parquet(
        f"{d}/embeddings.parquet"
    )
    return d


def test_exact_boundary_row_is_kept(spark, tmp_path_factory):
    # max |x| = 127 (parked on non-query rows) -> s = 1.0 exactly, so
    # integer-valued floats quantize to themselves.  Query [100, 0]:
    # qself = 10000; NUM/DEN = 3/10 -> the >= threshold is qdot = 3000
    # EXACTLY, and the row sitting on the line must be kept.
    rows = [
        (1, [100.0, 0.0], 0),    # query: qself = 10000, threshold qdot >= 3000
        (2, [30.0, 127.0], 0),   # qdot = 3000 == threshold -> KEPT (>=)
        (3, [29.0, 127.0], 0),   # qdot = 2900 -> excluded
        (4, [127.0, 0.0], 0),    # qdot = 12700 -> kept, sorts first
    ]
    d = _write_vecs(spark, tmp_path_factory, "range_boundary", rows)
    got = [(r.vec_id, r.qdot) for r in _FN(spark, d).collect()]
    assert got == [(4, 12700), (2, 3000)]  # ordered qdot DESC; 3 excluded


def test_all_zero_corpus_returns_empty(spark, tmp_path_factory):
    # 127/max|x| with max = 0: try_divide -> NULL scale -> NULL qdot ->
    # filter drops everything; must not throw under ANSI
    rows = [(i, [0.0, 0.0, 0.0], 0) for i in range(1, 5)]
    d = _write_vecs(spark, tmp_path_factory, "range_zero", rows)
    assert _FN(spark, d).count() == 0


def test_plan_is_narrow_broadcast_only(spark, sf_dir):
    plan = formatted_plan(_FN(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_stored_range_search_identical_and_pruned(spark, sf_dir, tmp_path_factory):
    # the 100 TB claim in the registered query's doc, made executable:
    # over the write-time int8 table the range scan's corpus side must
    # read ONLY (vec_id, label, q) — never the float column — and return
    # the identical match set (same scale by construction: the table
    # property pins the corpus scale the inline query recomputes)
    from thesis_iceberg_spark.queries.similarity import (
        ann_int8_range_search_stored,
        quantize_embeddings_table,
    )
    from thesis_iceberg_spark.sources.registry import load_table

    loc = str(tmp_path_factory.mktemp("int8rng") / "emb")
    raw = load_table(spark, sf_dir, "embeddings")
    table, _scale = quantize_embeddings_table(spark, raw, loc)
    stored = ann_int8_range_search_stored(spark, table)
    inline = _FN(spark, sf_dir)
    assert [tuple(r) for r in stored.collect()] == [tuple(r) for r in inline.collect()]
    plan = formatted_plan(stored)
    # every ReadSchema on the corpus side must exclude the float column;
    # the only embedding read is the pushed vec_id point-read of the
    # query row
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, plan
    emb_scans = [s for s in schemas if "embedding" in s]
    assert len(emb_scans) <= 1  # the query-row point read only
    assert any("q:" in s and "embedding" not in s for s in schemas)


def test_artifact_store_gc_prunes_only_old_siblings(spark, sf_dir):
    # ADVICE r14 #2: every corpus (size, mtime) change mints a new
    # tag dir under the module-owned store root (/tmp/tisw_quant since
    # review pass 4), and squatter-evicted '*.stale-*' plus race-losing
    # '*.build-*' dirs persisted forever.  On entry the store must
    # prune siblings older than 1 day — and ONLY those: a young build
    # dir (a live process's private build) and the current tag must
    # survive.
    import os
    import time

    from thesis_iceberg_spark.queries import similarity

    root = similarity._QUANT_ROOT  # the module-owned store subdir
    os.makedirs(root, exist_ok=True)
    old_age = time.time() - 2 * 86400
    victims = [
        os.path.join(root, "sfX_deadbeef0000"),  # stale-corpus tag
        # dead pids (far above any live one), so the live-pid guard
        # does not protect these
        os.path.join(root, "sfX_deadbeef0000.stale-4194001-aa"),
        os.path.join(root, "sfX_deadbeef0000.build-4194002-bb"),
    ]
    for d in victims:
        os.makedirs(d, exist_ok=True)
        os.utime(d, (old_age, old_age))
    young = os.path.join(root, "sfY_cafecafe0000.build-2-cc")
    os.makedirs(young, exist_ok=True)

    # protected survivors (r15 review #2): a location another entry of
    # THIS process memoized (reads never refresh mtime), and a build
    # dir whose pid is still alive — age alone is not proof of death
    memoized = os.path.join(root, "sfZ_feedf00d0000")
    os.makedirs(os.path.join(memoized, "emb_int8_vt"), exist_ok=True)
    os.utime(memoized, (old_age, old_age))
    similarity._QUANT_BUILT["/fake/corpusZ"] = os.path.join(
        memoized, "emb_int8_vt"
    )
    live_build = os.path.join(
        root, f"sfW_0ddba1100000.build-{os.getpid()}-dd"
    )
    os.makedirs(live_build, exist_ok=True)
    os.utime(live_build, (old_age, old_age))
    dead_build = os.path.join(root, "sfW_0ddba1100000.build-4194000-ee")
    os.makedirs(dead_build, exist_ok=True)
    os.utime(dead_build, (old_age, old_age))

    # bypass the per-process memo so the GC-on-entry path actually runs
    similarity._QUANT_BUILT.pop(os.path.abspath(sf_dir), None)
    try:
        vt = similarity._quantized_table(spark, sf_dir)
        for d in victims:
            assert not os.path.exists(d), d
        assert not os.path.exists(dead_build)
        assert os.path.exists(young)
        assert os.path.exists(memoized)
        assert os.path.exists(live_build)
        # the current artifact itself still reads fine after the sweep,
        # and entry refreshed its mtime (the cross-process keep-alive).
        # ASSERT the location shape rather than branching on it (pass 4
        # #5: an always-true guard would skip the check silently if a
        # regression memoized a location elsewhere)
        assert vt.read().count() > 0
        import time as _t

        cur = similarity._QUANT_BUILT[os.path.abspath(sf_dir)]
        tag_dir = os.path.dirname(cur)
        assert os.path.dirname(tag_dir) == similarity._QUANT_ROOT, cur
        assert _t.time() - os.stat(tag_dir).st_mtime < 3600
    finally:
        similarity._QUANT_BUILT.pop("/fake/corpusZ", None)
        for d in (young, live_build, memoized):
            import shutil as _sh

            _sh.rmtree(d, ignore_errors=True)


def test_memo_hit_on_swept_artifact_rebuilds(spark, sf_dir):
    # r15 review pass 3 #1: if a peer's GC swept the artifact despite
    # the defenses, a memo hit must NOT return a dangling location —
    # the ENOENT on the keep-alive touch pops the memo and rebuilds
    import os

    from thesis_iceberg_spark.queries import similarity

    key = os.path.abspath(sf_dir)
    saved = similarity._QUANT_BUILT.pop(key, None)
    gone = os.path.join(similarity._QUANT_ROOT, "sfG_gone00000000")
    similarity._QUANT_BUILT[key] = os.path.join(gone, "emb_int8_vt")
    try:
        vt = similarity._quantized_table(spark, sf_dir)
        assert similarity._QUANT_BUILT[key] != os.path.join(
            gone, "emb_int8_vt"
        )
        assert vt.read().count() > 0
    finally:
        similarity._QUANT_BUILT.pop(key, None)
        if saved is not None:
            similarity._QUANT_BUILT[key] = saved


def test_pruned_range_search_identical_on_driver_corpus(spark, sf_dir):
    # correctness never depends on pruning power: on the isotropic
    # synthetic corpus the ball bound prunes ~nothing (measured), but
    # the result set must still equal the brute scan exactly
    from thesis_iceberg_spark.queries.similarity import (
        ann_int8_range_search_pruned,
    )

    brute = [tuple(r) for r in _FN(spark, sf_dir).collect()]
    pruned = [tuple(r) for r in ann_int8_range_search_pruned(spark, sf_dir).collect()]
    assert pruned == brute


def test_clustered_corpus_actually_prunes(spark, tmp_path_factory):
    # two tight clusters far apart; query sits in cluster A, so cluster
    # B's ball bound proves no member can reach the threshold and the
    # bucket drops — while the kept set still equals the brute scan
    from thesis_iceberg_spark.queries.similarity import (
        _pruned_range_parts,
        ann_int8_range_search_pruned,
    )

    rows = []
    # cluster A around [120, 0, ...]; ids 1..10 (centroids come from the
    # lowest ids, so both clusters contribute centroids: put 5 low ids
    # in each)
    for i in range(1, 6):
        rows.append((i, [120.0 + (i % 3), 1.0 * i, 0.0, 0.0], 0))
        rows.append((100 + i, [119.0, 1.0 * i, 0.0, 0.0], 0))
    # cluster B around [-120, 100, ...]; ids 6..10 and 200+
    for i in range(6, 11):
        rows.append((i, [-120.0, 100.0 + (i % 3), 0.0, 0.0], 1))
        rows.append((200 + i, [-119.0, 101.0, 0.0, 0.0], 1))
    d = _write_vecs(spark, tmp_path_factory, "range_clustered", rows)
    brute = [tuple(r) for r in _FN(spark, d).collect()]
    pruned = [tuple(r) for r in ann_int8_range_search_pruned(spark, d).collect()]
    assert pruned == brute
    assert brute, "threshold keeps nothing — the kept arm is untested"
    assigned, keep, _qrow = _pruned_range_parts(spark, d)
    n_buckets = assigned.select("bucket").distinct().count()
    n_kept = keep.count()
    assert n_kept < n_buckets, (n_kept, n_buckets)  # something pruned
    # and nothing the brute scan keeps lives in a pruned bucket
    kept_ids = {r.vec_id for r in _FN(spark, d).collect()}
    surviving = {
        r.vec_id
        for r in assigned.join(keep, "bucket", "left_semi").collect()
    }
    assert kept_ids <= surviving


def test_write_time_index_prunes_actual_files(spark, tmp_path_factory):
    # r13 (VERDICT r12 #4): the honest r12 finding was "no local wall
    # win — the win is I/O-bound partition pruning at write time".  This
    # makes it executable: build_range_index lays the corpus out
    # PARTITIONED BY bucket, and the indexed search's literal bucket
    # filter must (a) return exactly the brute result set and (b) leave
    # pruned buckets' files UNREAD — checked against the files the scan
    # genuinely touches (input_file_name over the executed filter).
    from pyspark.sql import functions as F

    from thesis_iceberg_spark.queries.similarity import (
        ann_int8_range_search_indexed,
        build_range_index,
    )

    rows = []
    for i in range(1, 6):
        rows.append((i, [120.0 + (i % 3), 1.0 * i, 0.0, 0.0], 0))
        rows.append((100 + i, [119.0, 1.0 * i, 0.0, 0.0], 0))
    for i in range(6, 11):
        rows.append((i, [-120.0, 100.0 + (i % 3), 0.0, 0.0], 1))
        rows.append((200 + i, [-119.0, 101.0, 0.0, 0.0], 1))
    d = _write_vecs(spark, tmp_path_factory, "range_indexed", rows)
    loc = str(tmp_path_factory.mktemp("range_index"))
    build_range_index(spark, d, loc)

    out = ann_int8_range_search_indexed(spark, loc)
    brute = [tuple(r) for r in _FN(spark, d).collect()]
    assert [tuple(r) for r in out.collect()] == brute
    assert brute, "threshold keeps nothing — the kept arm is untested"

    # the scan's PartitionFilters are static LITERALS — parse the kept
    # bucket ids straight out of the physical plan (the exact filter the
    # scan prunes directories with; renders as `= N`, `IN (...)` or
    # `INSET ...` depending on list size)
    import re

    plan = formatted_plan(out)
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf_lines, plan
    # the plan holds TWO scans of location/vectors (the bucket-filtered
    # corpus scan and the qrow point-read with empty PartitionFilters) —
    # parse whichever line carries the literal bucket list (review r13:
    # pf_lines[0] assumed a print order Spark does not promise)
    kept_buckets = {
        int(x)
        for ln in pf_lines
        for grp in re.findall(r"(?:= |IN \(|INSET )([\d, ]+)", ln)
        for x in grp.replace(",", " ").split()
    }
    assert kept_buckets, pf_lines

    vec = spark.read.parquet(f"{loc}/vectors")
    all_files = {
        r.f
        for r in vec.select(
            F.input_file_name().alias("f")
        ).distinct().collect()
    }
    # the file set the reader's own partition filter leaves READABLE
    read_files = {
        r.f
        for r in vec.filter(F.col("bucket").isin(sorted(kept_buckets)))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert read_files < all_files, (len(read_files), len(all_files))
    # a pruned bucket's directory never appears in the read set
    read_dirs = {f.rsplit("/", 1)[0] for f in read_files}
    pruned_dirs = {
        f.rsplit("/", 1)[0] for f in all_files
    } - read_dirs
    assert pruned_dirs
