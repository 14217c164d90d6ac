"""KMV distinct sketch: exact merge law, estimator error bounds, and
set-operation (jaccard/intersection) accuracy — all on deterministic
data (md5 provides the randomness; no RNG anywhere)."""

import pytest

from term_spark.analyzers.kmv import (KMVSketch, kmv_distinct,
                                      kmv_intersection, kmv_jaccard,
                                      kmv_merge, kmv_sketch, kmv_sketch_by,
                                      kmv_union, sketch_from_row)


def _ints(spark, lo, hi, col="v"):
    return spark.range(lo, hi).selectExpr(f"id AS {col}")


def test_kmv_exact_below_k_and_estimator_above(spark):
    small = kmv_sketch(_ints(spark, 0, 500), "v", k=1024)
    assert not small.saturated
    assert kmv_distinct(small) == 500.0          # exact under k

    big = kmv_sketch(_ints(spark, 0, 50_000), "v", k=1024)
    assert big.saturated and len(big.hashes) == 1024
    est = kmv_distinct(big)
    assert est == pytest.approx(50_000, rel=0.10)  # ~1/sqrt(k-2) ≈ 3%


def test_kmv_merge_law_is_exact(spark):
    """min-k(A ∪ B) == min-k(min-k(A) ∪ min-k(B)) — sketching shards
    and merging equals sketching the union, hash for hash."""
    a = kmv_sketch(_ints(spark, 0, 30_000), "v", k=512)
    b = kmv_sketch(_ints(spark, 20_000, 60_000), "v", k=512)
    direct = kmv_sketch(_ints(spark, 0, 60_000), "v", k=512)
    assert kmv_merge([a, b]).hashes == direct.hashes

    # merge is commutative and idempotent
    assert kmv_merge([b, a]).hashes == kmv_merge([a, b]).hashes
    assert kmv_merge([a, a]).hashes == a.hashes


def test_kmv_set_operations(spark):
    """A=[0,40k), B=[20k,60k): |A∪B|=60k, |A∩B|=20k, J=1/3 — jaccard,
    union and intersection estimates land within sketch error, with no
    join between the two datasets."""
    a = kmv_sketch(_ints(spark, 0, 40_000), "v", k=1024)
    b = kmv_sketch(_ints(spark, 20_000, 60_000), "v", k=1024)
    assert kmv_union(a, b) == pytest.approx(60_000, rel=0.10)
    assert kmv_jaccard(a, b) == pytest.approx(1 / 3, abs=0.06)
    assert kmv_intersection(a, b) == pytest.approx(20_000, rel=0.20)

    # disjoint sets: jaccard exactly 0 (no shared hash can appear)
    c = kmv_sketch(_ints(spark, 100_000, 140_000), "v", k=1024)
    assert kmv_jaccard(a, c) == 0.0


def test_kmv_sketch_by_matches_per_group_sketches(spark):
    df = spark.range(0, 9_000).selectExpr(
        "CASE WHEN id < 6000 THEN 'x' ELSE 'y' END AS g", "id % 7000 AS v")
    rows = {r["grp"]: r for r in kmv_sketch_by(df, "g", "v", k=256).collect()}
    gx = sketch_from_row(rows["x"], 256)
    gy = sketch_from_row(rows["y"], 256)
    direct_x = kmv_sketch(df.filter("g = 'x'"), "v", k=256)
    assert gx.hashes == direct_x.hashes           # same sketch, hash for hash
    # group y holds ids 6000..8999 mod 7000 -> {6000..6999, 0..1999}: 3000 distinct
    assert kmv_distinct(gy) == pytest.approx(3_000, rel=0.15)
    # x=[0,6000), y as above: intersection {0..1999, 6000..6999} = 3000
    assert kmv_intersection(gx, gy) == pytest.approx(3_000, rel=0.25)


def test_kmv_validation():
    with pytest.raises(ValueError):
        kmv_merge([])
    s = KMVSketch(k=8, hashes=())
    assert kmv_distinct(s) == 0.0 and kmv_jaccard(s, s) == 0.0


def test_source_overlap_kmv_tracks_exact_report(spark, tpch):
    """The sketch-based scale path agrees with the exact pair-join
    report on the real documents corpus: same top pair, jaccard within
    sketch error, containment in the right regime."""
    from term_spark.operators.curation import (source_overlap_kmv,
                                               source_overlap_report)
    docs = tpch["documents"]
    exact = {(r["source_a"], r["source_b"]): r
             for r in source_overlap_report(docs, k=8).collect()}
    est = {(r["source_a"], r["source_b"]): r
           for r in source_overlap_kmv(docs, k=8, sketch_k=2048).collect()}
    assert exact, "fixture corpus has no cross-source overlap"
    # every exact pair is present in the estimate (est covers ALL pairs)
    assert set(exact) <= set(est)
    for pair, ex in exact.items():
        e = est[pair]
        # per-source shingle counts are well under sketch_k here, so
        # the sketches are unsaturated and counts are EXACT
        assert e["est_n_a"] == ex["n_a"] and e["est_n_b"] == ex["n_b"]
        assert e["est_common"] == pytest.approx(ex["n_common"], rel=0.35, abs=3)
        assert e["est_jaccard"] == pytest.approx(ex["jaccard"], abs=0.05)
    # pairs absent from the exact report truly estimate (near) zero
    for pair in set(est) - set(exact):
        assert est[pair]["est_jaccard"] <= 0.02


def test_kmv_sketch_by_plan_has_partial_group_limit(spark):
    """Scale pin (round 13): the per-group min-k build must prune to k
    rows per group BEFORE the shuffle — the Catalyst WindowGroupLimit
    rule, whose threshold (default 1000) sits BELOW our default
    k=1024.  kmv_sketch_by raises the threshold to cover k at plan
    time; this gate fails if a Spark upgrade, conf regression, or a
    refactor to a rank-unfriendly filter silently reintroduces the
    unbounded single-sort-per-group plan."""
    from term_spark.analyzers.kmv import kmv_sketch_by
    from term_spark.analyzers.kmv_index import DEFAULT_K
    df = spark.range(5000).selectExpr(
        "cast(id % 5 as string) as src", "cast(id as string) as val")
    sk = kmv_sketch_by(df, "src", "val", k=DEFAULT_K)
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan


def test_kmv_sketch_by_drops_null_groups(spark):
    from term_spark.analyzers.kmv import kmv_sketch_by
    df = spark.createDataFrame(
        [("a", "x"), (None, "y"), ("b", None), ("a", "z")],
        "src string, val string")
    rows = kmv_sketch_by(df, "src", "val", k=8).collect()
    grps = {r["grp"] for r in rows}
    assert grps == {"a"}  # NULL group dropped; b's only value is NULL
    assert len([h for r in rows for h in r["hashes"]]) == 2


def test_overlap_from_index_sorts_legacy_null_group(spark, tmp_path):
    """An index persisted before the NULL-group fix may carry a None
    key; the probe must order it deterministically, not raise."""
    from term_spark.analyzers.kmv_index import overlap_from_index
    from term_spark.index_store import IndexStore
    p = str(tmp_path / "kmv_null")
    IndexStore(spark, p).write(
        {"sketches": spark.createDataFrame(
            [("a", ["0a", "0b"], 1), (None, ["0a", "0c"], 1)],
            "grp string, hashes array<string>, n_shards bigint")},
        {"k": 8, "group_col": "src", "column": "val"})
    rows = overlap_from_index(spark, p).collect()
    assert len(rows) == 1
    assert rows[0]["grp_a"] == "a" and rows[0]["grp_b"] is None
