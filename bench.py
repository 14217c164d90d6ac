"""Benchmark harness: headline = a 20-constraint validation suite over
lineitem at $SPARK_GRAFT_SF_DIR (default sf0.1, ~600k rows), executed as
the engine's fused scan-sharing plan (3 concurrent class-pure
aggregation jobs: plain / DISTINCT / sketches — round 8 split).
Mirrors BASELINE.md's "1M rows x 20 constraints" workload.

Output contract (round-6 fix — the driver records only the last ~2,000
characters of stdout, and round 5's full-detail payload outgrew that
tail and was recorded as ``"parsed": null``):

  1. The FULL per-query detail is written to ``BENCH_DETAIL.json`` next
     to this file (gitignored scratch since round 8 — the driver's
     post-suite contended run kept overwriting the committed clean
     record; the per-round record lives in the driver's
     ``BENCH_r{N}.json``) and also printed early on its own
     ``bench-detail:`` stderr line for humans.
  2. stdout ENDS with ONE compact JSON line (<~1,500 chars, 2-decimal
     rounding): headline value, sf, env, the fresh-JVM sf1 suite
     number, and the top slowest per-query times.

The sf1 headline (the BASELINE crossover metric) and the
``minhash_lsh_candidates`` sf1 stress point are measured in a FRESH
subprocess JVM *before* the 44-query sf0.1 loop: round 5 showed the
same suite reading 3.55-3.83 s in a 44-query-aged JVM vs 2.35 s fresh
— a 50% distortion on the contract's crossover metric.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPO_DIR = os.path.dirname(os.path.abspath(__file__))


def _wait_for_quiet(threshold: float = 1.5, threshold_5m: float = 1.0,
                    cap_sec: float = 1500.0) -> dict:
    """Block until BOTH the 1-minute loadavg drops below ``threshold``
    and the 5-minute loadavg below ``threshold_5m`` (cap ``cap_sec``),
    so the headline numbers are taken on a quiet machine.

    Round-2 and round-4 both recorded headline samples under leftover
    load (pytest/driver runs just before) that the artifact's own stamp
    exposed; the stamp alone doesn't prevent it.  Round 5 measured why
    a loose 5-minute gate is not enough: with load1 at 1.86 but load5
    near 3 (a 32-thread Spark job had JUST exited), every CPU-heavy
    query read 2-3x slow (minhash 5.13 s vs 1.44 s clean) — the
    1-minute average decays past the gate while real contention is
    still draining.  Round 6 gated load5 at 1.5.  Round 8 raised the
    cap 240 → 420 s (decay time from the driver's own full-suite
    load).  Round 11 tightens to load5 < 1.0 / load1 < 1.5, cap 600 s:
    round 10 shipped an artifact that passed the 1.5 gate AT THE
    MARGIN (load5 1.49, quiet_wait 298 s) and every doc-heavy query
    read a uniform 10-35% over its quiet-window level with zero code
    change — the regime the builder's spot checks measured clean is
    load5 < 1.0, and decaying 1.5 → 1.0 costs ~300·ln(1.5) ≈ 120 s
    more at worst, once per round.  Mid-round-11 the 600 s cap proved
    too short to drain a just-finished 15-minute full-pytest run (5-min
    average still 1.51 at expiry → a contended artifact); the cap is
    now 1500 s — a full 5-minute-average turnover plus decay headroom,
    still bounded so a driver run can never hang on a busy host.

    Returns the quiet-gate outcome: the loadavgs the measurement
    actually started under, how long we waited, and ``contended`` when
    the cap expired first — a self-identifying artifact either way.
    ``_load_stamp`` re-samples loadavg at every section boundary so a
    mid-run load spike is visible next to the numbers it taints.
    """
    t0 = time.monotonic()
    load1, load5, _ = os.getloadavg()
    while ((load1 >= threshold or load5 >= threshold_5m)
           and time.monotonic() - t0 < cap_sec):
        time.sleep(2.0)
        load1, load5, _ = os.getloadavg()
    waited = time.monotonic() - t0
    contended = load1 >= threshold or load5 >= threshold_5m
    if contended:
        print(f"bench: WARNING loadavg {load1:.2f}/{load5:.2f} (1m/5m) still "
              f">= {threshold}/{threshold_5m} after {waited:.0f}s wait — "
              "numbers marked contended", file=sys.stderr)
    return {"loadavg_1m": round(load1, 2), "loadavg_5m": round(load5, 2),
            "quiet_wait_sec": round(waited, 1), "contended": contended}


def _load_stamp() -> dict:
    """Instantaneous loadavg snapshot — stamped at every section
    boundary (sf1 child, sf10 child, sf0.1 loop start/mid/end) so the
    artifact shows the load EACH section ran under, not one number for
    a multi-minute run (round-11 fix: round 10's single stamp couldn't
    localize a mid-run contention spike)."""
    l1, l5, _ = os.getloadavg()
    return {"load1": round(l1, 2), "load5": round(l5, 2)}


def _cpu_canary() -> float:
    """Host-speed canary (round 12, verdict ask #3): a FIXED
    single-thread pure-CPU workload — 12M iterations of a pinned FNV-1a
    fold, no allocation, no IO — timed once at gate-pass and stamped
    into ``env.cpu_canary_sec``.  Rounds 10-11 both read uniform
    15-25% shifts on doc-heavy queries with zero code change and had to
    ATTRIBUTE them to host-level speed drift by inference; the canary
    turns that into a number: if query walls move with the canary,
    it's the host; if they move against it, it's the code.  ~2 s on
    the round-12 reference host (value 955175621 pins the loop against
    accidental edits)."""
    t0 = time.perf_counter()
    h = 2166136261
    for i in range(12_000_000):
        h = (h ^ i) * 16777619 & 0xFFFFFFFF
    assert h == 955175621, "canary workload changed — comparisons void"
    return round(time.perf_counter() - t0, 3)


def _canary_proc_worker(_seed: int) -> float:
    """One multi-core canary worker: the SAME pinned FNV-1a fold as
    :func:`_cpu_canary`, run in its own PROCESS.  Module-level so the
    fork-based pool can pickle it by reference."""
    t0 = time.perf_counter()
    h = 2166136261
    for i in range(12_000_000):
        h = (h ^ i) * 16777619 & 0xFFFFFFFF
    assert h == 955175621, "canary workload changed — comparisons void"
    return time.perf_counter() - t0


def _cpu_canary_mt(workers: int = 32) -> float:
    """Multi-core host-speed canary (round 14, verdict ask #1): N=32
    concurrent FNV-1a workers in separate PROCESSES (Python threads
    would serialize on the GIL and price nothing), reporting the MAX
    per-worker wall — the same worst-lane cost a 32-thread Spark stage
    pays, since a stage finishes when its slowest task does.

    Round 13 proved the single-thread canary is steal-blind in exactly
    the regime that matters: the driver's artifact gate-passed at
    canary 1.172 yet recorded sf10 suite 22.43 s vs a clean-window
    16.17 s on identical code — bursty hypervisor steal taxed 32
    concurrent cores while leaving one thread near-clean (four sf10
    readings 9.12/11.22/16.17/22.43 were uncorrelated with their
    1-thread canaries 1.09/1.264/1.14/1.172).  A 32-process max-wall
    sample pays the same multi-core tax the measured sections pay.
    ~1.2 s on a clean 32-core host (each worker ≈ the single-thread
    wall); inflates roughly with (1 - steal)^-1 under multi-core
    steal."""
    from concurrent.futures import ProcessPoolExecutor
    import multiprocessing

    ctx = multiprocessing.get_context("fork")
    with ProcessPoolExecutor(max_workers=workers, mp_context=ctx) as pool:
        walls = list(pool.map(_canary_proc_worker, range(workers)))
    return round(max(walls), 3)


#: Canary reference seeds.  The single-thread seed is the round-12
#: reference host (1.092 recorded in BENCH_r12.json).  The multi-core
#: seed is the BEST max-per-worker wall observed on the round-14 host
#: across a full day of sampling (1.708, at loadavg ~0 with no JVMs —
#: the round-14 host ran under persistent bursty multi-core hypervisor
#: steal, with samples ranging 1.7-5.3 while the single-thread canary
#: read 1.12-1.64, so this seed is the demonstrated-achievable floor,
#: not a theoretical clean value; on 32 dedicated physical cores the
#: floor would be ~the single-thread wall).  _canary_ref() folds every
#: later BENCH artifact's reading into a rolling min, so these
#: constants only anchor the first rounds and can never make the gate
#: LOOSER than the best window actually committed.
ST_CANARY_SEED = 1.09
MT_CANARY_SEED = 1.708


def _canary_ref(key: str, seed: float) -> float:
    """Rolling canary reference (verdict r13 ask #1d): the min over
    every prior BENCH_r*.json's recorded ``env[key]``, seeded with
    ``seed``.  A hard-coded reference goes stale the first time the
    fleet lands on a faster host class; a rolling min over committed
    artifacts is self-updating and monotone (the gate can only get
    stricter)."""
    import glob

    vals = [seed]
    for path in sorted(glob.glob(os.path.join(REPO_DIR, "BENCH_r*.json"))):
        try:
            with open(path) as f:
                rec = json.load(f)
            env = (rec.get("parsed") or {}).get("env") or {}
            v = env.get(key)
            if isinstance(v, (int, float)) and v > 0.1:
                vals.append(float(v))
        except (OSError, ValueError):
            continue
    return min(vals)


def _canary_gate(label: str, ref_mt: float, cap_sec: float = 600.0) -> dict:
    """Sample the multi-core canary and RETRY until it lands within
    1.25x of ``ref_mt`` or ``cap_sec`` expires (verdict r13 ask #1c:
    each measured section gets its OWN pre-gate — a start-of-run
    sample cannot see steal that arrives mid-run, so the gate moves to
    the section boundary).  Returns a self-identifying stamp; callers
    record it in ``env_sections`` next to the numbers it guards."""
    t0 = time.monotonic()
    mt = _cpu_canary_mt()
    while mt > ref_mt * 1.25 and time.monotonic() - t0 < cap_sec:
        print(f"bench: canary[{label}] {mt:.3f} > {ref_mt:.3f}*1.25 — host "
              "contended, retrying", file=sys.stderr)
        time.sleep(20.0)
        mt = _cpu_canary_mt()
    return {"canary_mt_sec": mt,
            "canary_wait_sec": round(time.monotonic() - t0, 1),
            "canary_contended": mt > ref_mt * 1.25}


def _count_java_procs() -> int:
    """Java processes currently alive (incl. our own driver JVM).

    Any value > 1 during the measured window means a concurrent Spark
    JVM is contending for the same cores and every number is suspect
    (round-2's 2x artifact inflation).  Stamped into the payload so a
    contaminated run is self-identifying.
    """
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    n += 1
        except OSError:
            continue
    return n


def build_suite():
    from term_spark import Assertion, Check, Level

    check = (Check("lineitem_20", Level.ERROR)
             .has_size(Assertion.gt(0))
             .is_complete("l_orderkey").is_complete("l_partkey")
             .is_complete("l_suppkey").is_complete("l_quantity")
             .has_min("l_quantity", Assertion.ge(1))
             .has_max("l_quantity", Assertion.le(50))
             .has_mean("l_quantity", Assertion.between(20, 30))
             .has_sum("l_extendedprice", Assertion.gt(0))
             .has_standard_deviation("l_quantity", Assertion.gt(0))
             .has_variance("l_quantity", Assertion.gt(0))
             .value_range("l_discount", 0.0, 0.1)
             .is_contained_in("l_returnflag", ["R", "A", "N"])
             .is_contained_in("l_linestatus", ["O", "F"])
             .satisfies("l_extendedprice >= 0", 1.0)
             .satisfies("l_tax >= 0", 1.0)
             .uniqueness(["l_orderkey", "l_linenumber"], 0.5)
             .has_approx_count_distinct("l_orderkey", Assertion.gt(100))
             .has_approx_quantile("l_quantity", 0.5, Assertion.between(20, 30))
             .has_correlation("l_quantity", "l_extendedprice",
                              Assertion.between(-1, 1)))
    return check


def _sf1_dir() -> str:
    return os.environ.get(
        "SPARK_GRAFT_SF1_DIR", os.path.join(REPO_DIR, "benchdata", "sf1"))


def _measure_suite(spark, suite, df, samples: int) -> float:
    jvm_gc = spark.sparkContext._jvm.System.gc
    suite.run(spark, df)  # warm
    best = float("inf")
    for _ in range(samples):
        jvm_gc()
        t0 = time.perf_counter()
        result = suite.run(spark, df)
        best = min(best, time.perf_counter() - t0)
        assert result.passed, result.report.to_json()
    return best


def _measure_query(spark, fn, sf_dir: str, samples: int = 2) -> float:
    jvm_gc = spark.sparkContext._jvm.System.gc
    fn(spark, sf_dir).collect()  # warm (codegen compile, JIT)
    best = float("inf")
    for _ in range(samples):
        jvm_gc()
        t0 = time.perf_counter()
        fn(spark, sf_dir).collect()
        best = min(best, time.perf_counter() - t0)
    return best


def _bench_index_lifecycles(spark, sf_dir: str, ivf_centroids: int = 16,
                            which: tuple = ("minhash", "substring",
                                            "ivf", "hll", "kmv",
                                            "hybrid", "equidepth")) -> dict:
    """Separate BUILD vs PROBE timings for the persisted indexes
    (round-11 ask #5: `incremental_neardup_docs` bench readings
    conflated writing the index — parquet x3 — with probing it, and
    the IVF serving row conflated train+assign+write with the probe;
    the steady-state serving cost was invisible).

    Build is timed once — it is the one-time ingestion cost, a write.
    Probe is warm + best-of-2 — the steady-state serving number.
    Round 13 adds the KMV overlap tier (ask #4: its registry row
    benches the exact-replay ATTESTATION lifecycle, which buried the
    ~0.1 s-class serving number) and the probe-vs-fuse split of
    index-backed hybrid retrieval (ask #5).
    Returns {<tier>_index_build, <tier>_index_probe, ...} plus
    {bm25_index_build, hybrid_bm25_probe, hybrid_ann_probe,
    hybrid_fuse}.
    """
    import pyspark.sql.functions as F

    from term_spark.operators import dedup as D
    from term_spark.operators import similarity as S
    from term_spark.operators import text as T
    from term_spark.session import scratch_dir
    from term_spark.sources import read_parquet

    out = {}
    with scratch_dir() as tmp:
        if {"minhash", "substring", "hll", "kmv", "hybrid"} & set(which):
            docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
            corpus = docs.filter(F.col("doc_id") % 4 != 0)
            batch = docs.filter(F.col("doc_id") % 4 == 0)

        if "minhash" in which:
            t0 = time.perf_counter()
            D.build_minhash_index(corpus, f"{tmp}/mh")
            out["minhash_index_build"] = round(time.perf_counter() - t0, 4)
            probe = lambda: D.neardup_against_index(  # noqa: E731
                spark, f"{tmp}/mh", batch).collect()
            probe()  # warm
            out["minhash_index_probe"] = round(min(
                _timed(probe) for _ in range(2)), 4)

        if "substring" in which:
            t0 = time.perf_counter()
            T.build_substring_index(corpus, f"{tmp}/ss", k=10)
            out["substring_index_build"] = round(time.perf_counter() - t0, 4)
            sprobe = lambda: T.duplicated_spans_against_index(  # noqa: E731
                spark, f"{tmp}/ss", batch).collect()
            sprobe()
            out["substring_index_probe"] = round(min(
                _timed(sprobe) for _ in range(2)), 4)

        if "hll" in which:
            from term_spark.analyzers.distinct_index import (
                build_distinct_index, distinct_estimates_from_index)
            t0 = time.perf_counter()
            build_distinct_index(corpus, ["doc_id", "lang", "source"],
                                 f"{tmp}/hll")
            build_distinct_index(batch, ["doc_id", "lang", "source"],
                                 f"{tmp}/hll", mode="append")
            out["hll_index_build"] = round(time.perf_counter() - t0, 4)
            hprobe = lambda: distinct_estimates_from_index(  # noqa: E731
                spark, f"{tmp}/hll").collect()
            hprobe()
            out["hll_index_probe"] = round(min(
                _timed(hprobe) for _ in range(2)), 4)

        if "kmv" in which:
            from term_spark.analyzers.kmv_index import (build_kmv_index,
                                                        overlap_from_index)
            # r15: spread the shingle feed like the registry row (and
            # like the minhash/substring sections, whose operators
            # spread internally) — the raw single-split corpus ran the
            # whole tokenize+explode on one core. Same lifecycle, same
            # timing; sf0.1 build 7.7-8.1 -> ~4.9 s same-session A/B.
            from term_spark.operators.dedup import spread
            sh = lambda d: spread(d, "doc_id").select(  # noqa: E731
                "source",
                F.explode(T.word_shingles_from(T.norm_tokens("text"), 8))
                .alias("shingle"))
            t0 = time.perf_counter()
            build_kmv_index(sh(corpus), "source", "shingle",
                            f"{tmp}/kmv", k=4096)
            build_kmv_index(sh(batch), "source", "shingle",
                            f"{tmp}/kmv", k=4096, mode="append")
            out["kmv_index_build"] = round(time.perf_counter() - t0, 4)
            kprobe = lambda: overlap_from_index(  # noqa: E731
                spark, f"{tmp}/kmv").collect()
            kprobe()
            out["kmv_index_probe"] = round(min(
                _timed(kprobe) for _ in range(2)), 4)

        if "equidepth" in which:
            # r13 verdict ask #5: the exact-vs-grid pair — the exact
            # form's percentile sort pass is the cost the grid tier
            # amortizes; the serve number (attest=False) is the
            # steady-state dashboard refresh: a KB index probe + ONE
            # map-only CASE count (vs the registry row
            # equidepth_price_histogram, which pays the sort each run)
            from term_spark.analyzers.quantile_index import \
                build_quantile_index
            from term_spark.operators.histogram import (
                equidepth_histogram, equidepth_histogram_from_index)
            li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
            t0 = time.perf_counter()
            build_quantile_index(li, ["l_extendedprice"], f"{tmp}/eqg")
            out["equidepth_grid_build"] = round(time.perf_counter() - t0, 4)
            gserve = lambda: equidepth_histogram_from_index(  # noqa: E731
                li, "l_extendedprice", f"{tmp}/eqg", buckets=8,
                attest=False).collect()
            gserve()
            out["equidepth_grid_serve"] = round(min(
                _timed(gserve) for _ in range(2)), 4)
            eserve = lambda: equidepth_histogram(  # noqa: E731
                li, "l_extendedprice", buckets=8).collect()
            eserve()
            out["equidepth_exact"] = round(min(
                _timed(eserve) for _ in range(2)), 4)

        if "ivf" in which:
            emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
            t0 = time.perf_counter()
            S.build_ivf_index(emb, f"{tmp}/ivf", n_centroids=ivf_centroids)
            out["ivf_index_build"] = round(time.perf_counter() - t0, 4)
            queries = (emb.limit(64)
                       .select(F.col("vec_id").alias("query_id"),
                               F.col("embedding").alias("query_vec"))
                       .localCheckpoint())
            iprobe = lambda: S.ivf_topk_from_index(  # noqa: E731
                spark, f"{tmp}/ivf", queries, k=5, nprobe=4).collect()
            iprobe()
            out["ivf_index_probe"] = round(min(
                _timed(iprobe) for _ in range(2)), 4)

        if "hybrid" in which and "ivf" in which:
            # probe-vs-fuse split for index-backed hybrid retrieval:
            # each stage timed alone, fusion over localCheckpointed
            # bounded top-N tables so its number contains NO probe work
            from term_spark.operators.retrieval import rrf_fuse
            from term_spark.queries_llm import _BM25_PROBES
            from term_spark.session import local_df
            probes = local_df(
                spark, _BM25_PROBES, "query_id long, query string")
            t0 = time.perf_counter()
            T.build_bm25_index(docs, f"{tmp}/bm25")
            out["bm25_index_build"] = round(time.perf_counter() - t0, 4)
            qv = (emb.filter(F.col("vec_id") < 3)
                  .select(F.col("vec_id").alias("query_id"),
                          F.col("embedding").alias("query_vec"))
                  .localCheckpoint())
            bprobe = lambda: T.bm25_topk_from_index(  # noqa: E731
                spark, f"{tmp}/bm25", probes, k=20).collect()
            bprobe()
            out["hybrid_bm25_probe"] = round(min(
                _timed(bprobe) for _ in range(2)), 4)
            aprobe = lambda: S.ivf_topk_from_index(  # noqa: E731
                spark, f"{tmp}/ivf", qv, k=20, nprobe=4).collect()
            aprobe()
            out["hybrid_ann_probe"] = round(min(
                _timed(aprobe) for _ in range(2)), 4)
            bm_ck = T.bm25_topk_from_index(
                spark, f"{tmp}/bm25", probes, k=20) \
                .select("query_id", "doc_id", "rank").localCheckpoint()
            ann_ck = S.ivf_topk_from_index(
                spark, f"{tmp}/ivf", qv, k=20, nprobe=4) \
                .select("query_id", F.col("nbr_id").alias("doc_id"),
                        "rank").localCheckpoint()
            fuse = lambda: rrf_fuse(  # noqa: E731
                {"bm25": bm_ck, "cosine": ann_ck}, k=10).collect()
            fuse()
            out["hybrid_fuse"] = round(min(
                _timed(fuse) for _ in range(2)), 4)
    return out


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


#: sf10 keys allowed into the COMPACT stdout line — the suite headline
#: plus the handful of slope queries the round-over-round story reads;
#: every other sf10 number stays in BENCH_DETAIL.json.  Round 14's
#: compact line dumped the whole sf10 section (~30 keys incl. nested
#: load stamps and byte counters), outgrew its own 1500-char assert at
#: bench.py:969, and the assert fired BEFORE print — converting a
#: finished, clean, canary-gated run into rc=1/parsed:null in the
#: driver's BENCH_r14.json (verdict r14 ask #1).
SF10_COMPACT_KEYS = (
    "suite_20_constraints", "minhash_lsh_candidates",
    "substring_dedup_docs", "cross_table_sum_orders_lineitem",
    "waiting_suppliers")

#: Hard budget for the compact stdout line (the driver records only the
#: last ~2,000 chars of stdout; headroom for a trailing newline plus any
#: late stderr interleave).
COMPACT_BUDGET = 1500


def fit_compact(compact: dict, budget: int = COMPACT_BUDGET) -> str:
    """Serialize the compact payload, shedding the FASTEST of the
    'slowest per-query' rows until the line fits ``budget``.  Never
    raises and never returns an over-budget line while any shedding
    remains: the compact line is the driver's machine-readable bench
    artifact, so an over-long line must degrade (fewer per-query rows —
    the full set is in BENCH_DETAIL.json regardless) rather than abort
    a finished run (verdict r14 ask #1b: print must not be preceded by
    a failing assert)."""
    line = json.dumps(compact)
    queries = compact.get("queries", {})
    while len(line) >= budget:
        shed = [k for k in queries if k != "suite_20_constraints"]
        if not shed:
            break
        del queries[min(shed, key=lambda k: queries[k])]
        line = json.dumps(compact)
    return line


def _bench_curation_stages(spark, sf_dir: str) -> dict:
    """Per-stage cost split of the composed curation pipeline (r13
    verdict ask #4): each stage is lazily localCheckpoint-pinned, so
    timing each stage's first materialization measures THAT stage's
    incremental work — upstream stages are already pinned when stage N
    runs.  Single timed pass (the composition's registry row measures
    the whole-chain accounting cost; this is the where-does-it-go
    split)."""
    import pyspark.sql.functions as F

    from term_spark.operators.curation import curation_pipeline
    from term_spark.sources import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet") \
        .filter(F.col("text").isNotNull())
    it = curation_pipeline(
        docs, eval_df=docs.filter(F.col("source") == "src0"),
        train_filter=F.col("source") != "src0")
    out = {}
    while True:
        # time next() TOGETHER with the count: the generator builds
        # stage N between yields, and the near-dup stage runs its
        # component-convergence actions during that build — a plain
        # `for` would advance the generator outside the timer and
        # charge ~80% of the pipeline to nothing
        t0 = time.perf_counter()
        try:
            name, sdf = next(it)
        except StopIteration:
            break
        sdf.count()
        out[f"curation_{name}"] = round(time.perf_counter() - t0, 4)
    return out


def _sf10_dir() -> str:
    return os.environ.get(
        "SPARK_GRAFT_SF10_DIR", os.path.join(REPO_DIR, "benchdata", "sf10"))


def sf10_fresh_main() -> None:
    """Child-process entry: the sf10 scale point (60M-row lineitem —
    the third decade of the crossover slope) in a JVM that has run
    NOTHING else.  Headline suite + three join/dedup queries; best-of-2
    (each sample is already a full 60M-row pass — the JIT is hot after
    the warm-up count + first sample).  Prints one JSON line."""
    from term_spark import ValidationSuite
    from term_spark.queries import QUERIES
    from term_spark.session import get_spark, scratch_dir
    from term_spark.sources import read_parquet

    sf10_dir = _sf10_dir()
    spark = get_spark("term_spark_bench_sf10")
    spark.sparkContext.setLogLevel("ERROR")
    li = read_parquet(spark, f"{sf10_dir}/lineitem.parquet")
    li.count()  # warm: file listing, footer reads, JIT
    suite = ValidationSuite.builder("bench_suite").with_check(build_suite())
    # 3 samples (round 10): two back-to-back artifact runs read 10.8 vs
    # 16.5 s at 2 samples — a 60M-row pass carries enough GC/JIT noise
    # that best-of-2 is a coin flip; the third sample (~12 s) buys a
    # stable floor
    out = {"load_at_start": _load_stamp(),
           "suite_20_constraints": round(_measure_suite(spark, suite, li, 3), 4)}
    for name in ("fk_orders_customer", "cross_table_sum_orders_lineitem",
                 "dedup_exact_docs"):
        out[name] = round(
            _measure_query(spark, QUERIES[name], sf10_dir, samples=2), 4)
    # round-11 (verdict ask #3): the LLM-pipeline flagships at the
    # third decade — 500k docs.  Round 12: the corpus is now generated
    # with make_sf1.py --perturb (per-copy vocabulary rewrite), so
    # cross-copy clone pairs fall below candidate thresholds and true
    # near-dup pair counts grow LINEARLY in the replication factor —
    # the round-11 number (304 s) measured the byte-identical
    # replicator's quadratic pair blowup, not the design; _meta.json
    # in the corpus dir records which replicator produced the data.
    # These can run 30-120 s, so they are single timed runs
    # (JIT/codegen amortizes to <5% at this length).  line_dedup is
    # short enough to warm.
    for name in ("minhash_lsh_candidates", "substring_dedup_docs"):
        out[name] = round(_timed(
            lambda: QUERIES[name](spark, sf10_dir).collect()), 4)
    out["line_dedup_summary_docs"] = round(
        _measure_query(spark, QUERIES["line_dedup_summary_docs"],
                       sf10_dir, samples=1), 4)
    # round-12 (verdict ask #7): event analytics at the third decade —
    # the events table replicates cleanly (user_id offsets preserve
    # per-user streams), so these slopes are real, not clone artifacts
    for name in ("funnel_events", "retention_cohorts_events",
                 "event_transitions_events", "asof_click_error"):
        out[name] = round(
            _measure_query(spark, QUERIES[name], sf10_dir, samples=2), 4)
    # round-13 (verdict ask #8): the decorrelated Q21/Q22 at the third
    # decade — Q21 is exactly the plan whose value shows at scale (the
    # textbook form runs two 60M-row lineitem self-joins; ours is one
    # grouped pass on the fact key)
    for name in ("waiting_suppliers", "global_sales_opportunity"):
        out[name] = round(
            _measure_query(spark, QUERIES[name], sf10_dir, samples=2), 4)
    # round-14 (verdict ask #6): the round-13 TPC-H plans whose SLOPE
    # matters — Q7/Q8/Q9 are the multi-join snowflakes where a wrong
    # join order or a missed broadcast shows only at scale
    for name in ("volume_shipping", "national_market_share",
                 "product_profit_by_nation"):
        out[name] = round(
            _measure_query(spark, QUERIES[name], sf10_dir, samples=2), 4)
    # round-13 (verdict ask #6): Z-order at a file population that
    # matters — 64 files over the 15M-row orders table, then the
    # measured overlap of a 25% box on the NON-LEAD dimension (the
    # predicate a linear sort cannot prune: every file would overlap)
    import pyspark.sql.functions as F

    from term_spark.plans.layout import file_pruning_stats, write_zordered
    with scratch_dir() as ztmp:
        orders = read_parquet(spark, f"{sf10_dir}/orders.parquet")
        t0 = time.perf_counter()
        spans = write_zordered(
            orders.select("o_orderkey", "o_custkey", "o_totalprice"),
            f"{ztmp}/z", ["o_custkey", "o_totalprice"], n_files=64)
        out["zorder_write_orders"] = round(time.perf_counter() - t0, 4)
        stats = file_pruning_stats(
            spark, f"{ztmp}/z", ["o_custkey", "o_totalprice"]).collect()
        lo, hi = spans[1]
        q1 = lo + 0.25 * (hi - lo)
        out["zorder_files_total"] = len(stats)
        out["zorder_overlap_25pct_box"] = sum(
            1 for r in stats
            if not (r["max_o_totalprice"] < lo or r["min_o_totalprice"] > q1))
        # round-13 (ask #6, second half): SQ8 serving — the int8
        # codes-table scan + exact re-rank vs the raw-vector scan,
        # both from parquet (the serving I/O shape, not cached frames)
        from term_spark.operators.similarity import (cosine_topk,
                                                     sq8_quantize,
                                                     sq8_topk_refined)
        emb = read_parquet(spark, f"{sf10_dir}/embeddings.parquet")
        sq8_quantize(emb).write.parquet(f"{ztmp}/codes")
        codes = spark.read.parquet(f"{ztmp}/codes")
        qv = (emb.limit(16)
              .select(F.col("vec_id").alias("query_id"),
                      F.col("embedding").alias("query_vec"))
              .localCheckpoint())
        sqp = lambda: sq8_topk_refined(  # noqa: E731
            emb, codes, qv, k=5).collect()
        sqp()
        out["sq8_refined_topk"] = round(min(_timed(sqp) for _ in range(2)), 4)
        rawp = lambda: cosine_topk(emb, qv, k=5).collect()  # noqa: E731
        rawp()
        out["cosine_raw_topk"] = round(min(_timed(rawp) for _ in range(2)), 4)

        def _dir_bytes(path):
            return sum(os.path.getsize(os.path.join(dp, fn))
                       for dp, _dirs, fns in os.walk(path) for fn in fns)
        # the tier's real claim is BYTES (serving IO when vectors are
        # cold), not local FLOPs — round 13 measured the two-pass
        # refine LOSING to one brute pass on page-cached 64-dim data,
        # so record the storage ratio the claim actually rests on
        out["sq8_codes_bytes"] = _dir_bytes(f"{ztmp}/codes")
        out["raw_embeddings_bytes"] = _dir_bytes(
            f"{sf10_dir}/embeddings.parquet")
    meta_path = os.path.join(sf10_dir, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            out["corpus_meta"] = json.load(fh)
    # ANN + overlap serving points at sf10: persisted-IVF and
    # persisted-KMV build once + steady-state probe, split (asks #5,
    # #4); the other doc-index lifecycles run at sf0.1 where their
    # registry rows are benched
    out.update(_bench_index_lifecycles(spark, sf10_dir, ivf_centroids=32,
                                       which=("ivf", "kmv")))
    out["load_at_end"] = _load_stamp()
    print(json.dumps(out))


def sf1_fresh_main() -> None:
    """Child-process entry: measure the sf1 headline suite and the
    minhash sf1 stress point in a JVM that has run NOTHING else.
    Prints one JSON line on stdout for the parent to parse."""
    from term_spark import ValidationSuite
    from term_spark.queries import QUERIES
    from term_spark.session import get_spark
    from term_spark.sources import read_parquet

    sf1_dir = _sf1_dir()
    spark = get_spark("term_spark_bench_sf1")
    spark.sparkContext.setLogLevel("ERROR")
    li1 = read_parquet(spark, f"{sf1_dir}/lineitem.parquet")
    li1.count()  # warm: file listing, footer reads, JIT
    suite = ValidationSuite.builder("bench_suite").with_check(build_suite())
    out = {"suite_20_constraints": round(_measure_suite(spark, suite, li1, 3), 4)}
    # judge ask r5#6: minhash sf1 spanned 4.9-8.4 s across aged-JVM
    # samples; 3 fresh samples give a stable best-of number
    out["minhash_lsh_candidates"] = round(
        _measure_query(spark, QUERIES["minhash_lsh_candidates"], sf1_dir,
                       samples=3), 4)
    print(json.dumps(out))


def main() -> None:
    from term_spark import ValidationSuite
    from term_spark.queries import QUERIES
    from term_spark.session import get_spark
    from term_spark.sources import read_parquet

    # quiet-gate BEFORE any JVM exists: from here on our own 32-thread
    # stages dominate loadavg, so this is the only honest sample point
    quiet = _wait_for_quiet()
    # Round-13 hardening: loadavg CANNOT see hypervisor CPU steal —
    # round 13 measured loadavg 0.04 at gate-pass while the canary
    # read 1.26 (15% slow) and later 1.86 (70% slow) with ZERO busy
    # local processes, and the sf1 fresh suite read 2-6x its clean
    # value under that steal.  Round-14 hardening (verdict r13 ask
    # #1): the binding gate is now the MULTI-CORE canary (32-process
    # max per-worker wall — a 1-thread sample cannot see steal that
    # taxes 32 concurrent cores: four r13 sf10 readings of
    # 9.12/11.22/16.17/22.43 s were uncorrelated with their 1-thread
    # canaries), it is sampled BEFORE AND AFTER every measured section
    # (a start-of-run sample cannot see steal that arrives mid-run),
    # each child section retries on its OWN pre-gate, and the
    # reference is a rolling min over prior BENCH artifacts instead of
    # a hard-coded constant.  The single-thread canary is still
    # stamped once for continuity with the r12/r13 artifacts.
    st_ref = _canary_ref("cpu_canary_sec", ST_CANARY_SEED)
    mt_ref = _canary_ref("cpu_canary_mt_sec", MT_CANARY_SEED)
    gate = _canary_gate("gate", mt_ref)
    quiet["cpu_canary_sec"] = _cpu_canary()
    quiet["cpu_canary_mt_sec"] = gate["canary_mt_sec"]
    quiet["canary_wait_sec"] = gate["canary_wait_sec"]
    quiet["canary_contended"] = gate["canary_contended"]
    quiet["canary_mt_ref"] = mt_ref
    quiet["canary_st_ref"] = st_ref
    sections = {"gate": {**_load_stamp(), **gate}}

    # sf1 / sf10 headlines in FRESH subprocess JVMs, before this
    # process starts its own (never two JVMs at once).  Each child
    # section is bracketed by its own canary pair: the PRE sample is a
    # retrying gate (don't start a measured section on a stolen host),
    # the POST sample proves the host stayed clean THROUGH the section
    # — if post >> pre, steal arrived mid-section and the section's
    # numbers self-identify as contaminated.
    sf1 = {}
    if os.path.isdir(_sf1_dir()):
        sections["pre_sf1_child"] = {**_load_stamp(),
                                     **_canary_gate("sf1", mt_ref)}
        child = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--sf1-fresh"],
            capture_output=True, text=True, cwd=REPO_DIR)
        if child.returncode == 0 and child.stdout.strip():
            sf1.update(json.loads(child.stdout.strip().splitlines()[-1]))
        else:
            print(f"bench: WARNING sf1 fresh-JVM child failed: "
                  f"{child.stderr[-500:]}", file=sys.stderr)
    sections["after_sf1_child"] = {**_load_stamp(),
                                   "canary_mt_sec": _cpu_canary_mt()}
    sf10 = {}
    if os.path.isdir(_sf10_dir()):
        sections["pre_sf10_child"] = {**_load_stamp(),
                                      **_canary_gate("sf10", mt_ref)}
        child = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--sf10-fresh"],
            capture_output=True, text=True, cwd=REPO_DIR)
        if child.returncode == 0 and child.stdout.strip():
            sf10.update(json.loads(child.stdout.strip().splitlines()[-1]))
        else:
            print(f"bench: WARNING sf10 fresh-JVM child failed: "
                  f"{child.stderr[-500:]}", file=sys.stderr)
    sections["after_sf10_child"] = {**_load_stamp(),
                                    "canary_mt_sec": _cpu_canary_mt()}

    # re-arm the quiet gate before the per-query section: the fresh-JVM
    # children above are 32-thread jobs, and round 11's stamps showed
    # the sf0.1 loop STARTING at load1 ~14 from their residue — the
    # children have exited (subprocess.run waits), so true contention
    # is near zero, but tail-end kernel/page-cache churn overlaps the
    # first queries and the stamps read as contaminated either way.
    # 1-minute decay is cheap; cap it so a busy host can't stall us.
    _wait_for_quiet(threshold=1.0, threshold_5m=float("inf"), cap_sec=240)
    sections["pre_sf01_rearm"] = {**_load_stamp(),
                                  **_canary_gate("sf01", mt_ref)}

    spark = get_spark("term_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    lineitem = read_parquet(spark, f"{SF_DIR}/lineitem.parquet")
    lineitem.count()  # warm: file listing, footer reads, JIT

    suite = ValidationSuite.builder("bench_suite").with_check(build_suite())

    # steady-state: warm-up run, then best-of-3 with forced GC — the
    # SAME discipline as every per-query number below.  A single un-GC'd
    # sample in a long-lived 32-thread JVM can carry 2x GC debt from the
    # warm-up and misrepresent the engine (round-2 lesson).
    # 5 samples: measured on a noisy round-10 box, the suite decays
    # monotonically through ~5 runs (codegen/JIT settling) — best-of-3
    # after one warm run can catch a pre-settled 0.9-1.2 s sample where
    # the settled wall is 0.65 s; two extra samples cost ~1.5 s total
    suite_sec = _measure_suite(spark, suite, lineitem, 5)
    per_query = {"suite_20_constraints": round(suite_sec, 4)}

    bench_queries = [
        "pricing_summary", "stats_quantity", "histogram_returnflag",
        "entropy_returnflag", "unique_value_ratio_custkey",
        "fk_orders_customer", "join_coverage_lineitem_orders",
        "cross_table_sum_orders_lineitem", "max_time_gap_events",
        "corr_quantity_price", "mutual_information_lineitem",
        "sessionize_events", "top_customers_revenue",
        # LLM-data operators over documents/embeddings
        "dedup_exact_docs", "ngram_jaccard_pairs", "minhash_lsh_candidates",
        "simhash_docs", "cosine_topk_embeddings",
        # round-4 curation additions
        "repetition_docs", "packing_stats_docs", "semantic_dedup_embeddings",
        "source_mixing_docs",
        # round-4 window/reshape/drift family
        "asof_click_error", "range_join_events", "rolling_daily_events",
        "pivot_returnflag_linestatus", "top3_customers_per_segment",
        "unpivot_pricing", "rollup_pricing", "median_by_returnflag",
        "benford_acctbal", "drift_psi_quantity",
        # round-5 additions: drift companions, curation stages, robust
        # outliers, snapshot gates
        "drift_ks_quantity", "drift_chi2_returnflag", "drift_js_quantity",
        "line_dedup_summary_docs", "token_budget_sample_docs",
        "text_cleaning_docs", "outlier_mad_acctbal",
        "dominant_value_orderstatus", "drift_psi_by_returnflag",
        "quality_model_docs", "unigram_surprisal_docs",
        # round-6 additions: DSIR importance weighting, winnowing
        # partial-copy detection, Unicode script profiling
        "dsir_weights_docs", "winnow_overlap_docs", "script_profile_docs",
        # round-6 additions, second wave: decontamination accounting,
        # TF-IDF keywords, W1 drift, one-scan correlation matrix,
        # bigram fluency, readability, interval-overlap join
        "decontamination_report_docs", "tfidf_top_terms_docs",
        "drift_w1_quantity", "corr_matrix_lineitem",
        "bigram_surprisal_docs", "readability_docs", "interval_join_events",
        "minhash_oph_candidates_docs", "ngram_novelty_docs",
        "chunk_documents_docs", "frequent_terms_docs",
        "corpus_profile_by_lang",
        # round-6, third wave: FD audit, shape stats, snapshot diff,
        # vector drift, row-level violations, Gopher rules
        "fd_custkey_orderstatus", "shape_stats_quantity",
        "dataset_diff_orders", "embedding_centroid_drift",
        "row_violations_docs", "gopher_rules_docs",
        # round-8 newcomers (verdict r8 ask #7) + round-9 paragraph tier
        "lexical_diversity_docs", "source_overlap_docs",
        "brand_profile_part", "supplier_stats_by_nation",
        "paragraph_dedup_summary_docs",
        # round-9 TPC-H-shaped join plans (Q3/Q5/Q10 analogues)
        "shipping_priority_orders", "regional_supplier_volume",
        "returned_item_customers",
        # round-10 ExactSubstr tier (Lee et al. 2021) + BM25 retrieval
        "substring_dedup_docs", "bm25_topk_docs",
        # round-10 sketch + chunk tiers: MG heavy hitters, CDC dedup,
        # join-cardinality pre-flight
        "mg_heavy_hitters_docs", "cdc_dedup_docs",
        "join_cardinality_orders_lineitem", "incremental_neardup_docs",
        # round-11 PII/safety layer (map-only regex scans over the
        # injected corpus — the realistic pre-release scrub shape)
        "pii_scan_docs", "badwords_ratio_docs", "domain_counts_docs",
        # round-11 second wave: event analytics (sequential-gate joins,
        # cohort arithmetic, LAG transitions) + the Arrow-batched
        # multimodal header probe
        "funnel_events", "retention_cohorts_events",
        "event_transitions_events", "multimodal_probe_docs",
        # round-12: hybrid retrieval fusion, Morton clustering key,
        # and the two new persisted-tier lifecycles (quantile grids,
        # KMV overlap — full build→append→probe rows, like
        # incremental_neardup_docs above)
        "hybrid_rrf_docs", "zorder_key_orders",
        "incremental_quantile_docs", "incremental_overlap_docs",
        "drift_psi_timeline_events", "sq8_recall_embeddings",
        "waiting_suppliers", "global_sales_opportunity",
        # round-13: the remaining partsupp-free TPC-H analogues, the
        # Benford first-digit screen, and the index-backed hybrid
        # retrieval lifecycle (its probe-vs-fuse split is measured in
        # _bench_index_lifecycles)
        "forecast_revenue_change", "volume_shipping",
        "national_market_share", "product_profit_by_nation",
        "customer_order_distribution", "promo_revenue",
        "top_supplier_revenue", "discounted_revenue_brands",
        "benford_totalprice", "hybrid_rrf_from_index_docs",
        "fuzzy_name_pairs_part", "fuzzy_canonical_part",
        "equidepth_price_histogram",
        # round-14: the composed curation pipeline (per-stage split in
        # _bench_curation_stages), the grid-served equi-depth (global
        # + per-source), A-ES weighted sampling, embedding hygiene
        "curation_pipeline_docs", "equidepth_from_grid_price",
        "equidepth_by_source_grid_docs", "weighted_exact_sample_docs",
        "embedding_quality_embeddings",
    ]
    sections["sf01_queries_start"] = _load_stamp()
    for name in bench_queries:
        per_query[name] = round(_measure_query(spark, QUERIES[name], SF_DIR), 4)
    sections["sf01_queries_end"] = {**_load_stamp(),
                                    "canary_mt_sec": _cpu_canary_mt()}

    sf = 0.1
    if "sf" in SF_DIR:
        try:
            sf = float(SF_DIR.rstrip("/").split("sf")[-1])
        except ValueError:
            pass

    other_jvms = _count_java_procs() - 1  # minus our own driver JVM
    if other_jvms > 0:
        print(f"bench: WARNING {other_jvms} concurrent JVM(s) detected — "
              "numbers are contaminated; rerun alone", file=sys.stderr)

    # sf1 scale-slope points (aged JVM is fine for slope tracking — the
    # headline suite + minhash came from the fresh subprocess above)
    sf1_dir = _sf1_dir()
    if os.path.isdir(sf1_dir):
        for name in ("pricing_summary", "cross_table_sum_orders_lineitem",
                     "fk_orders_customer", "join_coverage_lineitem_orders",
                     "unique_value_ratio_custkey", "max_time_gap_events",
                     "dedup_exact_docs",
                     "asof_click_error", "rolling_daily_events",
                     "pivot_returnflag_linestatus", "drift_psi_quantity",
                     "top3_customers_per_segment",
                     "drift_ks_quantity", "line_dedup_summary_docs",
                     "outlier_mad_acctbal", "substring_dedup_docs"):
            sf1[name] = round(_measure_query(spark, QUERIES[name], sf1_dir), 4)
        sections["after_sf1_aged"] = _load_stamp()

    # persisted-index lifecycles at sf0.1, build vs probe SPLIT (round
    # 11 ask #5: the registry rows incremental_neardup_docs /
    # ivf_index_recall_embeddings necessarily time the whole lifecycle;
    # the steady-state serving cost is the probe number).  LAST section
    # so the aged-JVM sf1 numbers keep their historical position in the
    # run (round-over-round comparability).
    per_query.update(_bench_index_lifecycles(spark, SF_DIR))
    per_query.update(_bench_curation_stages(spark, SF_DIR))
    sections["after_index_lifecycles"] = _load_stamp()

    detail = {
        "metric": "suite_20_constraints_wall_sec",
        "value": round(suite_sec, 4),
        "unit": "sec",
        "queries": per_query,
        "sf": sf,
        "env": {**quiet, "other_jvms": other_jvms},
        "env_sections": sections,
    }
    if sf1:
        detail["sf1"] = sf1
    if sf10:
        detail["sf10"] = sf10

    # full detail → file + stderr (the driver's stdout tail is ~2,000
    # chars; the detail line alone outgrew it in round 5)
    detail_path = os.path.join(REPO_DIR, "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print("bench-detail: " + json.dumps(detail), file=sys.stderr)

    # compact FINAL stdout line: headline, env, fresh-JVM sf1 suite,
    # top slowest per-query times, 2-decimal — kept well under the
    # driver's 2,000-char tail
    slowest = dict(sorted(
        ((k, round(v, 2)) for k, v in per_query.items()
         if k != "suite_20_constraints"),
        key=lambda kv: -kv[1])[:12])
    compact = {
        "metric": "suite_20_constraints_wall_sec",
        "value": round(suite_sec, 2),
        "unit": "sec",
        "sf": sf,
        "queries": {"suite_20_constraints": round(suite_sec, 2), **slowest},
        # load5_max spans env_sections and INCLUDES our own JVM's load
        # (a 32-thread run keeps load5 near 3 by itself); compare it
        # against the same key in earlier rounds, not against the gate
        "env": {**quiet, "other_jvms": other_jvms,
                "load5_max": max(st["load5"] for st in sections.values()),
                # worst multi-core canary seen at ANY section boundary
                # — if this is >> the gate value, steal arrived mid-run
                # and the run self-identifies even in the compact tail
                "canary_mt_max": max(st.get("canary_mt_sec", 0.0)
                                     for st in sections.values())},
        "detail": "BENCH_DETAIL.json",
    }
    if sf1:
        compact["sf1"] = {k: round(sf1[k], 2) for k in
                          ("suite_20_constraints", "minhash_lsh_candidates")
                          if k in sf1}
    if sf10:
        # headline keys only — the full sf10 section (incl. byte/file
        # counters, corpus_meta, load stamps and the long tail of slope
        # queries) stays in the detail file: round 13's byte counters
        # and round 14's grown key set both pushed the line past the
        # driver's tail budget (r14 fatally — see SF10_COMPACT_KEYS)
        compact["sf10"] = {k: round(sf10[k], 2) for k in SF10_COMPACT_KEYS
                           if isinstance(sf10.get(k), (int, float))}
    # print FIRST — emitting the data can never be gated on a length
    # check again (r14: the assert ran before print and the driver got
    # a traceback instead of the line); fit_compact guarantees the
    # budget by shedding detail-duplicated rows, and the warning below
    # makes a somehow-still-over line loud without discarding the run
    line = fit_compact(compact)
    print(line)
    if len(line) >= COMPACT_BUDGET:
        print(f"bench: WARNING compact line {len(line)} chars >= "
              f"{COMPACT_BUDGET} even after shedding — widen the budget "
              "or trim compact keys", file=sys.stderr)


if __name__ == "__main__":
    if "--sf1-fresh" in sys.argv:
        sf1_fresh_main()
    elif "--sf10-fresh" in sys.argv:
        sf10_fresh_main()
    else:
        main()
