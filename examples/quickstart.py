"""End-to-end tour of term_spark against the driver testdata.

Run: python examples/quickstart.py [sf_dir]
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from term_spark import (Assertion, Check, Level, MultiSourceValidator,
                        ValidationSuite, validate_tables)
from term_spark.analyzers.anomaly import AnomalyDetector, ZScore
from term_spark.analyzers.base import CompletenessAnalyzer, MeanAnalyzer
from term_spark.analyzers.profiler import ColumnProfiler
from term_spark.analyzers.runner import AnalysisRunner
from term_spark.analyzers.suggestions import SuggestionEngine
from term_spark.formatters import HumanFormatter
from term_spark.operators import dedup, similarity, text
from term_spark.repository import InMemoryRepository
from term_spark.session import get_spark, scratch_dir
from term_spark.sources import load_tpch_tables


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("quickstart", shuffle_partitions=8, master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    tables = load_tpch_tables(spark, sf_dir)

    # 1. declarative validation — all scalar metrics in ONE Spark job
    suite = (ValidationSuite.builder("demo").on_table("lineitem")
             .with_check(Check("quality", Level.ERROR)
                         .is_complete("l_orderkey")
                         .has_mean("l_quantity", Assertion.between(20, 30))
                         .value_range("l_discount", 0.0, 0.1)
                         .is_contained_in("l_returnflag", ["R", "A", "N"])
                         .satisfies("l_extendedprice >= 0", 1.0)))
    result = suite.run(spark, tables)
    print(HumanFormatter().format(result))
    print("\nfused plan:\n", suite.explain(spark, tables)[:600], "...\n")

    # 2. multi-table fluent DSL
    ri = (validate_tables("orders", "customer").join_on("o_custkey", "c_custkey")
          .ensure_referential_integrity().expect_join_coverage(0.99)
          .to_suite().run(spark, tables))
    print("referential integrity passed:", ri.passed)

    # 3. metrics-first API + repository + anomaly detection
    repo = InMemoryRepository()
    for ts in (1.0, 2.0, 3.0):
        suite.run_and_store(spark, tables, repo, timestamp=ts)
    series = repo.series("completeness.l_orderkey")
    print("metric history:", series, "anomaly:",
          AnomalyDetector(ZScore()).detect_series(series + [0.2]).is_anomaly)

    ctx = (AnalysisRunner().add(CompletenessAnalyzer("l_quantity"))
           .add(MeanAnalyzer("l_quantity")).run(tables["lineitem"]))
    print("analyzer metrics:", {k: v.value for k, v in ctx.metrics.items()})

    # 4. profile → suggested constraints → run them
    profile = ColumnProfiler().profile(tables["orders"])
    check = SuggestionEngine().suggest_check(profile, min_confidence=0.75)
    print("suggested constraints:", [c.name for c in check.constraints])
    print("suggested check passes:",
          ValidationSuite.builder("suggested").on_table("orders")
          .with_check(check).run(spark, tables).passed)

    # 5. LLM-data operators
    docs = tables["documents"]
    print("near-dup pairs (jaccard ≥ 0.6):",
          dedup.ngram_jaccard_pairs(docs, threshold=0.6).count())
    print("LSH candidates:", dedup.minhash_lsh_candidates(docs).count())
    langs = (docs.select(text.language_id("text")).groupBy("predicted_lang")
             .count().collect())
    print("language distribution:", {r[0]: r[1] for r in langs})

    import pyspark.sql.functions as F
    emb = tables["embeddings"]
    queries = (emb.filter("vec_id < 3")
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    topk = similarity.cosine_topk(emb.filter("vec_id >= 3"), queries, k=3)
    print("ANN sample:", [tuple(r) for r in topk.collect()[:3]])

    # 6. Curation: clustering, splits, decontamination, sampling
    from term_spark.operators import curation
    pairs = dedup.minhash_lsh_candidates(docs)
    comp = curation.connected_components(pairs)
    print("near-dup clusters:",
          comp.select("component").distinct().count(),
          "covering", comp.count(), "docs")
    splits = (curation.hash_split(docs).groupBy("split").count().collect())
    print("splits:", {r["split"]: r["count"] for r in splits})
    evals = docs.filter("source = 'src0'")
    train = docs.filter("source <> 'src0'")
    clean = curation.decontaminate_ngram(train, evals, k=8)
    print("decontamination: kept", clean.count(), "of", train.count())
    sample = curation.stratified_sample_exact(docs, "source", 2)
    print("stratified sample:", sample.count(), "docs (2 per source)")

    # 7. Round-4 additions: repetition/quality, PII, mixing, semantic dedup
    rep = text.repetition_metrics(docs).agg(
        F.round(F.avg("dup_token_ratio"), 3).alias("avg_dup"),
        F.round(F.avg("top_ngram_frac"), 3).alias("avg_top2g")).collect()[0]
    print("repetition: avg dup-token ratio", rep["avg_dup"],
          "avg top-bigram share", rep["avg_top2g"])

    from term_spark.operators import pii
    gate = pii.corpus_pii_summary(docs).collect()[0]
    print("PII gate:", gate["docs_with_pii"], "of", gate["n_docs"],
          "docs carry structured PII")

    mixed = curation.mix_sources(docs, alpha=0.5, target_fraction=0.5)
    print("temperature mixing (alpha=0.5, 50%):", mixed.count(),
          "of", docs.count(), "docs kept")

    kept = similarity.semantic_dedup(emb, threshold=0.4, n_clusters=8)
    print("semantic dedup: kept", kept.count(), "of", emb.count(), "vectors")

    packed = text.pack_sequences(docs, context_len=2048).collect()
    print("packing:", {r["stratum"]: (r["n_windows"], r["fill_efficiency"])
                       for r in packed[:3]})

    # fluent release gates: PII + drift ride the same Check API
    li = tables["lineitem"]
    gates = (ValidationSuite.builder("release")
             .with_check(Check("gates", Level.ERROR)
                         .has_no_pii("text"))
             .run(spark, docs))
    drift = (ValidationSuite.builder("drift")
             .with_check(Check("d", Level.ERROR)
                         .has_stable_distribution(
                             li.filter("l_orderkey % 2 = 0"), "l_quantity",
                             max_psi=0.25, lo=1.0, hi=50.0))
             .run(spark, li.filter("l_orderkey % 2 = 1")))
    print("release gates: pii", gates.passed, "| drift", drift.passed)

    # round 5: drift companions, curation stages, robustness gates
    from term_spark.operators import drift as drift_ops
    from term_spark.operators.curation import token_budget_sample
    from term_spark.operators.statistics import robust_outlier_summary
    from term_spark.operators.text import line_dedup_summary

    ref = li.filter("l_orderkey % 2 = 0")
    cur = li.filter("l_orderkey % 2 = 1")
    ks = drift_ops.ks_statistic(ref, cur, "l_quantity").collect()[0]
    js = drift_ops.js_divergence(ref, cur, "l_quantity",
                                 lo=1.0, hi=50.0).collect()[0]
    chi = drift_ops.chi_squared_drift(ref, cur, "l_returnflag").collect()[0]
    print(f"drift trio: ks={ks['ks']} js={js['js']} "
          f"cramers_v={chi['cramers_v']}")

    ld = line_dedup_summary(docs).collect()[0]
    print("line dedup:", ld["dup_line_instances"], "boilerplate line "
          "instances /", ld["total_lines"], "lines")

    budget = token_budget_sample(docs, 2000, by="source")
    print("token budget (2k/source):", budget.count(), "of",
          docs.count(), "docs kept")

    mad = robust_outlier_summary(tables["customer"], "c_acctbal").collect()[0]
    print(f"robust outliers: {mad['n_outliers']} of {mad['n']} balances "
          f"outside [{mad['lo']}, {mad['hi']}]")

    robust = (ValidationSuite.builder("robust")
              .with_check(Check("r", Level.ERROR)
                          .has_same_schema_as(ref)
                          .has_row_count_ratio(ref, 0.5, 2.5)
                          .has_no_dominant_value("l_returnflag")
                          .has_low_ks_drift(ref, "l_quantity", max_stat=0.1))
              .run(spark, cur))
    print("snapshot gates:", robust.passed)

    # round 6: W1 drift, readability, row-level quarantine, FD audit,
    # skew pre-flight, snapshot diff, OPH minhash, Gopher rules
    from term_spark import quarantine_rows
    from term_spark.operators import dedup as dedup_ops
    from term_spark.operators.multitable import dataset_diff
    from term_spark.operators.text import (gopher_quality_flags,
                                           readability)
    from term_spark.operators.uniqueness import key_skew_report

    r6 = (ValidationSuite.builder("round6")
          .with_check(Check("g", Level.ERROR)
                      .has_low_wasserstein_drift(ref, "l_quantity",
                                                 lo=1.0, hi=50.0)
                      .has_balanced_keys("l_orderkey", max_key_share=0.01)
                      .has_low_churn(ref, ["l_orderkey", "l_linenumber"],
                                     max_added_ratio=1.0,
                                     max_removed_ratio=1.0)
                      .has_custom_aggregate(
                          "sum(l_extendedprice*(1-l_discount))"
                          "/sum(l_extendedprice)",
                          Assertion.between(0.9, 1.0)))
          .run(spark, cur))
    print("round-6 gates:", r6.passed)

    good, bad = quarantine_rows(
        docs, Check("rows", Level.ERROR)
        .is_complete("text").satisfies("length(text) >= 30", 1.0))
    print("quarantine:", good.count(), "good /", bad.count(), "bad docs")

    ease = readability(docs).agg({"flesch_ease": "avg"}).collect()[0][0]
    gq = gopher_quality_flags(docs, min_words=8)
    print(f"corpus readability avg ease {ease:.1f}; gopher pass rate "
          f"{gq.filter('passes').count()}/{gq.count()}")

    skew = key_skew_report(tables["orders"], "o_custkey").collect()[0]
    print("join-skew pre-flight: hottest custkey owns "
          f"{skew['max_key_share']:.2%} of orders")

    fd = (ValidationSuite.builder("fd")
          .with_check(Check("fd", Level.ERROR)
                      .has_functional_dependency("o_orderkey",
                                                 "o_orderstatus"))
          .run(spark, tables["orders"]))
    print("FD audit (o_orderkey -> o_orderstatus):", fd.passed)

    diff = dataset_diff(ref, cur, ["l_orderkey", "l_linenumber"],
                        compare_cols=["l_quantity"]).collect()[0]
    print("snapshot diff:", diff["n_added"], "added,",
          diff["n_removed"], "removed,", diff["n_changed"], "changed")

    oph = dedup_ops.minhash_oph_candidates(docs).count()
    print("OPH minhash candidates:", oph, "pairs (1 md5/shingle)")

    # round 8: suite-level Gopher gate (fused — no extra scan) and the
    # stdlib multimodal header codec over a mixed-payload media table
    g8 = (ValidationSuite.builder("gopher")
          .with_check(Check("gopher", Level.ERROR)
                      .passes_gopher_rules("text", min_pass_ratio=0.3,
                                           min_words=8))
          .run(spark, docs))
    print("gopher release gate:", g8.passed)

    import struct as _st
    import zlib as _zl
    from term_spark.operators.multimodal import MEDIA_SCHEMA, probe_media
    ihdr = _st.pack(">II", 640, 480) + bytes([8, 6, 0, 0, 0])
    png = (b"\x89PNG\r\n\x1a\n" + _st.pack(">I", 13) + b"IHDR" + ihdr
           + _st.pack(">I", _zl.crc32(b"IHDR" + ihdr)))
    media = spark.createDataFrame(
        [(1, "image", bytearray(png), "image/png", None, None, None),
         (2, "image", bytearray(b"junk"), "image/png", None, None, None)],
        MEDIA_SCHEMA)
    for r in probe_media(media).collect():
        print(f"media {r['media_id']}: claimed {r['mime']}, detected "
              f"{r['detected_mime']} {r['detected_width']}x"
              f"{r['detected_height']} [{r['header_ok']}]")

    # round 9: audio headers, the paragraph dedup tier, and PQ-coded ANN
    wav = (b"RIFF" + _st.pack("<I", 36) + b"WAVE"
           + b"fmt " + _st.pack("<I", 16)
           + _st.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
           + b"data" + _st.pack("<I", 64000))
    av = spark.createDataFrame(
        [(3, "audio", bytearray(wav), "audio/wav", None, None, None)],
        MEDIA_SCHEMA)
    r = probe_media(av).collect()[0]
    print(f"media 3: {r['detected_mime']} {r['sample_rate']} Hz, "
          f"{r['detected_duration_ms']} ms [{r['header_ok']}]")

    from term_spark.operators.text import paragraph_dedup_summary
    pdocs = spark.createDataFrame(
        [(1, "intro\n\nshared footer"), (2, "body\n\nshared footer")],
        "doc_id long, text string")
    ps = paragraph_dedup_summary(pdocs).collect()[0]
    print(f"paragraph dedup: {ps['dup_para_instances']} boilerplate "
          f"instances / {ps['total_paras']} paragraphs")

    from term_spark.operators.similarity import (ann_recall, cosine_topk,
                                                 pq_encode, pq_topk,
                                                 pq_train)
    # PQ serves cluster-granular neighbor structure (real embedding
    # corpora); a clustered demo corpus shows the regime
    import random as _rnd
    _r = _rnd.Random(9)
    cents = [[_r.gauss(0, 4) for _ in range(64)] for _ in range(30)]
    cvecs = [(i, [v + _r.gauss(0, 0.05) for v in cents[i % 30]])
             for i in range(180)]
    clustered = spark.createDataFrame(
        cvecs, "vec_id long, embedding array<double>")
    pq_model = pq_train(clustered, m=8, k=32, sample_size=180, iters=5)
    q = (clustered.filter("vec_id < 3")
                  .select(F.col("vec_id").alias("query_id"),
                          F.col("embedding").alias("query_vec")))
    corpus = clustered.filter("vec_id >= 3")
    rec = (ann_recall(pq_topk(pq_encode(corpus, pq_model), q, pq_model, k=5),
                      cosine_topk(corpus, q, k=5))
           .agg(F.avg("recall")).collect()[0][0])
    print(f"PQ ANN: 8 codes/vector (vs 64 doubles), recall@5 {rec:.2f} "
          "vs exact on a clustered corpus")

    # round 10: the ExactSubstr dedup tier and BM25 retrieval
    from term_spark.operators.text import (bm25_topk,
                                           remove_duplicated_spans,
                                           substring_dedup_summary)
    sdocs = spark.createDataFrame(
        [(1, "intro text the quick brown fox jumps over the lazy dog end"),
         (2, "the quick brown fox jumps over the lazy dog other tail"),
         (3, "completely original body with no repeated run at all")],
        "doc_id long, text string")
    ss = substring_dedup_summary(sdocs, k=5).collect()[0]
    cleaned, _ = remove_duplicated_spans(sdocs, k=5)
    print(f"ExactSubstr: {ss['dup_tokens']} tokens in duplicated "
          f">=5-token spans across {ss['docs_with_dups']} docs; "
          f"doc 2 rewrites to: "
          f"{cleaned.filter('doc_id = 2').collect()[0]['text']!r}")

    bq = spark.createDataFrame([(0, "lazy dog")],
                               "query_id long, query string")
    hits = bm25_topk(sdocs, bq, k=2).collect()
    print("BM25 'lazy dog' top docs: "
          + ", ".join(f"{r['doc_id']} ({r['score']:.3f})" for r in hits))

    # round 10: bounded-cost sketch tiers — MG heavy hitters (map-only
    # frequency summary), join-explosion pre-flight, and a persisted
    # MinHash index for incremental ingestion
    from term_spark.analyzers.heavy_hitters import mg_sketch
    from term_spark.operators.dedup import (build_minhash_index,
                                            neardup_against_index)
    from term_spark.operators.multitable import estimate_join_cardinality

    toks = sdocs.select(F.explode(F.split(F.lower("text"), " "))
                        .alias("tok"))
    hh = mg_sketch(toks, "tok", k=16)
    print("MG heavy hitters (map-only, <=17 rows/partition shuffled): "
          + ", ".join(f"{t}>={c}" for t, c in hh.top(3))
          + f" of n={hh.n} (undercount <= {hh.error_bound})")

    jc = estimate_join_cardinality(sdocs, sdocs, "doc_id", "doc_id", k=16)
    print(f"join pre-flight: |self-join on doc_id| provably >= "
          f"{jc['lower_bound']} rows (estimate {jc['estimate']:.0f}) "
          "from 4 sketch jobs, no join executed")

    with scratch_dir() as idx:
        build_minhash_index(sdocs, idx)
        batch = spark.createDataFrame(
            [(10, "the quick brown fox jumps over the lazy dog other tail")],
            "doc_id long, text string")
        cand = neardup_against_index(spark, idx, batch).collect()
        print("incremental dedup vs persisted index: batch doc 10 matches "
              + ", ".join(f"corpus {r['index_id']} "
                          f"(est J={r['est_jaccard']:.2f})" for r in cand))

    # round 11: the incremental tier completed — a persisted gram index
    # rewrites new batches against history (ExactSubstr), grouped MG
    # answers per-source dominance in one map-only pass, and CDC gains
    # its rewrite
    from term_spark.analyzers.heavy_hitters import mg_sketch_by
    from term_spark.operators.dedup import remove_duplicate_chunks
    from term_spark.operators.text import (
        build_substring_index, remove_duplicated_spans_against_index)

    with scratch_dir() as ssidx:
        build_substring_index(sdocs, ssidx, k=5)
        batch = spark.createDataFrame(
            [(20, "fresh crawl where the quick brown fox jumps over the "
                  "lazy dog again plus genuinely new material")],
            "doc_id long, text string")
        cleaned2, spans2 = remove_duplicated_spans_against_index(
            spark, ssidx, batch)
        print("incremental ExactSubstr vs persisted gram index: batch "
              f"doc 20 had {spans2.count()} duplicated span(s) vs history "
              f"and rewrites to: "
              f"{cleaned2.collect()[0]['text']!r}")

    gdocs = sdocs.withColumn(
        "source", F.when(F.col("doc_id") < 3, "crawlA").otherwise("crawlB"))
    gtoks = gdocs.select("source",
                         F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    per_src = mg_sketch_by(gtoks, "source", "tok", k=24)
    print("grouped MG (one map-only pass, <=25 rows per partition x group): "
          + "; ".join(f"{g}: {s.top(1)[0][0]} x{s.top(1)[0][1]} of n={s.n}"
                      for g, s in sorted(per_src.items())))

    cdc_cleaned, cdc_dropped = remove_duplicate_chunks(sdocs, divisor=16)
    print(f"CDC rewrite: dropped {cdc_dropped.count()} duplicate chunk "
          f"instance(s); {cdc_cleaned.count()} of {sdocs.count()} docs "
          "survive with first-occurrence chunks reassembled in order")

    # round 11: PII release gates (batch + streaming forms share the
    # same codegen exprs) and the persisted HLL distinct-count index —
    # corpus-wide COUNT(DISTINCT) dashboards from kilobytes of sketches
    from term_spark.analyzers.distinct_index import (
        build_distinct_index, distinct_estimates_from_index)
    from term_spark.operators.pii import corpus_pii_summary, redact_pii

    pdocs = spark.createDataFrame(
        [(1, "contact bob@example.com or card 4111 1111 1111 1111"),
         (2, "order id 1234567890123456 is NOT a card (Luhn fails)"),
         (3, "clean document")],
        "doc_id long, text string")
    prow = corpus_pii_summary(pdocs).collect()[0]
    red = redact_pii(pdocs).filter("doc_id = 1").collect()[0]["text"]
    print(f"PII gate: {prow['docs_with_pii']}/{prow['n_docs']} docs "
          f"carry confirmed PII (Luhn rejects the order id); doc 1 "
          f"redacts to: {red!r}")

    with scratch_dir() as hidx:
        build_distinct_index(gdocs.filter("doc_id < 3"),
                             ["doc_id", "source"], hidx)
        build_distinct_index(gdocs.filter("doc_id >= 3"),
                             ["doc_id", "source"], hidx, mode="append")
        ests = {r["col_name"]: r
                for r in distinct_estimates_from_index(spark, hidx).collect()}
        print("persisted HLL index (2 shards, probe reads only sketch "
              "blobs): "
              + ", ".join(f"{c}~{int(ests[c]['n_distinct_est'])} distinct"
                          for c in sorted(ests)))

    # --- round 12: hybrid retrieval + the quantile tier -----------------
    from term_spark.analyzers.quantile_index import (build_quantile_index,
                                                     quantiles_from_index)
    from term_spark.operators.retrieval import hybrid_topk

    rdocs = spark.createDataFrame(
        [(0, "spark hash join strategies"), (1, "hash join deep dive"),
         (2, "gardening for beginners"), (3, "join algorithms survey")],
        "doc_id long, text string")
    remb = spark.createDataFrame(
        [(0, [1.0, 0.1]), (1, [0.9, 0.2]), (2, [0.0, 1.0]),
         (3, [0.8, 0.3])], "vec_id long, embedding array<double>")
    rq = spark.createDataFrame([(0, "hash join", [1.0, 0.0])],
                               "query_id long, query string, "
                               "query_vec array<double>")
    top = hybrid_topk(rdocs, remb, rq, k=2, depth=3).collect()
    print("hybrid RRF top-2 for 'hash join': "
          + ", ".join(f"doc {r['doc_id']} ({r['n_systems']} systems)"
                      for r in sorted(top, key=lambda r: r['rank'])))

    with scratch_dir() as qidx:
        build_quantile_index(gdocs.filter("doc_id < 3"), ["doc_id"], qidx)
        build_quantile_index(gdocs.filter("doc_id >= 3"), ["doc_id"], qidx,
                             mode="append")
        med = quantiles_from_index(spark, qidx, [0.5]).collect()[0]
        print(f"persisted quantile index (2 shards, probe merges KB grid "
              f"rows): median doc_id ~ {med['q_est']:.1f}")

    # --- round 13: the Benford audit pair -------------------------------
    from term_spark.operators.drift import benford_deviation

    amounts = spark.createDataFrame(
        [(float(x),) for x in
         [1200, 1340, 1810, 1150, 1990, 2400, 2750, 3100, 3900, 4200,
          5100, 6300, 7800, 9100, 1020, 1460, 2210, 1111, 8400, 1600]],
        "amount double")
    gate = ValidationSuite.builder("audit").with_check(
        Check("amounts", Level.WARNING)
        .has_benford_distribution("amount", assertion=Assertion.le(0.4)))
    verdict = gate.run(spark, amounts)
    worst = max(benford_deviation(amounts, "amount").collect(),
                key=lambda r: r["abs_dev"])
    print(f"benford gate passed={verdict.passed}; per-digit dashboard "
          f"names the loudest digit: {worst['digit']} "
          f"(observed {worst['observed']:.2f} vs "
          f"expected {worst['expected']:.2f})")

    # round 14: the COMPOSED curation pipeline — every stage above,
    # wired end-to-end with per-stage accounting (a generator of
    # lazily checkpoint-pinned stages, so this loop runs each stage's
    # work exactly once)
    from term_spark.operators.curation import (curation_pipeline,
                                               weighted_sample_exact)
    evals = docs.filter(F.col("source") == "src0")
    for name, stage_df in curation_pipeline(
            docs, eval_df=evals, budget_tokens=1000,
            train_filter=F.col("source") != "src0"):
        print(f"curation pipeline [{name}]: {stage_df.count()} docs")

    # round 14: exact-size weighted sampling (A-ES) — exactly 3 docs
    # per source, probability proportional to length
    ws = weighted_sample_exact(docs, "n_chars", 3, by="source")
    print("A-ES weighted sample:", ws.count(), "docs (3 per source, "
          "length-weighted, deterministic)")

    # round 14: embedding hygiene gate before anything ANN-shaped
    from term_spark.operators.similarity import embedding_quality_summary
    eq = embedding_quality_summary(emb, "embedding", expect_dim=64).collect()[0]
    print(f"embedding hygiene: {eq['n_clean']}/{eq['n_vecs']} clean, "
          f"norms in [{eq['min_norm']}, {eq['max_norm']}]")


if __name__ == "__main__":
    main()
