"""Text-analysis operators for training-data pipelines: tokenization,
quality scoring, language ID, document fingerprinting.

These extend the reference's capability set toward LLM data curation
(build-brief extension; SURVEY §7.2 step 9). All expressions are
JVM-side built-ins (no Python UDFs) so they pipeline with the rest of
a scan at 100 TB: tokenize/quality/fingerprint are row-local
(narrow), language-ID is a CASE over substring counts.

Determinism: every function here has an exact SQL equivalent (the
oracle strings live in term_spark/queries_llm.py).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence

import pyspark.sql.functions as F

from ..core.constraint import Constraint
from ..index_store import IndexStore
from ..session import local_df

# Marker stopwords per language for the n-gram/marker heuristic
# language-ID. Chosen to be disjoint across languages.
LANG_MARKERS: Dict[str, List[str]] = {
    "en": ["the", "and", "of", "is", "with"],
    "de": ["der", "und", "die", "nicht", "das"],
    "fr": ["le", "les", "des", "est", "une"],
    "es": ["el", "los", "las", "es", "una"],
    "zh": ["的", "是", "了", "在", "我"],
}

STOPWORDS_EN = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]

#: a run of anything that is neither a letter nor a digit (punctuation
#: and whitespace alike) — identical semantics in Java regex (Spark)
#: and RE2 (DuckDB oracles)
NON_ALNUM_RUN = r"[^\p{L}\p{N}]+"


def normalize_text(column) -> "F.Column":
    """Canonical text normalization shared by EVERY identity-ish
    operator (fingerprint, shingling, simhash): lowercase, strip
    punctuation to spaces, collapse whitespace, trim.

    Without the punctuation strip, "Hello, world" and "Hello world"
    produce different fingerprints AND different shingles, so near-dup
    detection and n-gram decontamination miss trivially-reformatted
    contamination. Real decontamination pipelines strip punctuation
    before k-gram matching. The DuckDB oracles mirror this expression
    exactly (queries_llm._NORM_SQL).
    """
    col = F.col(column) if isinstance(column, str) else column
    # single pass: a run of anything non-alphanumeric (punctuation AND
    # whitespace) collapses to one space — equivalent to strip-punct +
    # collapse-whitespace, at half the regex cost (this runs per
    # document in every dedup/decontamination scan)
    return F.trim(F.regexp_replace(F.lower(col), NON_ALNUM_RUN, " "))


def norm_tokens(column) -> "F.Column":
    """Token array over normalized text (single-space split — the
    normalizer already collapsed runs). Empty text → [\"\"]."""
    return F.split(normalize_text(column), " ")


def token_count(column: str) -> "F.Column":
    """Whitespace token count; 0 for empty/blank text. bigint to match
    engines whose len() is int64."""
    col = F.trim(F.col(column))
    return F.when(col == "", 0).otherwise(
        F.size(F.split(col, r"\s+"))).cast("bigint").alias("n_tokens")


def bpe_ish_token_count(column: str) -> "F.Column":
    """Sub-word-ish token count: split on word/number/punct boundaries
    (a cheap BPE proxy: words + digits + punctuation marks each count)."""
    col = F.col(column)
    # count matches of: word chars run | digit run | single non-space punct
    stripped = F.regexp_replace(col, r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]", "\x01")
    return (F.length(F.regexp_replace(stripped, r"[^\x01]", ""))
            .cast("bigint").alias("n_bpe_tokens"))


def punct_ratio(column: str) -> "F.Column":
    col = F.col(column)
    n_punct = F.length(F.regexp_replace(col, r"[^.,;:!?'\"()\[\]{}-]", ""))
    return (n_punct / F.greatest(F.length(col), F.lit(1))).alias("punct_ratio")


def stopword_ratio(column: str, stopwords: Sequence[str] = tuple(STOPWORDS_EN)) -> "F.Column":
    """Fraction of whitespace tokens that are (lowercase) stopwords."""
    toks = F.split(F.lower(F.trim(F.col(column))), r"\s+")
    hits = F.size(F.filter(toks, lambda t: t.isin([s.lower() for s in stopwords])))
    total = F.greatest(F.size(toks), F.lit(1))
    return (hits / total).alias("stopword_ratio")


def quality_score(column: str) -> "F.Column":
    """Composite [0,1] quality heuristic: length band + punctuation
    sanity + stopword presence (mirrors C4/Gopher-style filters in
    spirit; each term is a clamped linear score)."""
    n = F.length(F.col(column))
    ln_score = F.least(n / F.lit(200.0), F.lit(1.0))           # longer is better up to 200 chars
    p = F.length(F.regexp_replace(F.col(column), r"[^.,;:!?]", "")) / \
        F.greatest(n, F.lit(1))
    punct_score = F.lit(1.0) - F.least(p * 10, F.lit(1.0))      # >10% punct → 0
    toks = F.split(F.lower(F.trim(F.col(column))), r"\s+")
    sw = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS_EN)))
    sw_score = F.least(sw / F.lit(3.0), F.lit(1.0))             # ≥3 stopwords → 1
    return ((ln_score + punct_score + sw_score) / 3).alias("quality_score")


def language_id(column: str, markers: Optional[Dict[str, List[str]]] = None) -> "F.Column":
    """Marker-token-count language ID: the language with the most
    marker hits wins; ties broken by language code order; no hits →
    'und'. Marker hits are counted as whole tokens.
    """
    markers = markers or LANG_MARKERS
    toks = F.split(F.lower(F.trim(F.col(column))), r"\s+")

    # NB: the lambda must be unary — F.filter treats a 2-arg lambda as
    # (element, index), so a `ws=words` default would receive the index.
    def _isin(ws):
        return lambda t: t.isin(ws)

    scores = {lang: F.size(F.filter(toks, _isin(words)))
              for lang, words in markers.items()}
    best = None
    best_score = None
    for lang in sorted(markers):  # later langs must beat, not tie
        s = scores[lang]
        if best is None:
            best, best_score = F.lit(lang), s
        else:
            cond = s > best_score
            best = F.when(cond, lang).otherwise(best)
            best_score = F.when(cond, s).otherwise(best_score)
    return F.when(best_score > 0, best).otherwise("und").alias("predicted_lang")


def fingerprint(column: str) -> "F.Column":
    """Deterministic document fingerprint: md5 of punctuation-stripped,
    whitespace-normalized lowercase text (rolling-hash-equivalent
    identity for dedup; see ``normalize_text``)."""
    return F.md5(normalize_text(column)).alias("fingerprint")


def word_shingles_from(toks_col: "F.Column", k: int = 3) -> "F.Column":
    """k-word shingles from an ALREADY-MATERIALIZED token-array column
    of NORMALIZED tokens (``norm_tokens`` output — no token contains
    whitespace; every call site in the engine satisfies this by
    construction).

    Implementation (r15, guide §1.2 per-task work): the tokens are
    rejoined with single spaces (for ``norm_tokens`` input this
    reconstructs the normalized text exactly) and every overlapping
    k-gram is captured by ONE codegen'd regex scan per row —
    ``(?<!\\S)(?=((?:\\S+ ){k-1}\\S+))`` fires at each token start and
    the lookahead group captures the k space-joined tokens without
    consuming input. This replaces an interpreted higher-order
    ``transform`` whose lambda did a ``slice`` (array alloc) plus
    ``concat_ws`` PER SHINGLE: measured value-identical on all shipped
    corpora and 27-58 % faster at sf1 (k=8 feed+md5 0.94 → 0.39 s,
    k=3 16-min-agg signature 2.2 → 1.6 s, noop sink, best-of-3).
    Fewer than k tokens still yields the whole text as the one
    shingle (the regex finds no match, so ``when`` falls through).

    (The pre-r15 lambda form had its own trap, kept for the record:
    the lambda body must reference a plain attribute — referencing the
    `split(...)` expression tree directly re-evaluates the split for
    every array element, O(tokens²) per row, measured 10× slower on
    5k docs. The regex form has no lambda to mis-bind.)
    """
    if k < 1:
        # r15 advice: the regex form degenerates to k=1 for k <= 0
        # (the old slice form raised at runtime); fail loudly instead
        raise ValueError(f"word_shingles_from: k must be >= 1, got {k}")
    norm = F.concat_ws(" ", toks_col)
    pat = r"(?<!\S)(?=(" + (r"\S+ " * (k - 1)) + r"\S+))"
    grams = F.regexp_extract_all(norm, F.lit(pat), 1)
    return (F.when(F.size(grams) > 0, grams)
             .otherwise(F.array(norm)).alias("shingles"))


def word_shingles(column: str, k: int = 3) -> "F.Column":
    """Array of k-word shingles (space-joined) over NORMALIZED tokens
    (lowercase, punctuation stripped — ``normalize_text``).

    Prefer ``word_shingles_from`` over a pre-projected token column in
    hot paths (see its docstring).
    """
    return word_shingles_from(norm_tokens(column), k)


def repetition_metrics(df, text_col: str = "text", id_col: str = "doc_id",
                       ngram: int = 2):
    """Per-document repetition metrics (Gopher-style quality filters —
    Rae et al. 2021 §A1.1 uses repeated-n-gram fractions to drop
    boilerplate and degenerate text):

    - ``n_tokens``: normalized token count;
    - ``dup_token_ratio``: 1 − distinct/total tokens (0 = all unique);
    - ``top_ngram_count`` / ``top_ngram_frac``: occurrences of the most
      frequent word n-gram and its share of all n-gram occurrences.

    Shape: one scan; per-doc scalars (n_tokens, n_distinct) are computed
    map-side from the token array and ride the explode as grouping
    columns (functionally dependent on the id, so the wider key is
    free); two hash aggregations keyed by the doc id. No windows, no
    joins — at 100 TB this is two partial-agg shuffles on the id key.

    spread() first (r15, guide §2.5 input under-partitioning): the
    tokenize + shingle explode is per-row CPU-heavy and a single-split
    corpus otherwise serializes it on one core (measured 2.25 → 0.56 s
    at sf0.1; a map-only HOF run-length rewrite that removed both
    shuffles was measured value-identical but ~1.9× SLOWER — the
    interpreted-lambda tax — and rejected).
    """
    from .dedup import spread
    df = spread(df, id_col)
    toks = df.select(F.col(id_col), norm_tokens(text_col).alias("__t"))
    ex = toks.select(
        F.col(id_col),
        F.size("__t").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("__t")).cast("bigint").alias("__nd"),
        F.explode(word_shingles_from(F.col("__t"), ngram)).alias("__g"))
    per = (ex.groupBy(id_col, "n_tokens", "__nd", "__g")
             .agg(F.count(F.lit(1)).alias("__c")))
    return (per.groupBy(id_col, "n_tokens", "__nd")
               .agg(F.max("__c").alias("top_ngram_count"),
                    F.sum("__c").alias("__ng"))
               .select(F.col(id_col), F.col("n_tokens"),
                       F.round(F.lit(1.0) - F.col("__nd") / F.col("n_tokens"), 6)
                        .alias("dup_token_ratio"),
                       F.col("top_ngram_count"),
                       F.round(F.col("top_ngram_count") / F.col("__ng"), 6)
                        .alias("top_ngram_frac")))


def pack_sequences(df, text_col: str = "text", id_col: str = "doc_id",
                   stratum_col: str = "lang", context_len: int = 2048):
    """Concat-and-chunk sequence packing stats — the standard LLM
    pretraining layout: documents are concatenated in a deterministic
    order (``id_col`` within each stratum) and the token stream is cut
    into fixed ``context_len`` windows.

    Returns one row per stratum: n_docs, total_tokens, n_windows
    (= ceil(total/context)), n_straddling (docs crossing a window
    boundary — candidates for attention-mask resets), and fill
    efficiency (1.0 here by construction except the final partial
    window; with pad-to-boundary packing this drops below 1).

    Scale: the running sum is windowed per stratum — at 100 TB shard
    the stratum further (e.g. (lang, hash(doc_id) % N)) so no single
    partition holds a whole language; semantics per shard are
    unchanged.
    """
    from pyspark.sql import Window

    C = int(context_len)
    per = df.select(F.col(stratum_col).alias("stratum"), F.col(id_col),
                    F.size(norm_tokens(text_col)).cast("bigint").alias("__n"))
    w = Window.partitionBy("stratum").orderBy(id_col)
    cum = per.withColumn("__cum", F.sum("__n").over(w))
    start = F.col("__cum") - F.col("__n")
    straddles = (F.floor(start / C) != F.floor((F.col("__cum") - 1) / C))
    return (cum.groupBy("stratum")
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum("__n").alias("total_tokens"),
                    F.ceil(F.sum("__n") / C).alias("n_windows"),
                    F.sum(F.when(straddles, 1).otherwise(0)).cast("bigint")
                     .alias("n_straddling"))
               .withColumn("fill_efficiency",
                           F.round(F.col("total_tokens") /
                                   (F.col("n_windows") * C), 6)))


def _literal_sep(sep: str) -> str:
    r"""Quote a separator for Java-regex ``F.split`` so it matches
    LITERALLY.  Documents are reassembled with a literal
    ``array_join(sep)``, so a regex-special separator like ``|`` or
    ``.`` would otherwise split on every character and corrupt the
    round-trip (ADVICE r5).  Uses ``\Q...\E`` quoting; an embedded
    ``\E`` is closed-requoted-reopened, the standard Java idiom."""
    return "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def dedup_lines(df, text_col: str = "text", id_col: str = "doc_id",
                min_count: int = 2, sep: str = "\n"):
    """Line-level corpus dedup (the CCNet/RefinedWeb boilerplate pass):
    drop every line whose EXACT text occurs ``min_count``+ times across
    the whole corpus (nav bars, cookie banners, license headers), then
    reassemble each document from its surviving lines in original
    order. Runs before document-level near-dup — boilerplate inflates
    every doc-pair similarity, so removing it first makes MinHash/
    SimHash thresholds meaningful.

    Returns (cleaned_df, lines_df): cleaned_df has (id, text) for
    documents with >= 1 surviving line (a doc that was ALL boilerplate
    disappears — count them via line_dedup_summary's accounting);
    lines_df is the per-line-instance table (id, pos, line, n_corpus)
    for callers that want their own policy.

    Scale shape: one explode, one line-keyed count (partial-aggregated
    map-side, so a billion-fold repeated boilerplate line still ships
    one row per map partition), one shuffle join back (hot boilerplate
    keys -> AQE skew-join handles them), one per-doc regroup. No
    windows, no driver-side state.

    ``min_count`` must be >= 2: the filter keeps lines occurring fewer
    than ``min_count`` times, and no line occurs fewer than once, so 1
    would silently delete the entire corpus (ADVICE r5).
    """
    if min_count < 2:
        raise ValueError(
            f"min_count must be >= 2 (got {min_count}): every line occurs "
            "at least once, so min_count=1 would drop the whole corpus")
    lines = df.select(
        F.col(id_col), F.posexplode(
            F.split(F.col(text_col), _literal_sep(sep), -1)).alias("pos", "line"))
    freq = lines.groupBy("line").agg(F.count(F.lit(1)).alias("n_corpus"))
    tagged = lines.join(freq, "line").select(id_col, "pos", "line", "n_corpus")
    kept = tagged.filter(F.col("n_corpus") < min_count)
    cleaned = (kept.groupBy(id_col)
                   .agg(F.array_join(
                       F.transform(
                           F.array_sort(F.collect_list(
                               F.struct("pos", "line"))),
                           lambda s: s["line"]),
                       sep).alias(text_col)))
    return cleaned, tagged


def line_dedup_summary(df, text_col: str = "text", id_col: str = "doc_id",
                       min_count: int = 2, sep: str = "\n"):
    """One-row accounting for dedup_lines at the same ``min_count``:
    n_docs (rows with non-null text), total_lines, distinct_lines,
    dup_line_instances (line instances the dedup would drop), and
    chars_removed (their total length). The release-gate form: run it
    before committing to the rewrite.

    Every count derives from the line-frequency table (total = Σn,
    distinct = rows, dup instances = Σn over hot lines) — NO DISTINCT
    aggregates, so the plan is two plain hash aggs plus a 1-row×1-row
    broadcast join for the doc count, not the Expand a
    multi-countDistinct agg would degenerate into."""
    lines = df.select(F.explode(
        F.split(F.col(text_col), _literal_sep(sep), -1)).alias("line"))
    freq = lines.groupBy("line").agg(F.count(F.lit(1)).alias("n"))
    dup = F.col("n") >= min_count
    stats = freq.agg(
        F.sum("n").alias("total_lines"),
        F.count(F.lit(1)).alias("distinct_lines"),
        F.coalesce(F.sum(F.when(dup, F.col("n"))), F.lit(0))
         .cast("bigint").alias("dup_line_instances"),
        F.coalesce(F.sum(F.when(dup, F.col("n") * F.length("line"))),
                   F.lit(0)).cast("bigint").alias("chars_removed"))
    n_docs = (df.filter(F.col(text_col).isNotNull())
                .agg(F.count(F.lit(1)).alias("n_docs")))
    return n_docs.crossJoin(stats).select(
        "n_docs", "total_lines", "distinct_lines",
        "dup_line_instances", "chars_removed")


def dedup_paragraphs(df, text_col: str = "text", id_col: str = "doc_id",
                     min_count: int = 2, boundary: str = r"\n{2,}"):
    """Paragraph-level exact dedup — the middle tier of the standard
    LLM-pipeline dedup stack (document-level ``dedup_exact`` above,
    line-level ``dedup_lines`` below): drop every paragraph whose exact
    text occurs ``min_count``+ times across the corpus (boilerplate
    intros, footers, templated sections), then reassemble each document
    from its surviving paragraphs in original order, joined by a blank
    line.  ``boundary`` is the split regex (default: 2+ newlines).

    Returns (cleaned_df, paragraphs_df) like dedup_lines: cleaned_df
    is (id, text) for documents with >= 1 surviving paragraph;
    paragraphs_df is (id, pos, para, fp, n_corpus) for caller policy.

    Scale shape: one explode, one count keyed on the md5 FINGERPRINT
    (paragraphs are long — shuffling 16-byte keys instead of full text
    cuts the frequency shuffle by the mean paragraph length), one join
    back on the fingerprint, one per-doc regroup.  Collision risk at
    128 bits is negligible below ~2^64 distinct paragraphs.
    """
    if min_count < 2:
        raise ValueError(
            f"min_count must be >= 2 (got {min_count}): every paragraph "
            "occurs at least once, so min_count=1 would drop the whole "
            "corpus")
    paras = df.select(
        F.col(id_col), F.posexplode(
            F.split(F.col(text_col), boundary, -1)).alias("pos", "para"))
    paras = paras.withColumn("fp", F.md5(F.col("para")))
    freq = paras.groupBy("fp").agg(F.count(F.lit(1)).alias("n_corpus"))
    tagged = paras.join(freq, "fp").select(id_col, "pos", "para", "fp",
                                           "n_corpus")
    kept = tagged.filter(F.col("n_corpus") < min_count)
    cleaned = (kept.groupBy(id_col)
                   .agg(F.array_join(
                       F.transform(
                           F.array_sort(F.collect_list(
                               F.struct("pos", "para"))),
                           lambda s: s["para"]),
                       "\n\n").alias(text_col)))
    return cleaned, tagged


def paragraph_dedup_summary(df, text_col: str = "text",
                            id_col: str = "doc_id", min_count: int = 2,
                            boundary: str = r"\n{2,}"):
    """One-row accounting for dedup_paragraphs at the same
    ``min_count`` — the release-gate form, same pattern as
    line_dedup_summary: n_docs, total_paras, distinct_paras,
    dup_para_instances (instances the rewrite would drop) and
    chars_removed.  All counts derive from the fingerprint-keyed
    frequency table (two plain hash aggs + a 1×1 broadcast join; no
    DISTINCT aggregates, no Expand); the paragraph length rides the
    group as MAX(length) — every member of an md5 group is the same
    text, so MAX is exact, and the full text never re-shuffles."""
    paras = df.select(F.explode(
        F.split(F.col(text_col), boundary, -1)).alias("para"))
    freq = (paras.groupBy(F.md5(F.col("para")).alias("fp"))
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.max(F.length("para")).alias("plen")))
    dup = F.col("n") >= min_count
    stats = freq.agg(
        F.sum("n").alias("total_paras"),
        F.count(F.lit(1)).alias("distinct_paras"),
        F.coalesce(F.sum(F.when(dup, F.col("n"))), F.lit(0))
         .cast("bigint").alias("dup_para_instances"),
        F.coalesce(F.sum(F.when(dup, F.col("n") * F.col("plen"))),
                   F.lit(0)).cast("bigint").alias("chars_removed"))
    n_docs = (df.filter(F.col(text_col).isNotNull())
                .agg(F.count(F.lit(1)).alias("n_docs")))
    return n_docs.crossJoin(stats).select(
        "n_docs", "total_paras", "distinct_paras",
        "dup_para_instances", "chars_removed")


#: rolling-hash bases for the O(tokens) gram path — odd (hence
#: invertible mod 2^64).  Each base rolls over its OWN token-hash
#: stream (xxhash64 of the token vs xxhash64 of the token + a salt
#: byte), so gram identity is a genuine ~128-bit pair: a collision
#: needs two distinct grams to collide under BOTH independent hashes
#: of the raw token text simultaneously.  (Rolling both bases over one
#: shared token hash would bound gram identity by 64-bit token
#: identity — any xxhash64 token collision collides both bases.)
_ROLL_B1 = 0x9E3779B97F4A7C15
_ROLL_B2 = 0xC2B2AE3D27D4EB4F
#: salt appended to tokens for the second hash stream — \x01 cannot
#: appear in norm_tokens output (whitespace-split printable text), so
#: salted streams never alias unsalted ones.
_ROLL_SALT = "\x01"


def _rolling_gram_table(df, text_col: str, id_col: str, k: int):
    """(id, pos, h) gram table via double Rabin–Karp rolling hashes —
    the O(tokens) alternative to ``_dup_gram_positions``' md5-of-
    concat, which hashes O(tokens·k) bytes (at the paper's k=50 that
    is 50× the hash work).  Per-token 64-bit hashes come from JVM
    ``xxhash64``; an Arrow batch then computes every position's
    polynomial hash in O(tokens) numpy:  with prefix sums
    P_j = Σ_{t<j} h_t·B^t (mod 2^64, native uint64 wrap),
    H(i, k) = (P_{i+k} − P_i) · B^{−i} — B is odd so B^{−1} exists
    mod 2^64 and the inverse-power array is one cumprod.  Each base
    rolls over its OWN token-hash stream — xxhash64(token) for B1 and
    xxhash64(token + _ROLL_SALT) for B2 — so gram identity is a
    genuine ~128-bit pair of the raw token text: a false gram equality
    requires a simultaneous collision under both independently-salted
    hashes (expected ~C(n,2)/2^128 — below 10^-12 even at 10^13
    corpus positions), matching the md5 path's posture.  Rolling both
    bases over ONE shared token hash would cap identity at 64 bits
    (any xxhash64 token collision collides both bases at once)."""
    import numpy as np

    id_field = df.schema[id_col]
    th = (df.select(F.col(id_col), norm_tokens(text_col).alias("toks"))
          .select(F.col(id_col),
                  F.transform("toks", lambda t: F.xxhash64(t)).alias("ta"),
                  F.transform("toks", lambda t: F.xxhash64(
                      F.concat(t, F.lit(_ROLL_SALT)))).alias("tb")))
    out_schema = (f"{id_col} {id_field.dataType.simpleString()}, "
                  "pos int, h1 bigint, h2 bigint")
    binv1 = pow(_ROLL_B1, -1, 2 ** 64)
    binv2 = pow(_ROLL_B2, -1, 2 ** 64)

    def roll(batches):
        import pandas as pd

        bases = ((np.uint64(_ROLL_B1), np.uint64(binv1)),
                 (np.uint64(_ROLL_B2), np.uint64(binv2)))

        def poly_batch(h, b, binv, g, t_total):
            """All gram hashes of a CONCATENATED token-hash stream in
            one vectorized pass (r16, guide §4.2): with GLOBAL prefix
            sums P_j = Σ_{t<j} h_t·B^t over the whole batch,
            H(g) = (P_{g+k} − P_g)·B^{−g} = Σ_{t<k} h_{g+t}·B^t — the
            global exponents cancel exactly (mod-2^64 integer ring, no
            rounding), so every value is bit-identical to the per-doc
            form this replaces; ``g`` holds only in-document gram
            starts, so no gram ever crosses a doc boundary."""
            pw = np.concatenate((
                [np.uint64(1)],
                np.cumprod(np.full(t_total - 1, b, dtype=np.uint64),
                           dtype=np.uint64)))
            pref = np.concatenate((
                [np.uint64(0)],
                np.cumsum(h * pw, dtype=np.uint64)))
            ipw = np.concatenate((
                [np.uint64(1)],
                np.cumprod(np.full(t_total - 1, binv, dtype=np.uint64),
                           dtype=np.uint64)))
            return ((pref[g + k] - pref[g]) * ipw[g]).view(np.int64)

        old = np.seterr(over="ignore")  # uint64 wrap IS the modulus
        try:
            for pdf in batches:
                # per-doc lengths (0 for NULL token arrays), gram counts
                lens = np.fromiter(
                    (0 if a is None else len(a) for a in pdf["ta"]),
                    dtype=np.int64, count=len(pdf))
                m = np.maximum(lens - k + 1, 0)   # 0 for short/NULL docs
                total_m = int(m.sum())
                if total_m == 0:
                    continue
                ha = np.concatenate(
                    [np.asarray(a, dtype=np.int64)
                     for a in pdf["ta"] if a is not None and len(a)]
                ).view(np.uint64)
                hb = np.concatenate(
                    [np.asarray(a, dtype=np.int64)
                     for a in pdf["tb"] if a is not None and len(a)]
                ).view(np.uint64)
                t_total = int(lens.sum())
                offsets = np.concatenate(
                    ([0], np.cumsum(lens)))[:-1]          # doc -> global start
                gram0 = np.concatenate(([0], np.cumsum(m)))[:-1]
                pos = (np.arange(total_m, dtype=np.int64)
                       - np.repeat(gram0, m))             # local gram pos
                g = np.repeat(offsets, m) + pos           # global gram start
                yield pd.DataFrame({
                    id_col: np.repeat(pdf[id_col].to_numpy(), m),
                    "pos": pos.astype(np.int32),
                    "h1": poly_batch(ha, *bases[0], g, t_total),
                    "h2": poly_batch(hb, *bases[1], g, t_total)})
        finally:
            np.seterr(**old)

    return (th.mapInPandas(roll, out_schema)
            .select(F.col(id_col), "pos",
                    F.struct("h1", "h2").alias("h")))


def _gram_table(df, text_col: str, id_col: str, k: int,
                hasher: str = "rolling"):
    """(id, pos, h) for every k-token gram start over the NORMALIZED
    token stream — the shared hashing front of the in-memory
    substring-dedup operators AND the persisted gram index (build and
    probe hash through THIS one function, so index params stay
    comparable by construction).

    ``hasher="rolling"``: double Rabin–Karp over independently-salted
    xxhash64 token streams, O(tokens) (``_rolling_gram_table``); h is
    struct<h1,h2>.  ``hasher="md5"``: md5 of the gram text, O(tokens·k)
    bytes, pure JVM; h is a 32-hex string (the engine-portable family
    DuckDB oracles replay)."""
    if k < 2:
        raise ValueError(f"k must be >= 2 (got {k}): 1-grams make every "
                         "repeated word a duplicated span")
    # per-row gram hashing is CPU-heavy: a small parquet scans as ONE
    # task, serializing the map stage on a single core (the spread()
    # convention every shingle operator follows; measured 8.6 s -> par
    # for the md5 path on a 1-partition sf0.1 input)
    from .dedup import spread
    df = spread(df, id_col)
    if hasher == "rolling":
        return _rolling_gram_table(df, text_col, id_col, k)
    if hasher == "md5":
        toks = df.select(F.col(id_col), norm_tokens(text_col).alias("toks"))
        n = F.size(F.col("toks"))
        # k-gram md5 per start position; docs shorter than k tokens have
        # no k-gram (empty array, not the whole-doc fallback shingling
        # uses — a 3-token doc has no duplicated 10-token run by
        # definition).  The lambda reads the projected `toks` attribute,
        # never the split expression (the word_shingles_from O(tokens^2)
        # lesson).
        return (toks.withColumn(
                    "g", F.when(n >= k, F.transform(
                        F.sequence(F.lit(0), n - k),
                        lambda i: F.md5(F.concat_ws(
                            " ", F.slice(F.col("toks"), i + 1, k)))))
                     .otherwise(F.array().cast("array<string>")))
                .select(F.col(id_col), F.posexplode("g").alias("pos", "h")))
    raise ValueError(f"hasher must be 'md5' or 'rolling', got {hasher!r}")


def _dup_gram_positions(df, text_col: str, id_col: str, k: int,
                        min_count: int, hasher: str = "md5"):
    """(id, pos) of every k-gram start whose NORMALIZED k-token gram
    occurs ``min_count``+ times corpus-wide, plus the full gram table
    — the shared front half of the substring-dedup operators.

    ``hasher``: ``"rolling"`` (default) computes the gram table via
    double 64-bit Rabin–Karp in O(tokens) (``_rolling_gram_table``);
    ``"md5"`` hashes each k-token gram directly — O(tokens·k) bytes,
    pure JVM (no Python workers), kept for environments without
    Arrow executors.  Spans are HASH-INVARIANT (hash values differ;
    cover positions, and therefore every public output, do not — the
    DuckDB oracles replay spans via md5 grams and match the rolling
    default exactly), so the default choice is pure performance:
    measured at sf1 (50k docs, best-of-3 fresh-GC), rolling wins
    3.4× at k=10 (12.3 → 3.6 s) and 2.2× at k=50 (5.3 → 2.5 s) with
    identical span counts."""
    if min_count < 2:
        raise ValueError(
            f"min_count must be >= 2 (got {min_count}): every gram occurs "
            "at least once, so min_count=1 would mark the whole corpus")
    # NOT checkpointed (r15, measured): the gram table appears in two
    # subtrees (frequency build + semi-join probe), but materializing
    # its ~28 B/token rows costs MORE than recomputing them — an eager
    # localCheckpoint here read 46 s vs 20 s at sf10 for
    # substring_dedup_docs (serialize + store + re-read ~GBs loses to
    # a second CPU-parallel tokenize+hash pass over the small
    # compressed corpus), so the recompute stays.
    grams = _gram_table(df, text_col, id_col, k, hasher)
    freq = grams.groupBy("h").agg(F.count(F.lit(1)).alias("n_corpus"))
    dup_pos = (grams.join(freq.filter(F.col("n_corpus") >= min_count)
                              .select("h"), "h", "left_semi")
                    .select(id_col, "pos"))
    return dup_pos, grams


def duplicated_spans(df, text_col: str = "text", id_col: str = "doc_id",
                     k: int = 10, min_count: int = 2,
                     hasher: str = "rolling"):
    """Exact-substring duplicate spans — the finest tier of the dedup
    stack (document ``dedup_exact`` > paragraph > line > THIS), after
    Lee et al. 2021 ("Deduplicating Training Data Makes Language
    Models Better", ExactSubstr): find every maximal token span that is
    part of a verbatim repeat of at least ``k`` normalized tokens
    occurring ``min_count``+ times corpus-wide (within- or cross-
    document).  Returns one row per maximal span:
    (id, span_start, span_end, span_tokens) with token-index bounds
    [span_start, span_end) over the NORMALIZED token array.

    Equivalence to the paper's suffix-array method: a token position
    lies inside a maximal repeated substring of length >= k iff some
    duplicated k-gram covers it, so marking k-gram cover and merging
    overlapping/adjacent intervals yields EXACTLY the positions the
    suffix array marks at threshold k — but as data-parallel Spark
    primitives instead of a single-node suffix array over the corpus:
    one posexplode (|tokens| rows of a 16-byte md5 + int, never the
    gram text), one map-side-combined frequency agg, one semi-join
    back (hot boilerplate grams -> AQE skew-join), one per-doc window
    (partition-parallel — partitioned by id).  No pair generation at
    any stage, so unlike MinHash/Jaccard verification there is no
    quadratic regime to cap.

    Repeated grams inside ONE document count toward ``min_count``
    (same as the paper — self-repetition is duplication too); use
    ``repetition_metrics`` for a pure within-doc view.
    """
    dup_pos, _ = _dup_gram_positions(df, text_col, id_col, k, min_count,
                                     hasher=hasher)
    return _merge_spans(dup_pos, id_col, k)


def _merge_spans(dup_pos, id_col: str, k: int):
    """Merge duplicated k-gram start positions (id, pos) into maximal
    spans (id, span_start, span_end, span_tokens) — the interval-merge
    back half shared by ``duplicated_spans`` and the persisted-index
    probe.  Partition-parallel: one per-doc window, no global sort."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    # all intervals are the same length k and sorted by start, so two
    # consecutive covered starts merge iff the gap is <= k (overlap or
    # exact adjacency — the covered-token set is identical either way)
    brk = (F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0))
            .otherwise(F.lit(1)))
    return (dup_pos.withColumn("brk", brk)
            .withColumn("span_id", F.sum("brk").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
            .groupBy(id_col, "span_id")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + k).alias("span_end"))
            .select(id_col, "span_start", "span_end",
                    (F.col("span_end") - F.col("span_start"))
                    .alias("span_tokens")))


def substring_dedup_summary(df, text_col: str = "text",
                            id_col: str = "doc_id", k: int = 10,
                            min_count: int = 2, hasher: str = "rolling"):
    """One-row release-gate accounting for ``duplicated_spans`` /
    ``remove_duplicated_spans`` at the same (k, min_count): n_docs,
    total_grams, distinct_grams, dup_gram_instances (from the
    frequency table — two plain hash aggs, no DISTINCT/Expand), plus
    docs_with_dups, dup_spans and dup_tokens (tokens the rewrite would
    strip) from the merged-span table."""
    dup_pos, grams = _dup_gram_positions(df, text_col, id_col, k, min_count,
                                         hasher=hasher)
    freq = grams.groupBy("h").agg(F.count(F.lit(1)).alias("n"))
    dup = F.col("n") >= min_count
    gstats = freq.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("total_grams"),
        F.count(F.lit(1)).alias("distinct_grams"),
        F.coalesce(F.sum(F.when(dup, F.col("n"))), F.lit(0))
         .cast("bigint").alias("dup_gram_instances"))
    # r15: merge the ALREADY-COMPUTED dup_pos instead of calling
    # duplicated_spans(df, ...) again — the second call re-ran the
    # whole gram pipeline (tokenize + hash + explode + freq + semi-
    # join) from the raw corpus for identical (id, pos) rows; with the
    # checkpoint above this row is now ONE gram pass end to end
    # (was 3).  Same spans by construction.
    spans = _merge_spans(dup_pos, id_col, k)
    sstats = spans.agg(
        F.count_distinct(F.col(id_col)).alias("docs_with_dups"),
        F.count(F.lit(1)).alias("dup_spans"),
        F.coalesce(F.sum("span_tokens"), F.lit(0))
         .cast("bigint").alias("dup_tokens"))
    n_docs = (df.filter(F.col(text_col).isNotNull())
                .agg(F.count(F.lit(1)).alias("n_docs")))
    return n_docs.crossJoin(gstats).crossJoin(sstats).select(
        "n_docs", "total_grams", "distinct_grams", "dup_gram_instances",
        "docs_with_dups", "dup_spans", "dup_tokens")


def remove_duplicated_spans(df, text_col: str = "text",
                            id_col: str = "doc_id", k: int = 10,
                            min_count: int = 2, hasher: str = "rolling"):
    """Rewrite each document with every duplicated span stripped —
    ALL occurrences, including the first, following Lee et al. 2021's
    ExactSubstr simplification (removing every copy of a duplicated
    substring rather than electing a canonical keeper; the paper found
    the difference immaterial and it keeps the operator join-free
    past the span table — a keeper election would add a global
    first-occurrence window per gram).

    Returns (cleaned_df, spans_df): cleaned_df is (id, text) over the
    NORMALIZED token stream (substring identity is defined on
    normalized tokens, so the rewrite is too — same contract as the
    fingerprint/shingle operators; documents whose every token was
    duplicated disappear), spans_df is ``duplicated_spans`` output for
    caller policy/accounting.

    Scale shape: the span table groups to one (id -> array<struct>)
    row per affected doc — bounded by tokens/k entries — and joins
    LEFT onto the corpus, so unaffected documents stream through
    without shuffling text; the per-token cover test is
    O(tokens x spans_in_doc) inside whole-stage codegen, no UDF.
    """
    spans = duplicated_spans(df, text_col, id_col, k=k, min_count=min_count,
                             hasher=hasher)
    return _strip_spans(df, spans, text_col, id_col), spans


def _strip_spans(df, spans, text_col: str, id_col: str):
    """Rewrite each document with the given spans' tokens removed —
    the shared back half of ``remove_duplicated_spans`` and the
    persisted-index rewrite.  Spans group to one bounded row per
    affected doc and join LEFT onto the corpus, so unaffected
    documents stream through without shuffling text; the per-token
    cover test runs inside whole-stage codegen, no UDF.  Documents
    whose every token was covered disappear."""
    per_doc = (spans.groupBy(id_col)
               .agg(F.collect_list(F.struct("span_start", "span_end"))
                     .alias("__spans")))
    toks = df.select(F.col(id_col), norm_tokens(text_col).alias("toks"))
    joined = toks.join(per_doc, id_col, "left")
    kept = F.filter(
        F.transform(F.col("toks"),
                    lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda s: ~F.exists(
            F.col("__spans"),
            lambda sp: (s["i"] >= sp["span_start"])
            & (s["i"] < sp["span_end"])))
    return (joined.withColumn(
                text_col,
                F.when(F.col("__spans").isNull(),
                       F.array_join(F.col("toks"), " "))
                 .otherwise(F.array_join(
                     F.transform(kept, lambda s: s["t"]), " ")))
            .filter(F.col(text_col) != "")
            .select(id_col, text_col))


# ---------------------------------------------------------------------------
# Persisted ExactSubstr gram-frequency index — incremental-ingestion
# substring dedup (round 11; the text-span analogue of the persisted
# MinHash-LSH index in operators/dedup.py)
# ---------------------------------------------------------------------------

def build_substring_index(df, index_path: str, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 10,
                          hasher: str = "rolling",
                          mode: str = "overwrite") -> None:
    """Persist the corpus's k-gram frequency table so future batches
    run ExactSubstr dedup against history WITHOUT re-hashing it — the
    incremental-ingestion tier for substring dedup (each crawl/dump
    hashes only itself; the 100 TB history is one (hash, count) row
    per distinct gram on disk, touched only by a semi-join against the
    batch's gram set).

    The gram params (k, hasher) are pinned at build time; a probe
    under different params is a different gram family and would
    silently miss.  The ``grams`` table holds (h, n) per-shard PARTIAL
    counts (h is the rolling struct<h1,h2> pair or the md5 hex string
    per ``hasher``); ``min_count`` stays a PROBE parameter.

    Append-shard soundness (the ``build_minhash_index`` argument, one
    step simpler): gram counts ADD across shards — each ``mode=
    'append'`` call writes only the new shard's partials and the probe
    sums per hash — and the ``n >= min_count`` test is monotone in the
    summed count, so shard-wise appends are equivalent to a batch
    build over the union (test_substring_index proves it probe-output
    -for-probe-output).  Unlike the MinHash index, whose shards hold
    one row per document, nothing per-document is stored here.
    ``compact_substring_index`` folds shard partials into one row per
    hash when the shard count grows.
    """
    per_shard = (_gram_table(df, text_col, id_col, k, hasher)
                 .groupBy("h").agg(F.count(F.lit(1)).alias("n")))
    IndexStore(df.sparkSession, index_path).write(
        {"grams": per_shard}, {"k": k, "hasher": hasher}, mode)


def compact_substring_index(spark, index_path: str) -> None:
    """Fold per-shard partial counts into one (h, n) row per distinct
    gram — run occasionally after many appends; probes are correct
    either way (they sum), compaction just bounds the index size at
    |distinct grams| rows."""
    store = IndexStore(spark, index_path)
    store.compact({"grams": store.read("grams").groupBy("h")
                   .agg(F.sum("n").alias("n"))})


def duplicated_spans_against_index(spark, index_path: str, new_df,
                                   text_col: str = "text",
                                   id_col: str = "doc_id",
                                   min_count: int = 2,
                                   include_batch: bool = True):
    """Maximal duplicated spans in a NEW batch against a persisted
    gram index — ``duplicated_spans`` semantics where the corpus is
    (history ∪ batch) but only the batch is hashed and only its spans
    are reported (history documents are already ingested; rewriting
    them is a separate compaction decision).  With ``include_batch=
    True`` (default) a gram's count is stored + in-batch occurrences,
    so the output EQUALS ``duplicated_spans(history ∪ batch)``
    restricted to batch docs — the batch-build equivalence the tests
    pin.  ``include_batch=False`` scores each position as stored
    occurrences + 1 (itself), ignoring batch-internal repetition —
    the "dedup against history only" mode for batches that were
    already self-deduped.

    Scale shape: the batch is hashed once (O(batch tokens)); the
    corpus-sized grams table is touched by ONE semi-join against the
    batch's distinct gram hashes (broadcast when the batch is small —
    the common ingestion case) and aggregated only over the matched
    rows, bounded by |batch distinct grams| x shards; the span merge
    is the shared per-doc window.  History text is never read, never
    re-hashed, never shuffled.
    """
    store = IndexStore(spark, index_path)
    k, hasher = store.params["k"], store.params["hasher"]
    if min_count < 2:
        raise ValueError(
            f"min_count must be >= 2 (got {min_count}): every position "
            "counts itself at least once")

    grams = _gram_table(new_df, text_col, id_col, k, hasher) \
        .localCheckpoint()  # used twice: freq + position semi-join
    batch_freq = grams.groupBy("h").agg(F.count(F.lit(1)).alias("n_batch"))
    stored = (store.read("grams")
              .join(batch_freq.select("h"), "h", "left_semi")
              .groupBy("h").agg(F.sum("n").alias("n_stored")))
    self_n = F.col("n_batch") if include_batch else F.lit(1)
    dup_h = (batch_freq.join(stored, "h", "left")
             .filter(F.coalesce(F.col("n_stored"), F.lit(0)) + self_n
                     >= min_count)
             .select("h"))
    dup_pos = (grams.join(dup_h, "h", "left_semi")
               .select(id_col, "pos"))
    return _merge_spans(dup_pos, id_col, k)


def remove_duplicated_spans_against_index(spark, index_path: str, new_df,
                                          text_col: str = "text",
                                          id_col: str = "doc_id",
                                          min_count: int = 2,
                                          include_batch: bool = True):
    """The REWRITE form of the index probe: strip every duplicated
    span from the NEW batch before it lands — the complete
    incremental-ingestion ExactSubstr workflow (probe → rewrite in one
    call, the ``remove_duplicated_spans`` contract against a persisted
    corpus).  Returns ``(cleaned_df, spans_df)`` exactly like the
    in-memory rewrite: cleaned text is over the normalized token
    stream, documents whose every token sat in a duplicated span
    disappear, and by the probe's batch-build equivalence the output
    EQUALS ``remove_duplicated_spans(history ∪ batch)`` restricted to
    batch docs (pinned in test_substring_index.py).  Only the batch is
    hashed and only the batch's text is rewritten — history documents
    are already ingested; cleaning them retroactively is a compaction
    decision this operator deliberately does not make.
    """
    spans = duplicated_spans_against_index(
        spark, index_path, new_df, text_col, id_col,
        min_count=min_count, include_batch=include_batch)
    return _strip_spans(new_df, spans, text_col, id_col), spans


class SubstringDuplicationConstraint(Constraint):
    """Exact-substring duplication release gate (round 10): the share
    of corpus TOKENS that sit inside a duplicated >=``k``-token span
    (``duplicated_spans`` semantics — the Lee et al. 2021 ExactSubstr
    tier) must satisfy the assertion (default <= ``max_ratio``).  The
    finest-grained member of the duplication-gate family: catches the
    boilerplate and template repetition that the document- and
    paragraph-level fingerprint gates (``has_low_duplication``) are
    blind to.

    GroupBy-shaped like DuplicationConstraint — runs as its own job:
    the span pipeline's gram/frequency shuffles plus one 1-row token
    total; a 2-number summary reaches the driver.  Needs a stable
    per-document id column (span merging is per-document).
    """

    name = "low_substring_duplication"

    def __init__(self, column: str = "text", id_column: str = "doc_id",
                 k: int = 10, min_count: int = 2, max_ratio: float = 0.0,
                 assertion=None):
        from ..core.assertion import Assertion
        from ..functions.security import validate_identifier

        self.column = validate_identifier(column)
        self.id_column = validate_identifier(id_column)
        self.k = int(k)
        self.min_count = int(min_count)
        self.max_ratio = float(max_ratio)
        self.assertion = (Assertion.coerce(assertion) if assertion is not None
                          else Assertion.le(self.max_ratio))

    def evaluate(self, ctx):
        from ..core.result import ConstraintResult

        df = ctx.df(self.table).filter(F.col(self.column).isNotNull())
        total = df.agg(F.coalesce(
            F.sum(F.size(norm_tokens(self.column))),
            F.lit(0)).alias("t")).collect()[0]["t"]
        if not total:
            return self._finish(ConstraintResult.skipped())
        spans = duplicated_spans(df, self.column, self.id_column,
                                 k=self.k, min_count=self.min_count)
        dup = spans.agg(F.coalesce(F.sum("span_tokens"), F.lit(0))
                        .alias("d")).collect()[0]["d"]
        ratio = float(dup) / float(total)
        if self.assertion.evaluate(ratio):
            return self._finish(ConstraintResult.success(ratio))
        return self._finish(ConstraintResult.failure(
            ratio,
            f"substring-duplication ratio {ratio:.4f} does not satisfy "
            f"{self.assertion.describe()} for column {self.column} "
            f"(share of tokens inside a duplicated >={self.k}-token "
            f"span, min_count={self.min_count})"))


#: characters stripped outright by clean_text: C0 controls except \t\n,
#: DEL, zero-widths and BOM.  Same escapes parse in Java regex (Spark)
#: and RE2 (DuckDB oracles).
_STRIP_CHARS = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{200B}-\x{200D}\x{FEFF}]"
#: unicode horizontal whitespace normalized to a plain space
_UNISPACE = r"[\x{00A0}\x{1680}\x{2000}-\x{200A}\x{202F}\x{205F}\x{3000}]"
#: curly quotes / long dashes and their ASCII replacements (translate
#: is 1:1 per character, UTF-8 aware in both engines)
_PUNCT_FROM = "“”‘’–—"
_PUNCT_TO = "\"\"''--"


def clean_text(column) -> "F.Column":
    """Content-preserving text cleanup (the ftfy-lite pass a corpus
    gets before tokenization; distinct from ``normalize_text``, which
    is the lossy identity-normalizer for dedup keys): strip control
    and zero-width characters, normalize unicode spaces to ASCII,
    straighten curly quotes and long dashes, collapse space/tab runs,
    cap blank-line runs at one blank line, trim.

    Pure codegen column expression (regexp_replace/translate/trim) —
    map-only, no UDF, safe in any hot path. Escape set chosen to parse
    identically in Java regex and RE2 so DuckDB oracles replay it."""
    col = F.col(column) if isinstance(column, str) else column
    c = F.regexp_replace(col, _STRIP_CHARS, "")
    c = F.regexp_replace(c, _UNISPACE, " ")
    c = F.translate(c, _PUNCT_FROM, _PUNCT_TO)
    c = F.regexp_replace(c, r"[ \t]+", " ")
    # a run of 3+ newlines (blank lines possibly holding spaces) -> 2
    c = F.regexp_replace(c, r"\n[ ]*(\n[ ]*)+", "\n\n")
    return F.trim(c)


def text_cleaning_summary(df, text_col: str = "text"):
    """One-row accounting for clean_text over a corpus: n_docs,
    docs_changed (cleanup altered the text), chars_before/chars_after
    (total length delta = bytes the cleanup would strip). Map-only
    scan + 1-row agg; run it to decide whether the rewrite is worth
    scheduling."""
    col = F.col(text_col)
    cleaned = clean_text(col)
    return (df.filter(col.isNotNull())
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.count(F.when(cleaned != col, 1)).alias("docs_changed"),
                   F.sum(F.length(col)).alias("chars_before"),
                   F.sum(F.length(cleaned)).alias("chars_after")))


def quality_model_scores(df, weights, text_col: str = "text",
                         id_col: str = "doc_id", bias: float = 0.0):
    """fasttext-style linear quality classifier with the hashing trick:
    raw_score = bias + mean over normalized tokens of
    weights[h(token) mod D], prob = sigmoid(raw_score). ``weights`` is
    the injectable model (e.g. exported from a trained fastText /
    linear classifier); h = first 15 md5 hex chars → int, the
    engine-portable growth-stable hash every selection operator here
    uses. This is the standard shape for "score every document with a
    small quality model" at corpus scale — the model is data, the scan
    is one explode + one hash aggregation.

    Scale: the D-row weight table is broadcast-joined to the exploded
    tokens (codegen hash join + hash agg — no interpreted higher-order
    lambdas in the hot path, and no D-element literal bloating the
    plan). Docs with NULL text are excluded; an empty text scores the
    weight of the empty token (normalize upstream if that matters).

    Returns (id, n_tokens, raw_score); apply
    ``F.round(1 / (1 + F.exp(-F.col("raw_score"))), 6)`` for the
    probability form (kept out of the parity surface — libm exp may
    differ across engines by an ulp).
    """
    D = len(weights)
    if D < 1:
        raise ValueError("weights must be non-empty")
    spark = df.sparkSession
    wdf = local_df(
        spark, [(i, float(w)) for i, w in enumerate(weights)],
        "idx int, w double")
    toks = norm_tokens(text_col)
    ex = (df.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col), F.explode(toks).alias("tok")))
    idx = (F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10)
           .cast("bigint") % D).cast("int")
    return (ex.select(id_col, idx.alias("idx"))
              .join(F.broadcast(wdf), "idx")
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).alias("n_tokens"),
                   F.round(float(bias) + F.avg("w"), 6).alias("raw_score")))


def unigram_surprisal(df, text_col: str = "text", id_col: str = "doc_id",
                      vocab_df=None):
    """Mean token surprisal −log₂ p(token) per document — the cheap
    language-model quality proxy (CCNet scores documents with a small
    LM and keeps the low-perplexity head; the unigram form needs no
    model at all): gibberish and boilerplate-free natural text
    separate cleanly on bits/token under the corpus's own unigram
    distribution.

    ``vocab_df`` (token, p) injects an external reference distribution
    (e.g. from a clean corpus — then the score is a cross-entropy
    filter); by default the corpus itself provides it (two passes:
    vocab counts, then join + per-doc mean). Out-of-vocab tokens under
    an injected vocab are dropped from the mean (inner join) — floor
    them upstream if OOV mass should count.

    Scale: explode → vocab hash-agg (partial-aggregated; the total is
    ONE driver scalar, not an unpartitioned window) → hash join back
    on token → per-doc agg. All codegen; the vocab join is
    shuffle-based so a billion-token vocabulary distributes like any
    other key.  The VOCAB COUNTS are eagerly localCheckpointed before
    the total is collected (the round-2 ngram-Jaccard lesson): without
    it the corpus would explode THREE times — once collecting the
    vocab total, then again for both the vocab and the token side of
    the returned plan.  Checkpointing the vocab (|V| rows) rather than
    the exploded token table caps the stored state at vocabulary size
    — storing the exploded corpus would exceed the corpus itself at
    100 TB — and pins the plan to exactly TWO explodes (one feeding
    the checkpointed vocab, one on the join's token side), measured
    faster than both the 3-explode original and the
    full-table-checkpoint variant at sf0.1.
    """
    toks = norm_tokens(text_col)
    ex = (df.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col), F.explode(toks).alias("tok")))
    if vocab_df is None:
        vocab = (ex.groupBy("tok").agg(F.count(F.lit(1)).alias("__n"))
                   .localCheckpoint(eager=True))  # |V| rows, reused 2x
        total = vocab.agg(F.sum("__n")).collect()[0][0] or 1
        vocab = vocab.select("tok", (F.col("__n") / float(total)).alias("p"))
    else:
        vocab = vocab_df.select("tok", "p")
    return (ex.join(vocab, "tok")
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).alias("n_tokens"),
                   F.round(F.avg(-F.log2("p")), 6).alias("bits_per_token")))


def _text_shape_cols(col: "F.Column"):
    """(words, sentences, syllables) expressions shared by
    ``readability`` and ``flesch_ease_col`` — ONE set of heuristics so
    the per-doc operator and the ``has_readable_text`` gate can never
    drift apart (review r6): a band tuned on one formula is enforced
    with the same formula."""
    words = F.when(F.trim(col) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(col), r"\s+"))).cast("bigint")
    sents = F.greatest(F.lit(1).cast("bigint"),
                       F.regexp_count(col, F.lit(r"[.!?]+")).cast("bigint"))
    syll = F.greatest(
        words, F.regexp_count(F.lower(col), F.lit("[aeiouy]+")).cast("bigint"))
    return words, sents, syll


def flesch_ease_col(text_col: str) -> "F.Column":
    """Row-level Flesch Reading Ease expression (same heuristics as
    ``readability`` — both derive from ``_text_shape_cols``; NULL for
    NULL/blank text) — exposed separately so gates can ride the
    suite's fused aggregation instead of paying their own scan."""
    col = F.col(text_col)
    words, sents, syll = _text_shape_cols(col)
    return F.when(col.isNotNull() & (words > 0),
                  F.round(F.lit(206.835) - 1.015 * (words / sents)
                          - 84.6 * (syll / words), 6))


def readability(df, text_col: str = "text", id_col: str = "doc_id"):
    """Flesch Reading Ease + Flesch–Kincaid grade per document — the
    classic audience-level screen (keep 30–70 ease for a general
    training mix; flag < 10 as jargon/garbage, > 100 as trivial or
    fragmentary).  Pure codegen, map-only: three regexp_count
    expressions per row, no explode, no shuffle beyond the caller's.

    Heuristics (all engine-portable, ASCII classes only):
    - words      = whitespace tokens (``token_count``);
    - sentences  = runs of ``[.!?]`` floored at 1 (a fragment is one
      sentence);
    - syllables  = runs of ``[aeiouy]`` in the lowercased text,
      floored at the word count (every word has ≥1 syllable in
      aggregate — the per-word max(1, groups) classic without paying
      an explode for it).

    ease  = 206.835 − 1.015·(words/sentences) − 84.6·(syll/words)
    grade = 0.39·(words/sentences) + 11.8·(syll/words) − 15.59

    Empty/blank/NULL text → NULL scores with n_words = 0 (the row is
    kept: "unreadable because empty" is a finding).  Rounded 6.
    """
    col = F.col(text_col)
    words, sents, syll = _text_shape_cols(col)
    out = (df.select(
        F.col(id_col),
        F.coalesce(words, F.lit(0)).alias("n_words"),
        F.when(col.isNotNull(), sents).alias("n_sentences"),
        F.when(col.isNotNull(), syll).alias("n_syllables")))
    wps = F.col("n_words") / F.col("n_sentences")
    spw = F.col("n_syllables") / F.col("n_words")
    nonempty = F.col("n_words") > 0
    return out.select(
        id_col, "n_words", "n_sentences", "n_syllables",
        F.when(nonempty, F.round(F.lit(206.835) - 1.015 * wps
                                 - 84.6 * spw, 6)).alias("flesch_ease"),
        F.when(nonempty, F.round(0.39 * wps + 11.8 * spw
                                 - F.lit(15.59), 6)).alias("fk_grade"))


def bigram_surprisal(df, text_col: str = "text", id_col: str = "doc_id"):
    """Mean conditional surprisal −log₂ P(wᵢ | wᵢ₋₁) per document
    under the corpus's own bigram MLE — one rung up the LM ladder from
    ``unigram_surprisal``: it scores FLUENCY (are these words in a
    plausible ORDER?), where the unigram form only scores vocabulary.
    Scrambled or templated text keeps its unigram score but jumps in
    bits/bigram; the pair is the standard cheap perplexity-filter
    ladder before a real LM.

    P(w₂|w₁) = c(w₁w₂) / c(w₁·), both counted over the corpus's
    bigram table (c(w₁·) = Σ_w₂ c(w₁w₂), so it derives from the
    ALREADY-AGGREGATED bigram counts — no second corpus pass).
    Self-trained, so every observed bigram has mass (no smoothing
    needed); docs with fewer than two tokens have no bigrams and emit
    no row.

    Returns (id, n_bigrams, bits_per_bigram).

    Scale: one explode into (doc, w₁, w₂) → bigram hash-agg
    (partial-aggregated, localCheckpointed at |B| rows — the unigram
    operator's two-explode lesson) → context counts ride that |B|-row
    table → token-keyed joins back. The checkpoint caps stored state
    at bigram-vocabulary size; the corpus explodes exactly twice (once
    feeding the checkpointed counts, once as the join's probe side).
    """
    toks = norm_tokens(text_col)
    # adjacent pairs JVM-side: zip t[0:n-1] with t[1:n]; slice() length
    # must be non-negative, so guard the 1-token case to an empty array
    t = F.col("__t")
    pairs = F.when(
        F.size(t) >= 2,
        F.zip_with(F.slice(t, 1, F.size(t) - 1),
                   F.slice(t, 2, F.size(t) - 1),
                   lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    ex = (df.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col), toks.alias("__t"))
            .select(id_col, F.explode(pairs).alias("bg"))
            .select(id_col, F.col("bg.w1").alias("w1"),
                    F.col("bg.w2").alias("w2")))
    counts = (ex.groupBy("w1", "w2")
                .agg(F.count(F.lit(1)).alias("n_bg"))
                .localCheckpoint(eager=True))  # |B| rows, reused 2x
    ctx = counts.groupBy("w1").agg(F.sum("n_bg").alias("n_ctx"))
    p = (counts.join(ctx, "w1")
               .select("w1", "w2",
                       (F.col("n_bg") / F.col("n_ctx")).alias("p")))
    return (ex.join(p, ["w1", "w2"])
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).alias("n_bigrams"),
                   F.round(F.avg(-F.log2("p")), 6).alias("bits_per_bigram")))


#: Unicode scripts detected by script_profile, with their Java-regex
#: property names. Keys are the stable output names (also the DuckDB
#: oracle's \p{<Name>} RE2 properties — queries_llm mirrors them).
SCRIPTS = {
    "arabic": "IsArabic",
    "cyrillic": "IsCyrillic",
    "devanagari": "IsDevanagari",
    "greek": "IsGreek",
    "han": "IsHan",
    "hangul": "IsHangul",
    "hebrew": "IsHebrew",
    "hiragana": "IsHiragana",
    "katakana": "IsKatakana",
    "latin": "IsLatin",
    "thai": "IsThai",
}


def lexical_diversity(df, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document lexical-diversity metrics (round 8): the classic
    repetitiveness/templated-ness signals quality filters read —
    ``ttr`` (type-token ratio: distinct/total normalized tokens),
    ``rttr`` (root TTR, Guiraud's index: types/√tokens — far less
    length-sensitive than raw TTR), and ``hapax_ratio`` (share of
    tokens occurring exactly once in the doc; spam and keyword-stuffed
    pages sit low, natural prose high).

    Map-only codegen: the normalized token array materializes once per
    row, its SORTED copy once more (both plain attributes — the
    shingling lesson: a lambda body must reference attributes, never
    expression trees, or Spark re-evaluates them per element); types
    come from ``array_distinct`` and the hapax count from a
    neighbor-comparison filter over the sorted array (an element is a
    hapax iff it differs from both sorted neighbors) — O(n log n) per
    row, never the O(n²) of counting each token's occurrences.  No
    explode, no shuffle, no UDF.  NULL/blank text keeps its row with
    0 tokens and NULL ratios (absence is a finding, matching
    readability).
    """
    toks = norm_tokens(F.coalesce(F.col(text_col), F.lit("")))
    base = (df.select(F.col(id_col).alias("id"), toks.alias("__t"))
              .withColumn("__s", F.array_sort("__t")))
    blank = (F.size("__t") == 0) | ((F.size("__t") == 1)
                                    & (F.element_at("__t", 1) == ""))
    n = F.when(blank, F.lit(0)).otherwise(F.size("__t"))
    types = F.when(blank, F.lit(0)).otherwise(
        F.size(F.array_distinct("__t")))
    sz = F.size("__s")
    # element i (0-based) of the sorted array is a hapax iff it differs
    # from both neighbors; element_at is 1-based, so neighbors of the
    # two-arg-lambda index i are element_at(i) and element_at(i+2)
    hapax = F.when(blank, F.lit(0)).otherwise(F.size(F.filter(
        F.col("__s"),
        lambda w, i: ((i == 0) | (F.element_at(F.col("__s"), i) != w))
        & ((i == sz - 1) | (F.element_at(F.col("__s"), i + 2) != w)))))
    return base.select(
        F.col("id").alias(id_col),
        n.cast("bigint").alias("n_tokens"),
        types.cast("bigint").alias("n_types"),
        F.when(n > 0, F.round(types / n, 6)).alias("ttr"),
        F.when(n > 0, F.round(types / F.sqrt(n), 6)).alias("rttr"),
        F.when(n > 0, F.round(hapax / n, 6)).alias("hapax_ratio"))


def script_profile(df, text_col: str = "text", id_col: str = "doc_id",
                   scripts=None):
    """Per-document Unicode script detection — the writing-system
    counterpart to ``lang_id`` (language needs vocabulary; script is a
    pure character-class property, so it is robust on short/noisy text
    and catches mojibake/mixed-script spam that n-gram language ID
    misreads). Counts letters per script, plus:

    * ``n_letters`` — total ``\\p{L}`` characters;
    * ``dominant_script`` — the script with the most letters (ties
      break to the lexicographically LARGER name — both engines'
      struct-max semantics); NULL when the text has no letters;
    * ``dominant_share`` — its fraction of all letters (rounded 6).

    A low dominant_share flags mixed-script content (spam, encoding
    damage, code-mixed text) for the curation gates.

    Scale: map-only — one ``regexp_count`` per script per row inside
    whole-stage codegen; no explode, no shuffle, no UDF. At 11
    scripts that is 11 linear regex passes per document; for a
    reduced bill pass ``scripts`` with just the ones the pipeline
    routes on.
    """
    scripts = dict(scripts) if scripts else SCRIPTS
    counts = [F.regexp_count(F.col(text_col),
                             F.lit(rf"\p{{{prop}}}")).cast("bigint")
               .alias(f"{name}_chars")
              for name, prop in sorted(scripts.items())]
    base = (df.filter(F.col(text_col).isNotNull())
              .select(F.col(id_col),
                      *counts,
                      F.regexp_count(F.col(text_col), F.lit(r"\p{L}"))
                       .cast("bigint").alias("n_letters")))
    best = F.array_max(F.array(*[
        F.struct(F.col(f"{name}_chars").alias("c"), F.lit(name).alias("s"))
        for name in sorted(scripts)]))
    return (base.withColumn(
                "dominant_script",
                F.when(best["c"] > 0, best["s"]))
                .withColumn(
                "dominant_share",
                F.when(F.col("n_letters") > 0,
                       F.round(best["c"] / F.col("n_letters"), 6))))


def tfidf_top_terms(df, text_col: str = "text", id_col: str = "doc_id",
                    k: int = 5, min_df: int = 2,
                    max_df_frac: float = 0.5):
    """Per-document top-``k`` keywords by TF-IDF — the classic topic
    tag / routing signal (smooth idf = ln((N+1)/(df+1)) + 1, rounded 6
    before the tf multiply so ranking is engine-portable). Tokens in
    fewer than ``min_df`` docs (typos, ids) or more than
    ``max_df_frac`` of docs (corpus stopwords) are excluded before
    ranking. Ties break lexicographically.

    Returns (id, term, tf, df, score, rank<=k).

    Scale: explode → (doc, token) hash-agg (tf) → token hash-agg (df;
    counts rows of the tf table, which is already (doc,token)-unique,
    so no DISTINCT/Expand) → broadcast 1-row N → join → per-doc
    window over ≤|doc vocab| rows. The df table is token-keyed so a
    billion-token vocabulary shuffles like any other key; no driver
    collect, no UDF.
    """
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    if not 0 < max_df_frac <= 1:
        raise ValueError(f"max_df_frac must be in (0,1], got {max_df_frac}")
    from pyspark.sql import Window

    from .dedup import spread
    # tokenize+explode is the CPU stage: spread a single-split corpus
    # first (r15, guide §2.5; no-op on well-partitioned input)
    df = spread(df, id_col)
    toks = norm_tokens(text_col)
    ex = (df.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col), F.explode(toks).alias("term")))
    tf = (ex.groupBy(id_col, "term")
            .agg(F.count(F.lit(1)).alias("tf")))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = (df.filter(F.col(text_col).isNotNull())
                .agg(F.count(F.lit(1)).alias("__n")))
    idf = F.round(
        F.log((F.col("__n") + 1.0) / (F.col("df") + 1.0)) + 1.0, 6)
    scored = (tf.join(docfreq, "term")
                .crossJoin(F.broadcast(n_docs))
                .filter((F.col("df") >= int(min_df)) &
                        (F.col("df") <= F.col("__n") * float(max_df_frac)))
                .select(id_col, "term", "tf", "df",
                        F.round(F.col("tf") * idf, 6).alias("score")))
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), "term")
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= int(k)))


def bm25_topk(df, queries, text_col: str = "text", id_col: str = "doc_id",
              query_id_col: str = "query_id", query_col: str = "query",
              k: int = 10, k1: float = 1.2, b: float = 0.75):
    """Okapi BM25 top-``k`` document retrieval per query (Robertson et
    al., TREC-3) — the lexical-retrieval workhorse a training-data
    stack uses for quality probes, retrieval-based decontamination
    checks, and targeted corpus slicing where embedding ANN is
    overkill.

    Per (query, doc): sum over query terms of
    ``qtf · idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`` with the
    Robertson–Spärck Jones idf ``ln(1 + (N−df+0.5)/(df+0.5))``
    (always positive — the Lucene form).  Repeated query terms weight
    linearly via ``qtf`` (the k₃→∞ limit of the full formula).  Both
    text and queries normalize through ``norm_tokens`` — retrieval
    identity matches every other text operator.  idf is rounded to 6
    decimals before the multiply and the final score after the sum,
    so ranking is engine-portable (the ``tfidf_top_terms``
    discipline); ties break on ascending doc id.

    Returns (query_id, doc_id (as ``id_col``), score, rank ≤ k).

    Scale shape: corpus side is the same (doc, term) hash-agg postings
    table TF-IDF builds (one explode + one combine-heavy groupBy —
    term-keyed, shuffles like any key at 100 TB); the QUERY side is
    small by contract and broadcast, so a broadcast semi join prunes
    the postings to matching-term rows and per-term df aggregates over
    those rows only (no full-corpus df pass per query);
    per-(query, doc) scores hash-agg on a bounded key set; the final
    top-k window partitions by query_id over only the matched docs.
    N and avgdl ride a broadcast 1-row aggregate — no driver collect,
    no UDF anywhere.  ``bm25_topk_from_index`` runs the same scorer
    over persisted postings.
    """
    tf, dl = _bm25_tables(df, text_col, id_col)
    return (_bm25_score(tf, dl, queries, query_id_col, query_col, k, k1, b)
            .withColumnRenamed("doc_id", id_col))


def _bm25_tables(df, text_col: str, id_col: str):
    """The corpus side of a BM25 score, as (postings, doclens):
    (doc_id, term, tf) from one explode + one map-side-combined
    (doc, term) groupBy, and (doc_id, dl).  Both rows are doc-local."""
    base = df.filter(F.col(text_col).isNotNull())
    ex = base.select(F.col(id_col).alias("doc_id"),
                     F.explode(norm_tokens(text_col)).alias("term"))
    return (ex.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")),
            base.select(F.col(id_col).alias("doc_id"),
                        F.size(norm_tokens(text_col)).cast("double")
                        .alias("dl")))


def _bm25_score(tf, dl, queries, query_id_col: str, query_col: str,
                k: int, k1: float, b: float):
    """BM25 top-``k`` over postings ``tf`` and doclens ``dl`` — the one
    scorer ``bm25_topk`` and ``bm25_topk_from_index`` share.  The query
    batch broadcasts, the postings prune to the batch's terms via a
    broadcast semi join, per-term df aggregates over exactly those rows
    (they ARE every posting for those terms), and N/avgdl ride a 1-row
    aggregate over doclens."""
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    if k1 < 0 or not 0 <= b <= 1:
        raise ValueError(f"need k1 >= 0 and 0 <= b <= 1, got {k1}, {b}")
    from pyspark.sql import Window

    stats = dl.agg(F.count(F.lit(1)).alias("__n"),
                   F.avg("dl").alias("__avgdl"))
    q_terms = queries.select(F.col(query_id_col).alias("query_id"),
                             F.explode(norm_tokens(query_col)).alias("term"))
    qt = (q_terms.groupBy("query_id", "term")
          .agg(F.count(F.lit(1)).alias("qtf")))
    # the semi join's build side is the raw term list, not qt: map-only,
    # so the pruning costs no shuffle of the query batch
    pruned = tf.join(F.broadcast(q_terms.select("term")), "term",
                     "left_semi")
    docfreq = pruned.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.round(F.log(
        1.0 + (F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5)), 6)
    contrib = (F.col("qtf") * F.col("__idf") *
               F.col("tf") * (k1 + 1.0) /
               (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") /
                                    F.col("__avgdl"))))
    scored = (pruned.join(F.broadcast(qt), "term")
              .join(docfreq, "term")
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(stats))
              .withColumn("__idf", idf)
              .groupBy("query_id", "doc_id")
              .agg(F.round(F.sum(contrib), 6).alias("score")))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("doc_id"))
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("bigint"))
                  .filter(F.col("rank") <= int(k)))


#: markup removal stages for strip_markup — each is a (pattern,
#: replacement) applied in order; all parse identically in Java regex
#: and RE2 ((?is) flags, non-greedy spans).
_MARKUP_STAGES = [
    (r"(?is)<script\b[^>]*>.*?</script>", " "),   # script incl. body
    (r"(?is)<style\b[^>]*>.*?</style>", " "),     # style incl. body
    (r"(?s)<!--.*?-->", " "),                     # comments
    (r"(?s)<[^>]*>", " "),                        # any remaining tag
]
#: minimal entity set decoded after tag removal ("&amp;" LAST so
#: "&amp;lt;" decodes to the literal "&lt;", not to "<")
_ENTITIES = [("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
             ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"),
             ("&amp;", "&")]


def strip_markup(column) -> "F.Column":
    """HTML/markup removal — the WET-extraction tier of text cleaning
    (run BEFORE clean_text; ``clean_text`` normalizes characters,
    this removes structure): drops <script>/<style> elements WITH
    their contents, comments, then every remaining tag; decodes the
    six ubiquitous entities; collapses the whitespace the removals
    leave behind. Pure codegen regexp chain, map-only, idempotent on
    plain text.

    Deliberately regex-tier (like every WET pipeline's fast path):
    handles real-world tag soup but not CDATA edge cases or nested
    template languages — a full parser belongs in a mapInPandas stage
    like the multimodal codecs, injectable where fidelity matters.
    """
    col = F.col(column) if isinstance(column, str) else column
    out = col
    for pat, rep in _MARKUP_STAGES:
        out = F.regexp_replace(out, pat, rep)
    for ent, ch in _ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    out = F.trim(F.regexp_replace(out, r"[ \t]+", " "))
    return F.regexp_replace(out, r" ?\n ?", "\n")


from ..core.constraint import Constraint as _Constraint  # noqa: E402


class ReadabilityConstraint(_Constraint):
    """``has_readable_text``: the share of non-blank documents whose
    Flesch Reading Ease falls inside ``[min_ease, max_ease]`` must be
    at least ``min_ratio`` — the audience-band gate on a corpus.  The
    default band 10..125 is effectively one-sided (the Flesch maximum
    is ~121.2, simple prose routinely scores 100-115): it screens
    impenetrable jargon/garbage while accepting everything readable;
    tighten ``max_ease`` to also screen trivially fragmented text.

    Scalar protocol like PiiConstraint: two aggregate expressions
    (non-blank doc count + in-band count) ride the suite's shared
    fused aggregation — no extra scan.
    """

    name = "readable_text"

    def __init__(self, column: str = "text", min_ease: float = 10.0,
                 max_ease: float = 125.0, min_ratio: float = 0.9):
        from ..core.constraint import metric_alias
        from ..functions.security import validate_identifier
        if max_ease <= min_ease:
            raise ValueError(
                f"max_ease ({max_ease}) must exceed min_ease ({min_ease})")
        if not 0.0 <= min_ratio <= 1.0:
            raise ValueError(f"min_ratio must be in [0,1], got {min_ratio}")
        self.column = validate_identifier(column)
        self.min_ease = float(min_ease)
        self.max_ease = float(max_ease)
        self.min_ratio = float(min_ratio)
        self._docs = metric_alias("readable_docs", column)
        self._ok = metric_alias("readable_ok", column, min_ease, max_ease)

    def scalar_metrics(self, df):
        ease = flesch_ease_col(self.column)
        return {self._docs: F.count(F.when(ease.isNotNull(), 1)),
                self._ok: F.count(F.when(
                    ease.between(self.min_ease, self.max_ease), 1))}

    def result_from_metrics(self, metrics):
        from ..core.result import ConstraintResult
        docs = int(metrics[self._docs])
        if docs == 0:
            return self._finish(ConstraintResult.skipped(
                f"readable_text({self.column}): no non-blank documents"))
        ok = int(metrics[self._ok])
        ratio = ok / docs
        if ratio >= self.min_ratio:
            return self._finish(ConstraintResult.success(ratio))
        return self._finish(ConstraintResult.failure(
            ratio,
            f"readable_text({self.column}): only {ok} of {docs} docs "
            f"({ratio:.4%}) score Flesch ease in "
            f"[{self.min_ease:g}, {self.max_ease:g}]; required ratio "
            f"{self.min_ratio}"))


def chunk_documents(df, max_tokens: int = 512, overlap: int = 0,
                    text_col: str = "text", id_col: str = "doc_id",
                    min_tokens: int = 1):
    """Split documents into fixed-size token-window chunks with
    optional overlap — the context-length stage every training / RAG
    pipeline runs between cleaning and packing: a 100k-token document
    becomes ⌈n/stride⌉ rows of ≤ ``max_tokens`` whitespace tokens,
    consecutive chunks sharing ``overlap`` tokens so no span longer
    than the window is ever split across an attention boundary unseen.

    Returns (id, chunk_id 0-based, chunk_text, n_tokens).  A trailing
    chunk of ≤ ``overlap`` tokens is fully contained in its
    predecessor and is dropped as redundant; chunks shorter than
    ``min_tokens`` are dropped too — chunk 0 is always kept, so short
    docs survive whole.

    Scale: pure JVM codegen — tokens materialize once per row, chunk
    starts come from ``sequence`` with step ``max_tokens − overlap``,
    each chunk is an ``slice`` + ``concat_ws`` over the SAME token
    array attribute (no re-split per chunk), then one explode.
    Map-only: no shuffle, no UDF; the explode multiplies rows by
    ⌈n/stride⌉, which is the output's own size — nothing is amplified
    beyond what is returned.
    """
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be > 0, got {max_tokens}")
    if not 0 <= overlap < max_tokens:
        raise ValueError(
            f"overlap must be in [0, max_tokens), got {overlap}")
    if min_tokens < 1:
        raise ValueError(f"min_tokens must be >= 1, got {min_tokens}")
    stride = max_tokens - overlap
    col = F.trim(F.col(text_col))
    toks = F.split(col, r"\s+")
    base = (df.filter(F.col(text_col).isNotNull() & (col != ""))
              .select(F.col(id_col).alias("id"), toks.alias("__t")))
    n = F.size("__t")
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)),
                        F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            i.alias("chunk_id"),
            F.concat_ws(" ", F.slice(F.col("__t"), s + 1, max_tokens))
             .alias("chunk_text"),
            F.least(n - s, F.lit(max_tokens)).alias("n_tokens")))
    return (base.select("id", F.explode(chunks).alias("c"))
                .select("id", F.col("c.chunk_id").cast("int").alias("chunk_id"),
                        F.col("c.chunk_text").alias("chunk_text"),
                        F.col("c.n_tokens").cast("bigint").alias("n_tokens"))
                .filter((F.col("chunk_id") == 0)
                        | ((F.col("n_tokens") >= int(min_tokens))
                           & (F.col("n_tokens") > int(overlap)))))


def corpus_profile(df, group_col: str = "lang", text_col: str = "text",
                   id_col: str = "doc_id"):
    """Per-group corpus dashboard — the one-call profile a mix
    curator reads before weighting sources: document count, token
    volume, mean quality score, mean Flesch ease per value of
    ``group_col`` (language, source, domain).

    Every per-doc metric here is a map-only codegen expression
    (token_count / quality_score / flesch_ease_col), so the whole
    profile is ONE scan + one grouped aggregation — the grouped-text
    sibling of the analyzer suite's fused agg.  Heavier signals that
    need their own shuffle (novelty, surprisal, dedup rates) stay
    separate operators; joining their outputs to this frame is the
    caller's one-line composition.
    """
    from ..functions.security import validate_identifier
    validate_identifier(group_col)
    # NULL text counts as a 0-token document (review r6: a bare
    # token_count(NULL) is NULL, which avg/sum would silently SKIP —
    # n_docs would then disagree with mean_tokens' denominator and
    # mean_tokens * n_docs != n_tokens)
    toks0 = F.coalesce(token_count(text_col), F.lit(0))
    return (df.groupBy(F.col(group_col).alias("grp"))
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum(toks0).alias("n_tokens"),
                   F.round(F.avg(toks0), 6)
                    .alias("mean_tokens"),
                   F.round(F.avg(quality_score(text_col)), 6)
                    .alias("mean_quality"),
                   F.round(F.avg(flesch_ease_col(text_col)), 6)
                    .alias("mean_ease"))
              .orderBy("grp"))


#: Gopher quality-rule defaults (Rae et al. 2021, table A1 spirit):
#: the canonical pretraining document filters. Thresholds are the
#: published ones where stated; all tunable per call.
GOPHER_DEFAULTS = dict(
    min_words=50, max_words=100_000,
    min_mean_word_len=3.0, max_mean_word_len=10.0,
    max_symbol_word_ratio=0.1,      # '#' or '…' per word
    max_bullet_line_ratio=0.9,      # lines starting with a bullet
    max_ellipsis_line_ratio=0.3,    # lines ending with …/...
    min_alpha_word_ratio=0.8,       # words containing ≥1 letter
)


def _gopher_params(overrides) -> dict:
    p = dict(GOPHER_DEFAULTS)
    unknown = set(overrides) - set(p)
    if unknown:
        raise ValueError(f"unknown gopher rule params: {sorted(unknown)}")
    p.update(overrides)
    return p


def _gopher_metric_exprs(text_col: str) -> dict:
    """The six per-doc Gopher metrics as (name -> rounded codegen
    Column) over the raw text column — shared by the per-doc flags
    projection and the suite gate's fused-agg expressions."""
    col = F.coalesce(F.col(text_col), F.lit(""))
    words = F.when(F.trim(col) == "", F.array().cast("array<string>")) \
             .otherwise(F.split(F.trim(col), r"\s+"))
    nw = F.size(words)
    nw_safe = F.greatest(nw, F.lit(1))
    mean_wl = (F.aggregate(words, F.lit(0), lambda a, w: a + F.length(w))
               / nw_safe)
    n_symbols = (F.length(F.regexp_replace(col, "[^#…]", ""))
                 + F.regexp_count(col, F.lit(r"\.\.\.")))
    lines = F.split(col, "\n", -1)
    nl_safe = F.greatest(F.size(lines), F.lit(1))
    bullet = F.size(F.filter(
        lines, lambda ln: F.trim(ln).rlike(r"^[-*•]")))
    ellip = F.size(F.filter(
        lines, lambda ln: F.rtrim(ln).rlike(r"(\.\.\.|…)$")))
    alpha = F.size(F.filter(words, lambda w: w.rlike(r"\p{L}")))
    return {
        "n_words": nw.cast("bigint"),
        "mean_word_len": F.round(mean_wl, 6),
        "symbol_word_ratio": F.round(n_symbols / nw_safe, 6),
        "bullet_line_ratio": F.round(bullet / nl_safe, 6),
        "ellipsis_line_ratio": F.round(ellip / nl_safe, 6),
        "alpha_word_ratio": F.round(alpha / nw_safe, 6),
    }


def _gopher_rule_conds(m, p) -> dict:
    """rule name -> boolean Column, over a metric mapping ``m`` (either
    the raw expressions or ``F.col`` references to projected ones)."""
    return {
        "r_word_count": (m["n_words"] >= p["min_words"])
                        & (m["n_words"] <= p["max_words"]),
        "r_mean_word_len": m["mean_word_len"]
                            .between(p["min_mean_word_len"],
                                     p["max_mean_word_len"]),
        "r_symbol_ratio": m["symbol_word_ratio"]
                          <= p["max_symbol_word_ratio"],
        "r_bullet_lines": m["bullet_line_ratio"]
                          <= p["max_bullet_line_ratio"],
        "r_ellipsis_lines": m["ellipsis_line_ratio"]
                            <= p["max_ellipsis_line_ratio"],
        "r_alpha_words": m["alpha_word_ratio"]
                         >= p["min_alpha_word_ratio"],
    }


def gopher_passes_col(text_col: str = "text", **overrides) -> "F.Column":
    """The Gopher rule conjunction as ONE boolean codegen Column over
    the raw text — lets the suite gate ride the shared fused
    aggregation as a pair of conditional counts."""
    conds = _gopher_rule_conds(_gopher_metric_exprs(text_col),
                               _gopher_params(overrides))
    passes = None
    for cond in conds.values():
        passes = cond if passes is None else passes & cond
    return passes


def gopher_quality_flags(df, text_col: str = "text",
                         id_col: str = "doc_id", **overrides):
    """Gopher-style document quality rules as one map-only projection:
    per doc, each rule's boolean plus the conjunction ``passes`` — the
    classic pretraining filter bundle (word-count band, mean word
    length band, symbol/word ratio, bullet-line and ellipsis-line
    ratios, alphabetic-word ratio).

    Returns (id, n_words, mean_word_len, symbol_word_ratio,
    bullet_line_ratio, ellipsis_line_ratio, alpha_word_ratio,
    r_* booleans, passes).  Every metric is a codegen regexp/array
    expression over the row — no explode, no shuffle; compose with
    ``annotate_rows``-style routing or a plain filter.

    NULL/blank text fails ``r_word_count`` (0 words) and therefore
    ``passes`` — absence is a reject, matching the reference
    pipelines.  Ratios are rounded 6 for engine parity.
    """
    p = _gopher_params(overrides)
    metrics = _gopher_metric_exprs(text_col)
    out = df.select(F.col(id_col).alias("id"),
                    *[c.alias(name) for name, c in metrics.items()])
    rules = _gopher_rule_conds({name: F.col(name) for name in metrics}, p)
    for name, cond in rules.items():
        out = out.withColumn(name, cond)
    passes = None
    for name in rules:
        passes = F.col(name) if passes is None else passes & F.col(name)
    return out.withColumn("passes", passes)


class GopherQualityConstraint(_Constraint):
    """``passes_gopher_rules``: the share of documents passing the
    Gopher rule conjunction must be at least ``min_pass_ratio``.
    Denominator is ALL rows — NULL/blank text fails the word-count
    rule, matching ``gopher_quality_flags``.  Rides the suite's shared
    fused aggregation as two count expressions — no extra scan.
    """

    name = "gopher_quality"

    def __init__(self, column: str = "text", min_pass_ratio: float = 0.5,
                 **overrides):
        from ..core.constraint import metric_alias
        from ..functions.security import validate_identifier
        if not 0.0 <= min_pass_ratio <= 1.0:
            raise ValueError(
                f"min_pass_ratio must be in [0,1], got {min_pass_ratio}")
        self.column = validate_identifier(column)
        self.min_pass_ratio = float(min_pass_ratio)
        self.overrides = _gopher_params(overrides)  # validate keys now
        self._rows = metric_alias("gopher_rows", column)
        self._ok = metric_alias("gopher_ok", column,
                                *sorted(self.overrides.items()))

    def scalar_metrics(self, df):
        passes = gopher_passes_col(self.column, **self.overrides)
        return {self._rows: F.count(F.lit(1)),
                self._ok: F.count(F.when(passes, 1))}

    def result_from_metrics(self, metrics):
        from ..core.result import ConstraintResult
        rows = int(metrics[self._rows])
        if rows == 0:
            return self._finish(ConstraintResult.skipped(
                f"gopher_quality({self.column}): empty table"))
        ok = int(metrics[self._ok])
        ratio = ok / rows
        if ratio >= self.min_pass_ratio:
            return self._finish(ConstraintResult.success(ratio))
        return self._finish(ConstraintResult.failure(
            ratio,
            f"gopher_quality({self.column}): only {ok} of {rows} docs "
            f"({ratio:.4%}) pass the Gopher rule bundle; required "
            f"ratio {self.min_pass_ratio}"))


# ---------------------------------------------------------------------------
# Persisted BM25 postings index — the retrieval serving tier
# ---------------------------------------------------------------------------

#: tokenizer identity pinned into BM25 index params — bump when
#: norm_tokens changes so stale indexes refuse to serve silently-wrong
#: postings instead of mixing two tokenizations
BM25_TOKENIZER_TAG = "norm_tokens_v1"


def build_bm25_index(df, index_path: str, text_col: str = "text",
                     id_col: str = "doc_id", mode: str = "overwrite") -> None:
    """Persist the corpus's BM25 postings so query batches retrieve
    WITHOUT re-tokenizing the corpus — the FIFTH incremental-ingestion
    tier (near-dup/substring/chunk/distinct-count, now retrieval), and
    the serving half of ``bm25_topk``: build once per ingest, serve
    many query batches.

    The tokenizer tag is pinned (a probe or append under a different
    tokenization is a different term space and would silently miss).
    Tables:
    - ``postings``  (doc_id, term, tf) — the corpus side of the score.
    - ``doclens``   (doc_id, dl) — the length-normalization side.

    Append soundness is STRONGER than the counts-add tiers: postings
    and doclens rows are DOC-LOCAL (each document's rows derive from
    its own text alone, and a document lives in exactly one ingest
    shard), so shard-wise appends equal the batch build by ROW-SET
    EQUALITY — not just in aggregate.  The corpus-global statistics
    (N, avgdl, per-term df) are therefore NOT stored; the probe
    derives them from the unioned tables, so they are correct after
    any number of appends with no read-modify-write step.  Ids must be
    unique across shards (the same ingest contract as every tier).

    Scale shape: one explode + one map-side-combined (doc, term)
    groupBy per shard — the postings pass ``bm25_topk`` runs
    (``_bm25_tables``), now amortized across every future query batch.
    """
    tf, dl = _bm25_tables(df, text_col, id_col)
    IndexStore(df.sparkSession, index_path).write(
        {"postings": tf, "doclens": dl},
        {"tokenizer": BM25_TOKENIZER_TAG}, mode)


def bm25_topk_from_index(spark, index_path: str, queries,
                         query_id_col: str = "query_id",
                         query_col: str = "query",
                         k: int = 10, k1: float = 1.2,
                         b: float = 0.75):
    """Serve BM25 top-k from a persisted postings index: the stored
    postings and doclens go through the scorer ``bm25_topk`` uses, so
    the corpus work is already paid.  The corpus text is never read —
    a query batch against a 100 TB corpus touches the postings of its
    own terms plus a doc-length table.
    """
    store = IndexStore(spark, index_path)
    return _bm25_score(store.read("postings"), store.read("doclens"),
                       queries, query_id_col, query_col, k, k1, b)


def compact_bm25_index(spark, index_path: str,
                       target_partitions: int = 8) -> None:
    """Fold the per-shard postings/doclens files into
    ``target_partitions`` files each (the ``compact_substring_index``
    role for the retrieval tier): rows are doc-local and never
    duplicate across shards, so compaction is a pure REWRITE — no
    aggregation, byte-identical row set, estimates and scores
    unchanged by construction.  After thousands of ingest appends the
    win is file-count, not bytes: a probe's postings scan stops paying
    per-file open/footer costs.
    """
    if target_partitions < 1:
        raise ValueError(
            f"target_partitions must be >= 1, got {target_partitions}")
    store = IndexStore(spark, index_path)
    store.compact({t: store.read(t).coalesce(int(target_partitions))
                   for t in ("postings", "doclens")})
