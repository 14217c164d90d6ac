"""Deduplication operators for training-data pipelines.

Five strategies, each returning DataFrames (never collecting):

- exact_duplicates: hash-groupBy on normalized text (one shuffle on the
  md5 key; at 100 TB this is the canonical 2-stage partial agg).
- ngram_jaccard_pairs: EXACT pairwise n-gram Jaccard via shingle
  inverted-index self-join — explode shingles, join on shingle,
  count co-occurrences, Jaccard = |∩| / (|A|+|B|−|∩|). The join is
  the verification stage of MinHash-LSH pipelines; the shingle join
  key distributes evenly (no giant-key skew for natural text; a
  stopword-shingle cap is provided).
- minhash_lsh_candidates: MinHash signatures from lexicographic min of
  md5(seed‖shingle) (deterministic, engine-portable), banded into
  buckets, candidate pairs = same (band, band-hash) bucket. Scale path:
  k·|shingles| map work, one shuffle on band hash. In memory the
  minhashes and band hashes are 32-char hex (the SQL oracles replay
  them); the persisted index (build_minhash_index) stores each as its
  16-byte md5 digest (``binary``).
- simhash64: 64-bit SimHash from md5-derived token bits, Hamming
  near-dup join on 16-bit blocks (pigeonhole: ≤3 differing bits →
  some block equal).
- embedding near-dup lives in operators/similarity.py (cosine).

Reference relationship: the reference has no dedup operators — this is
the build-brief extension (SURVEY §7.2 step 9); the groupBy/join shapes
reuse the same primitives as its uniqueness/FK constraints.
"""

from __future__ import annotations

from typing import Optional

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..core.constraint import Constraint
from ..index_store import IndexStore
from ..plans.executor import planned_partitions
from ..session import local_df
from .text import fingerprint, word_shingles


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Groups of exact duplicates (normalized): fingerprint, n_docs,
    doc_ids (bounded sample of 100 ids per group)."""
    return (df.select(F.col(id_col), fingerprint(text_col))
              .groupBy("fingerprint")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.slice(F.sort_array(F.collect_list(id_col)), 1, 100).alias("doc_ids"))
              .filter(F.col("n_docs") > 1))


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per distinct normalized text."""
    fp = df.select("*", fingerprint(text_col))
    from pyspark.sql import Window
    w = Window.partitionBy("fingerprint").orderBy(id_col)
    return (fp.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1)
              .drop("__rn", "fingerprint"))


def _doc_shingles(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(id, shingle) distinct pairs.

    Two-stage projection: tokens materialize first so the shingle
    lambda reads an attribute (not a re-evaluated split; see
    word_shingles_from). Tokens are NORMALIZED (lowercase, punctuation
    stripped — text.normalize_text) so reformatting can't defeat
    near-dup detection or decontamination."""
    from .text import norm_tokens, word_shingles_from
    toks = (df.select(F.col(id_col).alias("id"),
                      norm_tokens(text_col).alias("__toks")))
    return (toks.select("id", F.explode(word_shingles_from(F.col("__toks"), k))
                        .alias("shingle"))
                .distinct())



def _check_bands(num_hashes: int, bands: int) -> None:
    # a remainder would leave the trailing minhashes outside every band
    if bands < 1 or num_hashes % bands:
        raise ValueError(f"num_hashes ({num_hashes}) must be a multiple "
                         f"of bands ({bands})")


def _band_hashes(cols, bands: int):
    """band_0..band_{B-1}: md5 of each band's ``|``-joined signature
    slice — the one band-hash definition the in-memory self-join, the
    persisted index build and its probe share (the index stores and
    joins on its 16-byte digest, ``_index_rows``)."""
    r = len(cols) // bands
    return [F.md5(F.concat_ws("|", *[F.col(c) for c in
                                     cols[b * r:(b + 1) * r]]))
            .alias(f"band_{b}") for b in range(bands)]


def _index_rows(sig: DataFrame, cols, bands: int) -> DataFrame:
    """(id, mh_*, band_*) with every minhash and band hash as its
    16-byte md5 digest (``unhex`` of the hex form, injective on
    lowercase hex): the persisted index's layout, and the batch's side
    of both probe joins. The in-memory self-joins keep hex: at sf1 the
    OPH pass read slower on binary band hashes (plans/minhash_binary)."""
    banded = sig.select("id", *cols, *_band_hashes(cols, bands))
    return banded.select("id", *[F.unhex(c).alias(c)
                                 for c in banded.columns[1:]])


def _explode_bands(banded: DataFrame, bands: int, keep=()) -> DataFrame:
    """(id, *keep, band, h) bucket rows, one per band, from a frame
    carrying band_0..band_{B-1}."""
    return banded.select(
        "id", *keep, F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), F.col(f"band_{b}").alias("h"))
            for b in range(bands)])).alias("bh")
    ).select("id", *keep, F.col("bh.band").alias("band"),
             F.col("bh.h").alias("h"))


def _est_plan_bytes(df: DataFrame) -> int:
    """Planner size estimate (bytes) of a DataFrame — for a parquet
    scan (+filters/projections) this is file-size based and available
    without running a job.  Unknown/failed estimates return a huge
    sentinel so callers default to the scale-safe branch."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        return 1 << 62


def _broadcast_threshold_bytes(spark) -> int:
    """The session's ``autoBroadcastJoinThreshold`` in bytes, as Spark
    parsed it (``'64m'`` and the unset default ``'10485760b'`` carry a
    unit suffix); -1 when broadcasting is off."""
    return int(spark._jsparkSession.sessionState().conf()
               .autoBroadcastJoinThreshold())


def _banded_pairs(sig: DataFrame, cols, bands: int,
                  src: Optional[DataFrame] = None) -> DataFrame:
    """Shared banding tail for the MinHash variants: hash each band's
    signature slice, explode to (id, band, hash), self-join within
    buckets, count matched bands per (id_a < id_b) pair.

    Scale-adaptive join strategy (r15, guide §3.1): the self-join's two
    sides are the SAME bucket table, whose upstream (shingle explode +
    16 min-aggs) is the expensive part of the whole operator.  When the
    bucket table broadcasts (small corpora), AQE's BHJ is fastest —
    the duplicated upstream is cheap and the probe side streams.  When
    it cannot broadcast, the planner picks a sort-merge join, and
    hinting ``merge`` explicitly lets BOTH sides share ONE exchange
    (ReuseExchange), so the signature pipeline runs once instead of
    twice — measured at sf10 (500k docs): 76.7 s → 46.6 s.  At sf1
    the two plans tie (plans/session_confs: at Spark's 10 MB threshold
    sf1 takes the merge branch, at 64 MB the BHJ one, and each
    median sits inside the other's quartiles).  The branch condition
    derives from the session's own broadcast threshold against the
    planner's estimate of the SOURCE corpus
    (bucket rows are bands × ~52 B per doc ≈ roughly 2× the
    compressed corpus bytes), so the cutover moves with the conf, and
    an unknown estimate defaults to the merge (scale-safe) branch.
    At 100 TB the broadcast regime never applies and this is always
    the single-pass merge plan."""
    stacked = _explode_bands(sig.select("id", *_band_hashes(cols, bands)),
                             bands)
    a = stacked.alias("a")
    b_ = stacked.alias("b")
    if src is not None and (2 * _est_plan_bytes(src)
                            >= _broadcast_threshold_bytes(sig.sparkSession)):
        b_ = stacked.hint("merge").alias("b")
    return (a.join(b_, (F.col("a.band") == F.col("b.band")) &
                   (F.col("a.h") == F.col("b.h")) &
                   (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_bands_matched")))


def _jaccard_from_intersections(inter: DataFrame, sizes: DataFrame,
                                threshold: float) -> DataFrame:
    """Shared verification tail: join pair intersection counts with
    per-doc set sizes, compute Jaccard, filter at the threshold."""
    sa = sizes.select(F.col("id").alias("id_a"),
                      F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"),
                      F.col("n_shingles").alias("n_b"))
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard",
                        F.round(F.col("n_common") /
                                (F.col("n_a") + F.col("n_b")
                                 - F.col("n_common")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard"))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        threshold: float = 0.5,
                        max_shingle_freq: Optional[int] = None) -> DataFrame:
    """Exact n-gram Jaccard similar pairs (id_a < id_b, jaccard ≥ τ).

    ``max_shingle_freq`` drops shingles appearing in more than N docs
    (stop-shingles) — the standard skew guard for the inverted-index
    join at scale. Leave None for exact semantics.
    """
    sh = _doc_shingles(spread(df, id_col), text_col, id_col, k)
    if max_shingle_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
        sh = (sh.join(freq.filter(F.col("df_") <= max_shingle_freq), "shingle")
                .drop("df_"))
    # Three consumers read the shingle index (both self-join sides +
    # sizes); without materialization Spark recomputes the
    # explode+distinct (+spread shuffle) once per consumer — measured
    # 1.7x the query at sf0.1. localCheckpoint, NOT persist():
    # df.persist registers the plan in Catalyst's CacheManager, which
    # holds it forever — repeated calls leak cached copies and the GC
    # pressure inflated every later query in a long session (measured
    # 7x on unrelated queries). Checkpoint blocks are RDD-level and are
    # freed by the ContextCleaner when the result DataFrame drops out
    # of scope. Eager: materializes here (one job at build time).
    sh = sh.localCheckpoint(eager=True)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle")) &
                    (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("n_common")))
    return _jaccard_from_intersections(inter, sizes, threshold)


def jaccard_prefix_pairs(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", k: int = 3,
                         threshold: float = 0.5,
                         ) -> DataFrame:
    """Exact n-gram Jaccard similar pairs via PREFIX FILTERING — the
    AllPairs/PPJoin family's scale path: identical output to
    ``ngram_jaccard_pairs`` (id_a < id_b, jaccard ≥ τ, same columns),
    but the candidate self-join runs over each document's PREFIX
    (its ``n − ⌈τ·n⌉ + 1`` globally-RAREST shingles) instead of its
    full shingle set.

    Why it is lossless: J(A,B) ≥ τ forces |A∩B| ≥ τ·|A| (and τ·|B|);
    if B avoided all of A's prefix, the intersection would fit inside
    A's remaining ⌈τ·|A|⌉ − 1 shingles — contradiction. So every
    qualifying pair collides on some prefix shingle, and the exact
    verification (restricted to candidates) prunes the rest.

    Why it wins at 100 TB: the index join's cost is Σ_shingle df²,
    dominated by hot shingles. Rare-first prefix ordering puts every
    document's LOW-df shingles in the index and leaves the hot
    boilerplate shingles out of it entirely (they sit in suffixes,
    counted only during verification's candidate-bounded join) — the
    principled version of the ``max_shingle_freq`` stop-shingle
    heuristic, with no semantics change. At τ=0.6 the index carries
    ~40 % of shingle rows; the df² term drops superlinearly.

    Shape: shingle table (checkpointed, reused 4×) → df counts →
    per-doc rank window (partitioned BY doc — parallel) → prefix
    self-join (candidates) → candidate-bounded intersection count →
    size join → τ filter.

    WHEN TO USE (measured, local[32]): the win requires the prefix
    (``(1−τ)·n + 1`` shingles) to FIT inside the doc-specific content
    — at τ=0.8 on a 4k-doc corpus with 30 % shared boilerplate this
    runs 5× faster than the inverted index (10 s vs 51 s, identical
    pairs); at τ=0.6 with 2/3 boilerplate the prefix spills into the
    hot shingles and both collapse to the same quadratic (prefix adds
    overhead).  On skew-free corpora (sf0.1 synthetic: 4.1 s vs
    2.3 s) the extra stages cost more than they save — keep
    ``ngram_jaccard_pairs`` (+ ``max_shingle_freq``) there and reach
    for this one on boilerplate-heavy web corpora with high τ.
    """
    from pyspark.sql import Window
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0,1], got {threshold}")
    sh = _doc_shingles(spread(df, id_col), text_col, id_col, k)
    sh = sh.localCheckpoint(eager=True)  # reused: freq, prefix, verify a/b
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    w = Window.partitionBy("id").orderBy("df_", "shingle")
    n = Window.partitionBy("id")
    prefix = (sh.join(freq, "shingle")
                .withColumn("__r", F.row_number().over(w))
                .withColumn("__n", F.count(F.lit(1)).over(n))
                .filter(F.col("__r") <=
                        # -1e-9: float(tau)*n can land an ulp ABOVE the
                        # true product (0.07*100 = 7.000...001) and
                        # overshoot the ceil, shortening the prefix
                        # below the lossless bound; biasing down is
                        # safe (a longer prefix only adds candidates,
                        # verification stays exact) (review r6)
                        F.col("__n") - F.ceil(F.lit(float(threshold))
                                              * F.col("__n")
                                              - F.lit(1e-9)) + 1)
                .select("id", "shingle"))
    cand = (prefix.alias("a")
            .join(prefix.alias("b"),
                  (F.col("a.shingle") == F.col("b.shingle")) &
                  (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct())
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (cand.join(a, "id_a")
                 .join(b, ["id_b", "shingle"])
                 .groupBy("id_a", "id_b")
                 .agg(F.count(F.lit(1)).alias("n_common")))
    return _jaccard_from_intersections(inter, sizes, threshold)


def ngram_jaccard_for_pairs(df: DataFrame, pairs: DataFrame,
                            text_col: str = "text", id_col: str = "doc_id",
                            k: int = 3, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard restricted to the given (id_a, id_b)
    candidate pairs — the verification stage after LSH.

    Unlike ``ngram_jaccard_pairs`` (all-pairs inverted-index join), the
    shingle join here fans out from the candidate list, so the work is
    O(|candidates| · shingles-per-doc) instead of O(corpus²) — this is
    what makes LSH + verify actually cheaper than exact-all-pairs at
    scale. Returns (id_a, id_b, n_common, n_a, n_b, jaccard ≥ τ).

    r15: only docs that appear as a pair endpoint are shingled — a
    semi-join on the candidate ids prunes the corpus BEFORE the
    CPU-heavy shingle explode and the size aggregation (every output
    row joins inner to a pair id, so non-candidate docs never
    contributed; at corpus scale candidates are a vanishing fraction).
    """
    p = pairs.select("id_a", "id_b")
    cand_ids = (p.select(F.col("id_a").alias(id_col))
                .union(p.select(F.col("id_b").alias(id_col)))
                .distinct())
    df = df.join(cand_ids, id_col, "left_semi")
    sh = _doc_shingles(df, text_col, id_col, k)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (p.join(a, "id_a")
              .join(b, ["id_b", "shingle"])
              .groupBy("id_a", "id_b")
              .agg(F.count(F.lit(1)).alias("n_common")))
    return _jaccard_from_intersections(inter, sizes, threshold)


def minhash_signature_cols(num_hashes: int):
    """MinHash h_i(doc) = min over shingles of md5(i‖':'‖shingle).

    Lexicographic min over uniformly-distributed hex strings is an
    order statistic identical across engines — no platform hash needed.
    The minhashes stay 32-char hex here, so SQL oracles replay them;
    the persisted index stores them as 16 raw bytes (``unhex``), which
    is injective on lowercase hex and keeps every equality.
    """
    def build(shingle_col):
        return [F.min(F.md5(F.concat(F.lit(f"{i}:"), shingle_col))).alias(f"mh_{i}")
                for i in range(num_hashes)]
    return build


def spread(df: DataFrame, key: str) -> DataFrame:
    """Repartition a CPU-heavy input if it arrives under-partitioned.

    A small parquet file scans as ONE task, so per-row-expensive
    operators (16 md5s per shingle, 64-bit simhash folds, wide decimal
    sums) serialize on a single core no matter how many are available.
    On a real cluster a 100 TB table arrives with thousands of splits
    and this is a no-op; locally (and for small dimension-like tables)
    it buys one partition per core for one shuffle of the raw rows.

    The partition count is read without a job (``planned_partitions``):
    an input whose plan has an exchange counts as distributed, since
    only running its shuffle stage would tell how AQE coalesces it.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    n = planned_partitions(df)
    if n is None or n >= target:
        return df
    return df.repartition(target, key)


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 3,
                       num_hashes: int = 16) -> DataFrame:
    """(id, mh_0..mh_{n-1}) MinHash signature table — the shared front
    half of the in-memory LSH pass and the persisted index build.
    Shingle explode -> groupBy(id) with num_hashes codegen'd min-aggs
    (see minhash_lsh_candidates' shape notes for why this beats the
    shuffle-free higher-order-function fold)."""
    from .text import norm_tokens, word_shingles_from
    toks = spread(df, id_col).select(
        F.col(id_col).alias("id"),
        norm_tokens(text_col).alias("__toks"))
    sh = toks.select("id", F.explode(word_shingles_from(F.col("__toks"), k))
                     .alias("shingle"))
    return sh.groupBy("id").agg(
        *minhash_signature_cols(num_hashes)(F.col("shingle")))


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 3,
                           num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash.

    num_hashes/bands rows-per-band r = num_hashes//bands gives the
    S-curve threshold ≈ (1/bands)^(1/r). Defaults (16,4): τ ≈ 0.71.
    Returns (id_a, id_b, n_bands_matched).

    Shape notes (measured at sf0.1):
    - signatures come from explode → groupBy(id) with 16 min-aggs —
      hash-agg in whole-stage codegen. A shuffle-free alternative
      (in-row ``array_min(transform(md5))`` / ``F.aggregate`` fold)
      is value-identical but ~10× more CPU: higher-order-function
      lambda bodies are interpreted, 16 min-aggs are codegen'd.
    - shingles are NOT deduped first: a min is duplicate-insensitive,
      so the distinct shuffle ngram_jaccard needs is skipped here.
    - classic stays the DEFAULT over the OPH variant (measured round
      10, sf1 documents = 50k docs x ~200 tokens, best-of-3 fresh-GC):
      4.54 s classic vs 4.36 s OPH end-to-end at the default
      (16, 4) — the bucket self-join + banding agg dominates at this
      width, so OPH's 16x-fewer md5s buys only ~4%, not worth
      changing the hash family under the pinned oracle.  At wide
      signatures the ordering flips (13.7 vs 10.5 s at 128 hashes)
      and ``minhash_oph_candidates`` is the documented scale path —
      but see its densification caveat before also widening bands.
    """
    _check_bands(num_hashes, bands)
    sig = minhash_signatures(df, text_col, id_col, k, num_hashes)
    # band hash = md5 of the concatenated row minhashes
    return _banded_pairs(sig, [f"mh_{i}" for i in range(num_hashes)], bands,
                         src=df)


def simhash64(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over whitespace tokens.

    Token bit source: first 16 hex chars of md5(token) → 64 bits.
    For each bit position, sum(+1 if bit set else −1) over tokens;
    simhash bit = sign. Computed via array ops + conv(), fully JVM-side.
    Tokens are normalized (text.normalize_text) like every other
    identity operator. Returns (id, simhash (bigint)).
    """
    from .text import norm_tokens
    toks = norm_tokens(text_col)
    exploded = (spread(df, id_col)
                  .select(F.col(id_col).alias("id"), F.explode(toks).alias("tok"))
                  .withColumn("h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10)
                              .cast("bigint")))
    # 60 usable bits from 15 hex chars (conv of 16 chars can overflow sign)
    bit_cols = [
        F.sum(F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1)
              .otherwise(-1)).alias(f"b{i}")
        for i in range(60)]
    agg = exploded.groupBy("id").agg(*bit_cols)
    sim = None
    for i in range(60):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("bigint")
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim + term
    return agg.select("id", sim.alias("simhash"))


SIMHASH_BITS = 60


def simhash_block_layout(max_hamming: int, total_bits: int = SIMHASH_BITS):
    """(offset, size) per block. ``max_hamming + 1`` blocks guarantee
    recall by pigeonhole: with at most h differing bits, at least one of
    h+1 disjoint blocks is untouched. Shared with the SQL oracle so both
    engines bucket identically."""
    if max_hamming < 0:
        raise ValueError("max_hamming must be >= 0")
    nb = min(max_hamming + 1, total_bits)
    base, rem = divmod(total_bits, nb)
    layout, off = [], 0
    for i in range(nb):
        size = base + (1 if i < rem else 0)
        layout.append((off, size))
        off += size
    return layout


def simhash_near_pairs(sim_df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by Hamming distance ≤ max_hamming.

    Blocking derives from the argument: ``max_hamming + 1`` disjoint bit
    blocks (pigeonhole ⇒ guaranteed recall for ANY max_hamming < 60,
    not just ≤3), candidates join on equal (block index, block value),
    then exact bit_count verification. Input: (id, simhash).
    Returns (id_a, id_b, hamming)."""
    layout = simhash_block_layout(max_hamming)
    blocks = [(F.shiftright(F.col("simhash"), off).bitwiseAND(F.lit((1 << size) - 1)))
              .alias(f"blk_{i}") for i, (off, size) in enumerate(layout)]
    with_blocks = sim_df.select("id", "simhash", *blocks)
    stacked = with_blocks.select(
        "id", "simhash",
        F.explode(F.array(*[F.struct(F.lit(i).alias("bi"), F.col(f"blk_{i}").alias("bv"))
                            for i in range(len(layout))])).alias("b")
    ).select("id", "simhash", F.col("b.bi").alias("bi"), F.col("b.bv").alias("bv"))
    a, b = stacked.alias("a"), stacked.alias("b")
    cand = (a.join(b, (F.col("a.bi") == F.col("b.bi")) &
                   (F.col("a.bv") == F.col("b.bv")) &
                   (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    F.col("a.simhash").alias("sh_a"), F.col("b.simhash").alias("sh_b"))
            .distinct())
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("bigint")
    return (cand.withColumn("hamming", ham)
                .filter(F.col("hamming") <= max_hamming)
                .select("id_a", "id_b", "hamming"))


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 8,
                        window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS local fingerprinting algorithm): hash every
    character ``k``-gram of the normalized text, slide a ``window`` of
    consecutive hashes, and keep the minimum of each window. The
    selected set is position-independent and GUARANTEES that any
    shared substring of at least k + window − 1 characters contributes
    at least one common fingerprint — the property plain shingle
    sampling (every i-th shingle) lacks.

    Returns distinct (id, fp bigint) rows — the inverted-index input
    for ``winnow_overlap_pairs``. Expected fingerprint density is
    2/(window+1) of all k-grams, so the index is ~2.5x smaller than
    the full shingle index at window=4 while still catching partial
    copies (quotes, licence blocks, mirrored paragraphs) that
    doc-level MinHash dilutes below threshold.

    Scale: map-only per document (two projected higher-order
    transforms — grams then hashes materialize as attributes so the
    window lambda reads an attribute, never re-evaluates the substring
    tree; the word_shingles_from lesson), then one distinct. No joins,
    no windows, no UDFs.
    """
    if k <= 0 or window <= 0:
        raise ValueError(f"k and window must be > 0, got k={k} w={window}")
    from .text import normalize_text
    norm = normalize_text(text_col)
    # char-gram md5s per row are CPU-heavy: parallelize a single-split
    # corpus before the map stage (r15, guide §2.5; no-op at scale)
    t = (spread(df, id_col).filter(F.col(text_col).isNotNull())
           .select(F.col(id_col).alias("id"), norm.alias("__t")))
    starts = F.sequence(
        F.lit(1), F.greatest(F.length("__t") - (k - 1), F.lit(1)))
    g = t.select("id", F.transform(
        starts, lambda i: F.col("__t").substr(i, F.lit(k))).alias("__g"))
    h = g.select("id", F.transform(
        F.col("__g"),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10)
                   .cast("bigint")).alias("__h"))
    n = F.size("__h")
    wstarts = F.sequence(F.lit(1), F.greatest(n - (window - 1), F.lit(1)))
    fps = F.array_distinct(F.transform(
        wstarts, lambda i: F.array_min(F.slice(F.col("__h"), i, window))))
    return (h.select("id", F.explode(fps).alias("fp"))
             .distinct())


def winnow_overlap_pairs(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", k: int = 8,
                         window: int = 4, min_common: int = 2,
                         max_fp_freq: Optional[int] = 1000) -> DataFrame:
    """Partial-copy candidate pairs by shared winnowing fingerprints:
    (id_a < id_b, n_common) for pairs sharing ≥ ``min_common``
    fingerprints. The plagiarism/mirror detector tier between exact
    dedup (whole-doc identity) and MinHash (whole-doc similarity):
    a long verbatim passage inside two otherwise-different documents
    is invisible to both, but shares its winnowed minima.

    ``max_fp_freq`` drops fingerprints present in more than N docs
    (boilerplate minima — licence headers selected in thousands of
    docs) — the same stop-key skew guard as the shingle index; the
    self-join cost is Σ freq(fp)² so one hot key dominates without it.
    The default is FINITE (1000: a fingerprint in >1000 docs is
    boilerplate, not a copied passage, and alone contributes 500k+
    pairs) so the unconfigured call is skew-safe at corpus scale;
    pass ``max_fp_freq=None`` to explicitly opt out of the cap.

    Scale: fingerprint index (map-only winnow + distinct) →
    localCheckpoint (two self-join consumers; recomputing the winnow
    per side measured 1.6x) → fp-keyed self-join (AQE skew-join
    handles residual hot keys) → per-pair count.
    """
    fps = winnow_fingerprints(spread(df, id_col), text_col, id_col, k, window)
    if max_fp_freq is not None:
        freq = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df_"))
        fps = (fps.join(freq.filter(F.col("df_") <= max_fp_freq), "fp")
                  .drop("df_"))
    fps = fps.localCheckpoint(eager=True)
    a, b = fps.alias("a"), fps.alias("b")
    return (a.join(b, (F.col("a.fp") == F.col("b.fp")) &
                   (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("n_common"))
             .filter(F.col("n_common") >= int(min_common)))


def ngram_novelty(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Per-document n-gram NOVELTY: the share of a doc's distinct
    k-shingles that occur in NO other document (corpus document
    frequency 1) — the continuous diagnostic underneath every dedup
    decision: boilerplate-heavy and templated docs score near 0, fresh
    content near 1.  Mix curation uses it as a KEEP signal where the
    near-dup operators make DROP decisions; tracking its corpus mean
    over snapshots also exposes creeping duplication a pair-level
    dedup only discovers later (and quadratically).

    Returns (id, n_shingles, n_novel, novelty ∈ [0,1] rounded 6).

    Scale: shingle table (distinct per doc) → shingle-keyed df counts
    (partial-aggregated; one shuffle) → join back → per-doc agg.  No
    pairwise work anywhere — this is the O(corpus) profile of what the
    O(candidates) join operators decide.
    """
    sh = _doc_shingles(spread(df, id_col), text_col, id_col, k)
    sh = sh.localCheckpoint(eager=True)  # reused: df counts + probe side
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    return (sh.join(freq, "shingle")
              .groupBy("id")
              .agg(F.count(F.lit(1)).alias("n_shingles"),
                   F.count(F.when(F.col("df_") == 1, 1)).alias("n_novel"))
              .select("id", "n_shingles", "n_novel",
                      F.round(F.col("n_novel") / F.col("n_shingles"), 6)
                       .alias("novelty")))


#: bounded-rotation width for OPH densification (see
#: minhash_oph_candidates): neighbors scanned before the global-min
#: fallback engages
_OPH_ROT = 8


def minhash_oph_candidates(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 3,
                           num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """Candidate near-dup pairs via ONE-PERMUTATION MinHash (OPH,
    Li-Owen-Zhang 2012) with rotation densification (Shrivastava-Li
    style) — the scale path for the most expensive map stage in the
    dedup family: classic banded MinHash computes ``num_hashes`` md5s
    PER SHINGLE (the dominant cost at 100 TB); OPH computes ONE md5
    per shingle, routes it to bin ``hash mod num_hashes``, and takes
    the min within each bin — the same "min of a random permutation"
    statistic, 16× less hash work at the default signature width.

    Empty bins (short docs) densify by borrowing the next non-empty
    bin circularly up to ``_OPH_ROT`` neighbors, then falling back to
    the document's global min hash — bounded rotation densification.
    A full k-term rotation would be exact OPH densification but costs
    a k² expression tree (measured: the 128-wide signature spent more
    time in the generated coalesce code than classic MinHash spent on
    its 128 md5s); the fallback only engages on runs of ≥``_OPH_ROT``
    consecutive empty bins (rare when shingles ≳ bins) and candidates
    feed an exact verification anyway (``ngram_jaccard_for_pairs``).

    Same output contract as ``minhash_lsh_candidates``:
    (id_a, id_b, n_bands_matched); same banding S-curve math.  The
    hash FAMILY differs, so the candidate sets differ on borderline
    pairs — identical docs still collide on every band by
    construction.

    Shape: explode → ONE md5 + bin route per shingle (the per-shingle
    work, where classic pays ``num_hashes`` md5s) → (id, bin)-keyed
    min agg (map-side combined; the k-way conditional pivot then runs
    over ≤k rows per doc, not per shingle) → bounded densify →
    band-hash explode → bucket self-join. min is
    duplicate-insensitive, so no distinct shuffle (same as classic).

    Measured (20k docs x 200 tokens, local[32]): 1.3x classic at the
    default 16-hash signature (6.4 s vs 4.9), 2.6x at 128 hashes
    (26.5 s vs 10.2) — the gap widens with signature width because
    classic's md5 count scales with it and OPH's does not.

    CAVEAT — bands vs document length (measured round 10, sf1
    documents): when num_hashes approaches the per-doc shingle count,
    many bins are empty and rotation densification fills them from
    NEIGHBORING bins, so adjacent signature slots become correlated.
    With narrow bands that correlation lands inside a band and
    inflates band collisions: at (128 hashes, 32 bands, r=4) on
    ~200-token docs OPH emitted 2.90M candidate pairs where classic
    emitted 0.25M — an 11x blow-up that erases the hash savings
    downstream.  Keep r (=num_hashes//bands) at or above _OPH_ROT, or
    keep num_hashes well under the typical shingle count; the
    (128, 4, r=32) configuration the 2.6x number comes from is safe
    because a band then spans multiple rotation windows.
    """
    _check_bands(num_hashes, bands)
    from .text import norm_tokens, word_shingles_from
    toks = spread(df, id_col).select(
        F.col(id_col).alias("id"),
        norm_tokens(text_col).alias("__toks"))
    sh = toks.select("id", F.explode(word_shingles_from(F.col("__toks"), k))
                     .alias("shingle"))
    h = F.md5(F.col("shingle"))
    # bin from the first 16 bits of the SAME hash, mod k — this STRIPES
    # the permuted universe into residue classes, not the textbook
    # contiguous equal-width ranges; for a uniform hash both are
    # equal-measure partitions with identical collision statistics,
    # and mod k works for any k (a range split needs k | 2^16)
    binc = (F.conv(F.substring(h, 1, 4), 16, 10).cast("int")
            % num_hashes)
    hashed = sh.select("id", h.alias("h"), binc.alias("bin"))
    # stage 1: per-(doc, bin) minima — O(1) work per shingle row
    per = hashed.groupBy("id", "bin").agg(F.min("h").alias("mh"))
    # stage 2: pivot ≤k rows per doc into signature columns + global min
    sig = per.groupBy("id").agg(
        F.min("mh").alias("__gmin"),
        *[F.min(F.when(F.col("bin") == i, F.col("mh"))).alias(f"mh_{i}")
          for i in range(num_hashes)])
    rot = min(_OPH_ROT, num_hashes)
    dens = sig.select("id", *[
        F.coalesce(*([F.col(f"mh_{(i + j) % num_hashes}")
                      for j in range(rot)] + [F.col("__gmin")]))
         .alias(f"d_{i}")
        for i in range(num_hashes)])
    return _banded_pairs(dens, [f"d_{i}" for i in range(num_hashes)], bands,
                         src=df)


def dedup_pair_eval(predicted: DataFrame, truth: DataFrame,
                    id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Precision/recall/F1 of a candidate-pair stage against labeled
    truth pairs — the number a user tuning MinHash bands, a Jaccard
    τ, a SimHash radius or a winnow ``min_common`` actually optimizes
    (the pair-generation analogue of ``similarity.ann_recall``).

    Both inputs are (id_a, id_b) frames; pairs are canonicalized to
    (min, max) and de-duplicated first, so orientation and repeats
    cannot skew the counts.  Rows with a NULL id or a self-pair
    (id_a == id_b) are dropped explicitly on BOTH sides — they are not
    pairs, and dropping them identically cannot bias precision against
    recall.  Returns ONE row: n_predicted, n_truth, true_positives,
    precision, recall, f1 (precision NULL when nothing was predicted,
    recall NULL when truth is empty).

    Scale: both sides reduce to distinct canonical pairs, then one
    inner join keyed on the pair — |pairs| work, no corpus access.
    """
    def canon(df):
        a, b = F.col(id_a), F.col(id_b)
        return (df.filter(a.isNotNull() & b.isNotNull())
                  .select(F.least(a, b).alias("__a"),
                          F.greatest(a, b).alias("__b"))
                  .filter(F.col("__a") != F.col("__b"))
                  .distinct()
                  .localCheckpoint(eager=True))  # counted + joined

    p, t = canon(predicted), canon(truth)
    n_p, n_t = p.count(), t.count()
    tp = p.join(t, ["__a", "__b"]).count()
    prec = tp / n_p if n_p else None
    rec = tp / n_t if n_t else None
    f1 = (2 * prec * rec / (prec + rec)
          if prec is not None and rec is not None and (prec + rec) > 0
          else (0.0 if prec is not None and rec is not None else None))
    spark = predicted.sparkSession
    return local_df(
        spark, [(n_p, n_t, tp,
          round(prec, 6) if prec is not None else None,
          round(rec, 6) if rec is not None else None,
          round(f1, 6) if f1 is not None else None)],
        "n_predicted bigint, n_truth bigint, true_positives bigint, "
        "precision double, recall double, f1 double")


class DuplicationConstraint(Constraint):
    """Corpus-duplication release gate (round 9): the share of rows
    whose NORMALIZED text fingerprint occurs 2+ times must satisfy the
    assertion (default <= max_ratio) — the suite-level form of
    ``exact_duplicates``/``dedup_exact``, the gate a training-data
    release runs before shipping a crawl snapshot.

    GroupBy-shaped (needs per-fingerprint counts), so it runs as its
    own job like UniqueValueRatio — two hash aggregations, a 2-number
    summary to the driver, no DISTINCT aggregates.  NULL text rows are
    excluded from both numerator and denominator (they carry no
    fingerprint to collide on).
    """

    name = "low_duplication"

    def __init__(self, column: str = "text", max_ratio: float = 0.0,
                 assertion=None):
        from ..core.assertion import Assertion
        from ..functions.security import validate_identifier

        self.column = validate_identifier(column)
        self.max_ratio = float(max_ratio)
        self.assertion = (Assertion.coerce(assertion) if assertion is not None
                          else Assertion.le(self.max_ratio))

    def evaluate(self, ctx):
        from ..core.result import ConstraintResult

        df = ctx.df(self.table)
        counts = (df.select(fingerprint(self.column))
                    .filter(F.col("fingerprint").isNotNull())
                    .groupBy("fingerprint")
                    .agg(F.count(F.lit(1)).alias("n")))
        row = counts.agg(
            F.coalesce(F.sum("n"), F.lit(0)).alias("total"),
            F.coalesce(F.sum(F.when(F.col("n") >= 2, F.col("n"))),
                       F.lit(0)).alias("dup")).collect()[0]
        total = float(row["total"])
        if total == 0:
            return self._finish(ConstraintResult.skipped())
        ratio = float(row["dup"]) / total
        if self.assertion.evaluate(ratio):
            return self._finish(ConstraintResult.success(ratio))
        return self._finish(ConstraintResult.failure(
            ratio,
            f"duplication ratio {ratio:.4f} does not satisfy "
            f"{self.assertion.describe()} for column {self.column} "
            f"(share of rows whose normalized text occurs 2+ times)"))


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) — the insertion-resilient chunk tier
# ---------------------------------------------------------------------------

def cdc_chunks(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", k: int = 8,
               divisor: int = 64) -> DataFrame:
    """Content-defined chunking — the insertion-resilient chunk-level
    dedup tier (Muthitacharoen et al. SOSP'01 LBFS; gear/Rabin CDC as
    surveyed by FastCDC, Xia et al. USENIX ATC'16).

    Fixed-size chunking breaks under a single insertion: every later
    chunk shifts, so nothing downstream dedups. CDC cuts where the
    CONTENT says so — after any k-gram whose hash ≡ 0 (mod divisor) —
    so an edit disturbs only the chunks it touches; everything past
    the next content boundary realigns byte-for-byte. Expected chunk
    length ≈ ``divisor`` characters.

    Engine-portable hash (the registry-oracle md5 trick shared with
    the OPH/DSIR/Bloom operators): gram hash = first 60 bits of
    md5(gram), cut after position i+k whenever hash % divisor == 0.
    No min/max clamps — the pure content-defined rule keeps every cut
    decision local to its gram (and the DuckDB replay exact);
    production CDC adds clamps only to bound pathological chunk-length
    tails, not to change the semantics.

    Entirely JVM-side higher-order functions over each row — map-only,
    ZERO shuffle, no Python. Output: one row per chunk
    ``(id, chunk_idx, start, length, chunk_hash)`` with ``start``
    0-based and ``chunk_hash = md5(chunk text)``. NULL/empty text
    yields no rows (consistent with the shingle operators); text
    shorter than k is one whole-document chunk.
    """
    from ..functions.security import validate_identifier
    validate_identifier(text_col)
    validate_identifier(id_col)
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if divisor < 2:
        raise ValueError(f"divisor must be >= 2, got {divisor}")
    base = (df.select(F.col(id_col).alias("id"),
                      F.col(text_col).alias("__t"))
              .filter(F.col("__t").isNotNull() & (F.length("__t") > 0)))
    # candidate cut positions: i + k <= len guard lives INSIDE the
    # lambda so the sequence() bound never goes descending on short
    # docs (sequence(0, -1) counts DOWN in Spark)
    cuts = (
        "array_distinct(concat("
        "  array(0),"
        "  transform("
        f"    filter(sequence(0, greatest(length(__t) - {k}, 0)),"
        f"           i -> i + {k} <= length(__t) AND"
        f"                conv(substring(md5(substring(__t, i + 1, {k})),"
        f"                     1, 15), 16, 10) % {divisor} = 0),"
        f"    i -> i + {k}),"
        "  array(length(__t))))")
    chunks = (
        "transform(sequence(1, size(__cuts) - 1),"
        " j -> struct(j - 1 AS chunk_idx,"
        "             element_at(__cuts, j) AS start,"
        "             element_at(__cuts, j + 1) - element_at(__cuts, j)"
        "               AS length))")
    return (base.withColumn("__cuts", F.expr(cuts))
            .select("id", "__t", F.explode(F.expr(chunks)).alias("c"))
            .select("id",
                    F.col("c.chunk_idx").alias("chunk_idx"),
                    F.col("c.start").cast("bigint").alias("start"),
                    F.col("c.length").cast("bigint").alias("length"),
                    F.md5(F.expr("substring(__t, c.start + 1, c.length)"))
                     .alias("chunk_hash")))


def cdc_dedup_summary(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 8,
                      divisor: int = 64) -> DataFrame:
    """Corpus-level CDC dedup report: how much storage/compute does
    chunk-level dedup reclaim? One row: total vs distinct chunk counts
    and character volumes, the duplicate-chunk ratio, and the dedup
    factor (chars_total / chars_distinct — the LBFS "storage saved"
    number). Identical chunk_hash ⇒ identical content ⇒ identical
    length, so distinct volume sums one length per hash. One shuffle
    on the 16-byte chunk hash — scale shape identical to exact dedup.
    """
    ch = cdc_chunks(df, text_col, id_col, k=k, divisor=divisor)
    per = ch.groupBy("chunk_hash").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.max("length").alias("len"))
    return per.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("n_chunks"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_chunks"),
        F.coalesce(F.sum(F.col("cnt") * F.col("len")), F.lit(0))
         .cast("bigint").alias("chars_total"),
        F.coalesce(F.sum("len"), F.lit(0)).cast("bigint")
         .alias("chars_distinct"),
        F.round(F.when(F.sum("cnt") > 0,
                       1.0 - F.count(F.lit(1)) / F.sum("cnt")), 6)
         .alias("dup_chunk_ratio"),
        F.round(F.when(F.sum("len") > 0,
                       F.sum(F.col("cnt") * F.col("len")) / F.sum("len")), 6)
         .alias("dedup_factor"))


def remove_duplicate_chunks(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", k: int = 8,
                            divisor: int = 64):
    """CDC rewrite tier (round 11): ``cdc_dedup_summary`` reports what
    chunk dedup WOULD reclaim; this reclaims it.  Keep the FIRST
    occurrence of every distinct chunk — global election order
    (id, chunk_idx), so the earliest document keeps its text — drop
    every later occurrence, and reassemble each document from its
    kept chunks in chunk order (the ``remove_duplicated_spans``
    keep-policy pattern, elected rather than strip-all because chunks
    are storage units: SOMEONE must retain the canonical copy).

    Returns ``(cleaned_df, dropped_df)``: cleaned_df is (id, text)
    containing every document that kept at least one chunk (documents
    whose every chunk was a later duplicate disappear, as do NULL/
    empty-text documents, which have no chunks — same contract as the
    span rewrite); dropped_df is the dropped chunk instances
    (id, chunk_idx, start, length, chunk_hash) for caller accounting.

    Scale shape: the election is ``min(struct(id, chunk_idx))`` per
    chunk hash + a join-back — NOT a per-hash row_number window: a
    window partition is one task and cannot be split, so a chunk
    duplicated millions of times (exactly the regime chunk dedup
    targets) would serialize into a single sort.  The min-struct
    aggregate is map-side combined (a hot hash collapses to one row
    per input partition before the shuffle) and the join-back is an
    ordinary equi-join AQE can skew-split.  Kept instances then
    regroup per doc (one shuffle on id) into a bounded (chunk_idx,
    start, length) array and the reassembly is a JVM transform+substr
    over the original text: the text itself never shuffles, and a
    document with nothing dropped rebuilds to its exact original
    bytes (the cuts partition the text), so the rewrite is
    byte-identical a no-op where dedup is.  The index tier
    (``remove_duplicate_chunks_against_index``) runs the same rewrite,
    given the hashes history already holds.
    """
    return _rewrite_chunks(df, cdc_chunks(df, text_col, id_col, k=k,
                                          divisor=divisor),
                           text_col, id_col)


def _rewrite_chunks(df: DataFrame, ch: DataFrame, text_col: str,
                    id_col: str, stored_hits: Optional[DataFrame] = None):
    """Elect, drop and reassemble — the rewrite both CDC tiers share.
    ``ch`` is ``df``'s ``cdc_chunks``; the first occurrence of each
    chunk hash in (id, chunk_idx) order is kept unless the hash is in
    ``stored_hits`` (chunk_hash, __stored), the hashes history already
    holds.  Returns ``(cleaned_df, dropped_df)``."""
    winner = (ch.groupBy("chunk_hash")
              .agg(F.min(F.struct("id", "chunk_idx")).alias("__w")))
    drop = ~((F.col("id") == F.col("__w.id")) &
             (F.col("chunk_idx") == F.col("__w.chunk_idx")))
    if stored_hits is not None:
        ch = ch.join(stored_hits, "chunk_hash", "left")
        drop = F.col("__stored").isNotNull() | drop
    marked = ch.join(winner, "chunk_hash").withColumn("__drop", drop)
    dropped = (marked.filter(F.col("__drop"))
               .select("id", "chunk_idx", "start", "length", "chunk_hash"))
    kept = (marked.filter(~F.col("__drop"))
            .groupBy("id")
            .agg(F.sort_array(F.collect_list(
                F.struct("chunk_idx", "start", "length"))).alias("__ks")))
    rebuilt = F.array_join(
        F.transform(F.col("__ks"),
                    lambda s: F.col(text_col).substr(
                        s["start"].cast("int") + 1,
                        s["length"].cast("int"))), "")
    cleaned = (df.join(kept.withColumnRenamed("id", id_col), id_col)
               .withColumn(text_col, rebuilt)
               .select(id_col, text_col))
    return cleaned, dropped


# ---------------------------------------------------------------------------
# Persisted CDC chunk index — incremental-ingestion chunk dedup
# ---------------------------------------------------------------------------

def build_cdc_index(df: DataFrame, index_path: str, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 8, divisor: int = 64,
                    mode: str = "overwrite") -> None:
    """Persist the corpus's content-defined chunk hashes so future
    batches run chunk dedup against history WITHOUT re-chunking it —
    the third incremental-ingestion tier (near-dup has the MinHash
    index, substring dedup the gram index; this is the storage-unit
    tier).  The params (k, divisor) are pinned — a probe under
    different cut params is a different chunking and would silently
    miss — and the ``chunks`` table holds (h, n) per-shard PARTIAL
    counts of the 16-byte chunk hashes.

    Append soundness is the gram-index argument verbatim: counts ADD
    across shards, and the probe's test is pure membership (stored
    means "history already holds this chunk"), monotone under
    addition — so shard-wise appends == batch build.
    """
    per_shard = (cdc_chunks(df, text_col, id_col, k=k, divisor=divisor)
                 .groupBy(F.col("chunk_hash").alias("h"))
                 .agg(F.count(F.lit(1)).alias("n")))
    IndexStore(df.sparkSession, index_path).write(
        {"chunks": per_shard}, {"k": k, "divisor": divisor}, mode)


def remove_duplicate_chunks_against_index(spark, index_path: str, new_df,
                                          text_col: str = "text",
                                          id_col: str = "doc_id"):
    """Chunk-dedup a NEW batch against a persisted CDC index: chunk
    only the batch (cut params read from the index), drop every batch
    chunk whose content already lives in HISTORY (stored hash — the
    history copy is canonical) or earlier in the batch itself, and
    reassemble each document from its kept chunks in order — the
    election and reassembly are ``remove_duplicate_chunks``'s own
    (``_rewrite_chunks``), given the stored hits.  Returns
    ``(cleaned_df, dropped_df)`` with the in-memory rewrite's contract —
    equivalently: this IS ``remove_duplicate_chunks(history ∪ batch)``
    restricted to batch docs whenever history ids sort before batch
    ids (pinned in test_cdc_index.py), because a stored hash beats
    any batch occurrence and batch-internal election is unchanged.

    Scale shape: the batch is chunked once (map-only JVM HOFs); the
    corpus-sized chunk table is touched by ONE semi-join against the
    batch's distinct hashes; the election (min-struct per hash +
    join-back — no per-hash window partition a single task must sort)
    and per-doc reassembly run on batch rows only.  History text is
    never read, never re-chunked, never shuffled.
    """
    store = IndexStore(spark, index_path)
    k, divisor = store.params["k"], store.params["divisor"]
    ch = cdc_chunks(new_df, text_col, id_col, k=k, divisor=divisor) \
        .localCheckpoint()  # used twice: stored-hit join + election
    stored_hits = (store.read("chunks")
                   .select(F.col("h").alias("chunk_hash"))
                   .join(ch.select("chunk_hash").distinct(),
                         "chunk_hash", "left_semi")
                   .distinct()
                   .withColumn("__stored", F.lit(True)))
    return _rewrite_chunks(new_df, ch, text_col, id_col, stored_hits)


# ---------------------------------------------------------------------------
# Persisted MinHash-LSH index — incremental-ingestion near-dup
# ---------------------------------------------------------------------------

#: the index params' digest format: every minhash and band hash is the
#: 16-byte md5 digest (an index without this marker stores hex strings)
_DIGEST = "binary16"


def build_minhash_index(df: DataFrame, index_path: str,
                        text_col: str = "text", id_col: str = "doc_id",
                        k: int = 3, num_hashes: int = 16,
                        bands: int = 4, mode: str = "overwrite") -> None:
    """Persist a banded-MinHash near-dup index so future batches dedup
    against the corpus WITHOUT re-sketching it — the incremental
    -ingestion workflow (each crawl/dump sketches only itself; the
    100 TB history is k·|corpus| 16-byte digests on disk, touched only
    by a bucket join). The text-retrieval analogue of the persisted IVF
    index in operators/similarity.

    Params (k, num_hashes, bands) are pinned at build time; a
    mismatched probe is a different hash family and would silently
    miss. One table per shard:
    - ``signatures``  (id, mh_0..mh_{n-1}, band_0..band_{B-1}) — the
      minhashes for the est-Jaccard verify and the band hashes the
      probe explodes into its bucket join side (a column-pruned scan).
      Every digest is ``binary`` of 16 bytes, the md5 digest itself:
      its 32-char hex form holds the same bytes in twice the space.
      The params carry ``digest: binary16``; an index without it was
      built with hex strings and a probe refuses it.

    ``mode='append'`` writes the new documents as one more shard, so
    each shard holds exactly one row per document, derived from that
    shard's documents only: nothing is re-derived from earlier shards
    and no second table has to stay in lockstep. Min-per-shingle
    signatures and their band hashes are row-local, so shard-wise
    union == batch build.
    """
    _check_bands(num_hashes, bands)
    cols = [f"mh_{i}" for i in range(num_hashes)]
    sig = minhash_signatures(df, text_col, id_col, k, num_hashes)
    IndexStore(df.sparkSession, index_path).write(
        {"signatures": _index_rows(sig, cols, bands)},
        {"k": k, "num_hashes": num_hashes, "bands": bands,
         "digest": _DIGEST}, mode)


def neardup_against_index(spark, index_path: str, new_df: DataFrame,
                          text_col: str = "text", id_col: str = "doc_id",
                          min_est_jaccard: float = 0.0) -> DataFrame:
    """Near-dup candidates between a NEW batch and a persisted index:
    sketch only the batch (params read from the index), join its
    band hashes against the stored ones, and score every candidate
    with the standard signature estimate of Jaccard — the fraction of
    the num_hashes minhashes that agree (each agrees with probability
    exactly J). Returns (new_id, index_id, n_bands_matched,
    est_jaccard), filtered to est >= ``min_est_jaccard``.

    Scale shape: the bucket join is the only corpus-sized touch and it
    shuffles on the 16-byte band hash; the batch side is typically the
    small one, so AQE broadcasts it. The batch is sketched once: its
    minhashes ride the band stack into the (new_id, index_id) pairs
    aggregate (exact, since they depend on new_id only), so the
    est-Jaccard verify joins the candidates with the stored signatures
    alone, never the texts. The batch minhashes are unhexed before the
    join, so both sides of both joins compare 16-byte values.

    An index whose params lack ``digest: binary16`` stores hex strings;
    Spark would cast them to binary in the comparisons and match
    nothing, so the probe raises instead.
    """
    store = IndexStore(spark, index_path)
    params = store.params
    if params.get("digest") != _DIGEST:
        raise ValueError(
            f"MinHash index at {index_path} stores hex-string digests "
            f"(params {params}); rebuild it with build_minhash_index")
    k, num_hashes, bands = params["k"], params["num_hashes"], params["bands"]
    cols = [f"mh_{i}" for i in range(num_hashes)]
    ncols = [f"n_{c}" for c in cols]

    new_sig = minhash_signatures(new_df, text_col, id_col, k, num_hashes)
    new_stack = _explode_bands(
        _index_rows(new_sig, cols, bands).select(
            "id", *[F.col(c).alias(n) for c, n in zip(cols, ncols)],
            *[f"band_{b}" for b in range(bands)]), bands, keep=ncols) \
        .withColumnRenamed("id", "new_id")
    stored = store.read("signatures")
    buckets = _explode_bands(
        stored.select("id", *[f"band_{b}" for b in range(bands)]), bands) \
        .withColumnRenamed("id", "index_id")
    pairs = (new_stack.join(buckets, ["band", "h"])
             .groupBy("new_id", "index_id")
             .agg(F.count(F.lit(1)).alias("n_bands_matched"),
                  *[F.any_value(c).alias(c) for c in ncols]))

    isig = stored.select(F.col("id").alias("index_id"),
                         *[F.col(c).alias(f"i_{c}") for c in cols])
    agree = sum(F.when(F.col(f"n_{c}") == F.col(f"i_{c}"), 1).otherwise(0)
                for c in cols)
    return (pairs.join(isig, "index_id")
            .select("new_id", "index_id", "n_bands_matched",
                    (agree / F.lit(num_hashes)).alias("est_jaccard"))
            .filter(F.col("est_jaccard") >= min_est_jaccard))
