"""Similarity search over embedding columns (array<float>).

- cosine_pairs / cosine_topk: brute-force exact baseline. The dot
  product is a JVM-side ``aggregate(zip_with(...))`` fold — no Python
  UDF, deterministic left-to-right accumulation (engine-portable).
- lsh_bucketed_pairs: random-hyperplane LSH scale path — sign bits of
  dot(v, h_j) for deterministic md5-derived hyperplanes bucket the
  vectors; pairs form within buckets, plus margin-ordered multi-probe
  (Lv et al. 2007: flip the smallest-|v·h| bits first). At 100 TB:
  buckets shard the O(n²) pair space; the bucket id is the shuffle key.
- ivf_topk: IVF-style ANN — distributed-Lloyd's centroids, probe the
  nearest ``nprobe`` centroid cells.
- build_ivf_index / load_ivf_index / ivf_topk_from_index: the index
  LIFECYCLE — train + assign once, persist as parquet with the
  assignments partitioned by centroid id, then serve many query
  batches with partition-pruned scans (no re-training/re-assignment).
  ``ivf_topk`` and the index share training, assignment and probing;
  every exact-cosine search here ends in ``_exact_topk``.
- pq_train / pq_encode / pq_topk: product quantization — m-subspace
  codebooks, vectors stored as m small codes, ADC lookup-table search.
- ivfpq_build / ivfpq_topk: the production composition (FAISS
  IndexIVFPQ shape) — coarse cells + residual PQ codes; probe nprobe
  cells, ADC-score only their rows. One metric (inner product) on
  both the assignment and probe sides.
- ivfpq_topk_refined: + exact re-rank of the refine_factor·k ADC
  shortlist against the raw vectors (FAISS IndexRefineFlat shape) —
  recovers ≈exact recall from a quantized index.
"""

from __future__ import annotations

from typing import List, Optional

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..core.constraint import Constraint
from ..index_store import IndexStore
from ..session import local_df


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def with_cosine(df: DataFrame, col_a: str, col_b: str,
                out: str = "cosine") -> DataFrame:
    a = F.transform(F.col(col_a), lambda x: x.cast("double"))
    b = F.transform(F.col(col_b), lambda x: x.cast("double"))
    return df.withColumn(out, _dot(a, b) / (_norm(a) * _norm(b)))


def _vectors(df: DataFrame, id_col: str, vec_col: str, ids: str,
             vec: str, nrm: str) -> DataFrame:
    """(``ids``, ``vec``, ``nrm``): each row's id, its vector cast to
    double and the vector's norm — both sides of every exact cosine
    here, so a probe evaluates one dot per pair."""
    return (df.select(F.col(id_col).alias(ids),
                      F.transform(F.col(vec_col),
                                  lambda x: x.cast("double")).alias(vec))
            .withColumn(nrm, _norm(F.col(vec))))


def _exact_topk(pairs: DataFrame, k: int) -> DataFrame:
    """The exact-cosine top-k tail every vector search shares: score
    each (query_id: va, na) × (nbr_id: vb, nb) pair, keep ``k`` per
    query on (cosine desc, nbr_id asc), rank as bigint, and round the
    cosine to 6 decimals after ranking.  Returns (query_id, nbr_id,
    cosine, rank) — the schema ``ann_recall`` compares."""
    from pyspark.sql import Window

    scored = pairs.withColumn("cosine", _dot(F.col("va"), F.col("vb")) /
                              (F.col("na") * F.col("nb")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("nbr_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= int(k))
            .select("query_id", "nbr_id", F.round("cosine", 6).alias("cosine"),
                    F.col("rank").cast("bigint").alias("rank")))


def cosine_pairs(df: DataFrame, id_col: str = "vec_id",
                 vec_col: str = "embedding", threshold: float = 0.9,
                 query_filter=None) -> DataFrame:
    """All pairs (id_a < id_b) with cosine ≥ threshold; brute force.
    ``query_filter``: optional Column predicate restricting the left
    side (e.g. probe a subset against the full corpus)."""
    from .dedup import spread
    df = spread(df, id_col)   # per-row folds are CPU-heavy: use all cores
    # norms hoisted out of the pair join: O(n·d) once instead of
    # O(pairs·d) — the pair stage evaluates only the dot product
    v = _vectors(df, id_col, vec_col, "id", "v", "nrm")
    left = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                    F.col("nrm").alias("na"))
    if query_filter is not None:
        left = left.filter(query_filter)
    right = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                     F.col("nrm").alias("nb"))
    pairs = (left.join(right, F.col("id_a") < F.col("id_b"))
             .withColumn("cosine", _dot(F.col("va"), F.col("vb")) /
                         (F.col("na") * F.col("nb"))))
    return (pairs.filter(F.col("cosine") >= threshold)
                 .select("id_a", "id_b", F.round("cosine", 6).alias("cosine")))


def cosine_topk(df: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id",
                query_vec_col: str = "query_vec") -> DataFrame:
    """Exact top-k neighbors per query vector (brute force baseline).
    Cross join queries × corpus → windowed top-k. Broadcast the query
    side — it is small by construction."""
    from .dedup import spread
    corpus = _vectors(spread(df, id_col), id_col, vec_col, "nbr_id", "vb", "nb")
    q = _vectors(queries, query_id_col, query_vec_col, "query_id", "va", "na")
    return _exact_topk(F.broadcast(q).crossJoin(corpus), k)


def _hyperplanes(dim: int, n_planes: int, seed: str = "term") -> List[List[float]]:
    """Deterministic pseudo-random unit-ish hyperplanes from md5 bytes."""
    import hashlib
    planes = []
    for j in range(n_planes):
        vals: List[float] = []
        counter = 0
        while len(vals) < dim:
            h = hashlib.md5(f"{seed}:{j}:{counter}".encode()).digest()
            vals.extend(b / 127.5 - 1.0 for b in h)
            counter += 1
        planes.append(vals[:dim])
    return planes


def lsh_bucket(df: DataFrame, vec_col: str = "embedding", n_planes: int = 8,
               seed: str = "term", out: str = "bucket",
               dim: Optional[int] = None,
               dots_col: Optional[str] = None) -> DataFrame:
    """Random-hyperplane signature: bucket = bitstring of sign(v·h_j).
    Pass ``dim`` to skip the one-row dimension sniff (an eager action
    during plan build). ``dots_col`` additionally materializes the raw
    projections array (v·h_0 … v·h_{n-1}) — the margins multi-probe
    ranks by."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    dots = []
    for plane in _hyperplanes(dim, n_planes, seed):
        h = F.array(*[F.lit(x) for x in plane])
        dots.append(_dot(v, h))
    if dots_col is not None:
        # materialize the projections once; bits derive from the array
        # (each _dot fold is CPU-heavy — never evaluate it twice)
        df = df.withColumn(dots_col, F.array(*dots))
        bits = F.transform(F.col(dots_col),
                           lambda d: F.when(d >= 0, "1").otherwise("0"))
        return df.withColumn(out, F.array_join(bits, ""))
    return df.withColumn(
        out, F.concat(*[F.when(d >= 0, "1").otherwise("0") for d in dots]))


def lsh_bucketed_pairs(df: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding", threshold: float = 0.9,
                       n_planes: int = 8, seed: str = "term",
                       multi_probe: int = 0,
                       dim: Optional[int] = None,
                       probe_order: str = "margin") -> DataFrame:
    """Near-dup pairs within LSH buckets (approximate recall; scale
    path for cosine_pairs).

    ``multi_probe=T`` additionally probes, for each LEFT vector, T
    single-bit-flipped buckets — (1 + T) bucket keys per vector on one
    side only (the standard multi-probe trade: more probes, fewer
    planes/tables).

    ``probe_order`` picks WHICH bits flip:
    - ``"margin"`` (default, Lv et al. 2007): the T bits with the
      smallest |v·h_j| — the hyperplanes this vector most nearly
      touches, i.e. the splits most likely to have separated a true
      neighbor. Costs one extra projections array per left vector.
    - ``"fixed"``: the first T bits regardless of margin (the naive
      scheme; kept for recall comparison — measurably worse at the
      same candidate volume).
    """
    if probe_order not in ("margin", "fixed"):
        raise ValueError("probe_order must be 'margin' or 'fixed'")
    use_margin = multi_probe > 0 and probe_order == "margin"
    b = lsh_bucket(df, vec_col, n_planes, seed, dim=dim,
                   dots_col="__dots" if use_margin else None)
    left_cols = [F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                 F.col("bucket")]
    if use_margin:
        left_cols.append(F.col("__dots"))
    left = b.select(*left_cols)
    if multi_probe > 0:
        T = min(multi_probe, n_planes)
        if use_margin:
            # margin-ordered perturbation: rank bit indices by |v·h_j|
            # ascending, take the T nearest hyperplanes. JVM-side:
            # sort_array over (|margin|, index) structs.
            order = F.transform(
                F.sort_array(F.array(*[
                    F.struct(F.abs(F.col("__dots")[j]).alias("m"),
                             F.lit(j).alias("j"))
                    for j in range(n_planes)])),
                lambda s: s["j"])
            flip_idx = F.slice(order, 1, T)
        else:
            flip_idx = F.array(*[F.lit(j) for j in range(T)])
        # -1 sentinel = the unflipped home bucket
        left = left.withColumn(
            "__pj", F.explode(F.concat(F.array(F.lit(-1)), flip_idx)))
        j = F.col("__pj")
        flipped = F.concat(
            F.substring(F.col("bucket"), F.lit(1), j),
            F.when(F.substring(F.col("bucket"), j + 1, F.lit(1)) == "1", "0")
             .otherwise("1"),
            F.substring(F.col("bucket"), j + 2, F.lit(n_planes) - j - 1))
        left = (left.withColumn(
                    "bucket", F.when(j < 0, F.col("bucket")).otherwise(flipped))
                .drop("__pj", *(["__dots"] if use_margin else [])))
    right = b.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                     F.col("bucket").alias("bucket_b"))
    pairs = left.join(right, (F.col("bucket") == F.col("bucket_b")) &
                      (F.col("id_a") < F.col("id_b")))
    if multi_probe > 0:  # a pair can now meet in several probe buckets
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    pairs = with_cosine(pairs, "va", "vb")
    return (pairs.filter(F.col("cosine") >= threshold)
                 .select("id_a", "id_b", F.round("cosine", 6).alias("cosine")))


#: literal-plan budget for with_nearest_centroid: models up to this many
#: floats inline as codegen literals; larger ones take the Arrow path.
_CENT_LITERAL_BUDGET = 32768


def with_nearest_centroid(df: DataFrame, vec_col: str, cents,
                          out: str = "cid",
                          metric: str = "ip") -> DataFrame:
    """Append the nearest-centroid id for every row — the cell
    assignment primitive under IVF/IVF-PQ/k-means, MAP-ONLY at any
    corpus size: no join, no shuffle, no sort (a crossJoin + per-id
    argmax would either sort-shuffle n·k rows or SortAggregate a
    struct-buffered max_by; assignment is a pure function of the row
    and the model, so neither belongs in the plan).

    ``cents`` is the driver-resident centroid list (kmeans_centroids'
    return type — coarse quantizer tables are small by construction).
    ``metric='ip'`` takes argmax inner product; ``'cosine'``
    L2-normalizes the centroid rows first, which makes the IP argmax
    ≡ cosine argmax (the row's own norm is a constant factor).
    Ties break to the smallest cid on both paths.

    Small models (≤ ``_CENT_LITERAL_BUDGET`` floats) inline as plan
    literals reduced with ``array_max`` over (score, -cid) structs —
    whole-stage-codegen JVM work.  Larger models ship once per
    executor in an Arrow closure and assign via one vectorized
    (batch × k) GEMM argmax — still map-only.
    """
    import numpy as np

    c = np.array(cents, dtype=np.float64)
    if metric == "cosine":
        nrm = np.linalg.norm(c, axis=1)
        nrm[nrm == 0] = 1.0
        c = c / nrm[:, None]
    elif metric != "ip":
        raise ValueError(f"with_nearest_centroid: unknown metric {metric!r}")
    n_cents, d = c.shape

    if n_cents * d <= _CENT_LITERAL_BUDGET:
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        entries = [
            F.struct(
                _dot(v, F.array(*[F.lit(float(x)) for x in row])).alias("s"),
                F.lit(-i).alias("tb"),
                F.lit(i).cast("long").alias("cid"))
            for i, row in enumerate(c)]
        return df.withColumn(out, F.array_max(F.array(*entries))["cid"])

    from pyspark.sql.types import LongType, StructField, StructType
    schema = StructType(list(df.schema.fields) + [StructField(out, LongType())])

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            # numpy argmax ties -> first occurrence = smallest cid,
            # matching the literal path's (s, -cid) struct ordering
            pdf[out] = (x @ c.T).argmax(1).astype(np.int64)
            yield pdf

    return df.mapInPandas(assign, schema)


def kmeans_centroids(df: DataFrame, id_col: str = "vec_id",
                     vec_col: str = "embedding", k: int = 16,
                     iterations: int = 5, seed: int = 42) -> List[List[float]]:
    """Distributed Lloyd's k-means for IVF index training, pure
    DataFrame ops — vectors NEVER collect to the driver; only the k×d
    centroid matrix does (it is the model, broadcast each round).

    Per iteration: cosine-assign every vector to its nearest centroid
    (map-only ``with_nearest_centroid`` — the model rides the plan, no
    join/shuffle/sort in the assignment), then recompute centroids as
    element-wise means via posexplode → groupBy(cid, pos) — k·d result
    rows regardless of corpus size. Empty clusters keep their previous
    centroid. Deterministic: seeded md5-hash init, fixed iteration
    count.
    """
    v = df.select(F.col(id_col).alias("id"),
                  F.transform(F.col(vec_col),
                              lambda x: x.cast("double")).alias("v"))
    # r15 (guide §5): every Lloyd's iteration (and the init sample) used
    # to re-scan the source and re-cast the vectors; one eager
    # localCheckpoint pins the cast vectors so the 5 iteration jobs +
    # init read memory instead.  Bit-identical centroids (verified
    # c_before == c_after at sf0.1); measured 11.6 s -> 7.6 s for a
    # 16-centroid 5-iteration train at sf0.1, and it removes 6 source
    # scans per train at any scale.  The iteration MATH is untouched:
    # centroid floats feed partial-nprobe recall attestations, so the
    # summation structure must stay exactly as committed.
    # (r15) ... but ONLY when iterations follow: at iterations=0 the
    # init sample is the sole consumer, and the eager materialization
    # would cost a full extra pass for nothing.
    if iterations > 0:
        v = v.localCheckpoint(eager=True)
    cents = [list(r["v"]) for r in
             v.orderBy(F.md5(F.concat(F.lit(str(seed)),
                                      F.col("id").cast("string"))))
              .limit(k).collect()]

    for _ in range(max(0, iterations)):
        assigned = (with_nearest_centroid(v, "v", cents, metric="cosine")
                    .select("cid", "v"))
        # r15 (guide §2.4): collect the k·d (cid, pos, mean) cells and
        # assemble the centroid rows on the driver — the matrix is
        # driver-resident by design (it IS the return value), and the
        # old groupBy(cid)+sort_array(collect_list) assembly cost one
        # extra Exchange + object-hash aggregate per iteration just to
        # do the same reordering executor-side. avg values unchanged.
        means = (assigned.select("cid", F.posexplode("v").alias("pos", "val"))
                 .groupBy("cid", "pos").agg(F.avg("val").alias("m"))
                 .collect())
        by_cid: dict = {}
        for r in means:
            by_cid.setdefault(r["cid"], {})[r["pos"]] = r["m"]
        new = {cid: [cells[p] for p in sorted(cells)]
               for cid, cells in by_cid.items()}
        cents = [new.get(i, cents[i]) for i in range(len(cents))]
    return cents


def ivf_topk(df: DataFrame, queries: DataFrame, k: int = 5, n_centroids: int = 16,
             nprobe: int = 4, id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", query_vec_col: str = "query_vec",
             seed: int = 42, train_iterations: int = 0) -> DataFrame:
    """IVF-style ANN: assign corpus vectors to centroids, probe the
    ``nprobe`` nearest centroids per query.

    ``train_iterations=0`` uses a deterministic hash-sample as
    centroids (cheap, assignment/probing shapes unchanged);
    ``train_iterations>0`` runs distributed Lloyd's k-means
    (kmeans_centroids) first — the proper index build for skewed
    embedding distributions.  The same code builds and probes an IVF
    index, so ``ivf_topk_from_index`` over ``build_ivf_index`` with
    equal ``n_centroids``/``train_iterations``/``seed`` returns these
    rows.
    """
    cent_list, cents = _ivf_model(df, n_centroids, id_col, vec_col,
                                  train_iterations, seed)
    probes = _ivf_probes(queries, cents, nprobe, query_id_col, query_vec_col)
    cells = _ivf_cells(df, cent_list, id_col, vec_col)
    return _exact_topk(probes.join(cells, "cid"), k)


def _ivf_model(df: DataFrame, n_centroids: int, id_col: str, vec_col: str,
               train_iterations: int, seed: int):
    """(centroid list, (cid, cvec) table) of an IVF index:
    ``kmeans_centroids``, whose ``iterations=0`` form is the seeded
    hash sample."""
    trained = kmeans_centroids(df, id_col, vec_col, n_centroids,
                               train_iterations, seed)
    return trained, local_df(df.sparkSession,
                             [(i, c) for i, c in enumerate(trained)],
                             "cid long, cvec array<double>")


def _ivf_cells(df: DataFrame, cent_list, id_col: str,
               vec_col: str) -> DataFrame:
    """(nbr_id, vb, cid, nb): every corpus vector cast to double, with
    its norm and its cell.  Assignment is MAP-ONLY
    (``with_nearest_centroid``: normalized-IP argmax ≡ cosine argmax,
    ties to the smallest cid — no crossJoin k× row amplification, no
    n·k sort-shuffle)."""
    corpus = _vectors(df, id_col, vec_col, "nbr_id", "vb", "nb")
    return (with_nearest_centroid(corpus, "vb", cent_list, metric="cosine")
            .select("nbr_id", "vb", "cid", "nb"))


def _ivf_probes(queries: DataFrame, cents: DataFrame, nprobe: int,
                query_id_col: str, query_vec_col: str) -> DataFrame:
    """(query_id, va, na, cid): each query with its ``nprobe`` nearest
    centroids by cosine; a tie goes to the smaller cid, the rule
    ``with_nearest_centroid`` assigns by."""
    from pyspark.sql import Window

    q = _vectors(queries, query_id_col, query_vec_col, "query_id", "va", "na")
    q_assigned = with_cosine(q.crossJoin(F.broadcast(cents)),
                             "va", "cvec", "csim")
    wq = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("cid"))
    return (q_assigned.withColumn("r", F.row_number().over(wq))
            .filter(F.col("r") <= nprobe).select("query_id", "va", "na", "cid"))


def build_ivf_index(df: DataFrame, path: str, n_centroids: int = 16,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    train_iterations: int = 5, seed: int = 42) -> None:
    """Build a persistent IVF index: train centroids (distributed
    Lloyd's), assign every corpus vector to its nearest centroid, and
    persist both as index tables under ``path``:

    - ``centroids``    — (cid, cvec)                (k rows)
    - ``assignments``  — (nbr_id, vb, nb, cid), PARTITIONED BY cid

    The cid partitioning is the point: serving a query batch probes
    ``nprobe`` centroids, and the ``cid IN (...)`` filter prunes to
    those partitions at the parquet scan — only nprobe/k of a 100 TB
    corpus is ever read. Build once, serve many query batches
    (``ivf_topk_from_index``) with no re-training or re-assignment.
    """
    trained, cents = _ivf_model(df, n_centroids, id_col, vec_col,
                                train_iterations, seed)
    # norms persist with the assignment — serving evaluates one dot per
    # probed pair
    IndexStore(df.sparkSession, path).write(
        {"centroids": cents.coalesce(1),
         "assignments": _ivf_cells(df, trained, id_col, vec_col)},
        {}, partition_by={"assignments": "cid"})


def load_ivf_index(spark, path: str):
    """(centroids, assignments) DataFrames of a ``build_ivf_index``
    output. Assignments keep their cid partitioning — filters on cid
    prune at the scan."""
    store = IndexStore(spark, path)
    return store.read("centroids"), store.read("assignments")


def ivf_topk_from_index(spark, path: str, queries: DataFrame, k: int = 5,
                        nprobe: int = 4, query_id_col: str = "query_id",
                        query_vec_col: str = "query_vec") -> DataFrame:
    """Serve top-k from a persisted IVF index — no training, no corpus
    re-assignment; the only non-scan work is Q×k centroid scoring and
    the probed-partition join.

    The probed cid set (≤ Q·nprobe literals, driver-side by
    construction since the query batch is small) is pushed into the
    assignments scan as an IN filter, so parquet partition pruning
    skips every unprobed centroid's files.
    """
    cents, assignments = load_ivf_index(spark, path)
    probes = _ivf_probes(queries, cents, nprobe, query_id_col, query_vec_col)
    probed_cids = [r["cid"] for r in probes.select("cid").distinct().collect()]
    pruned = assignments.filter(F.col("cid").isin(probed_cids))
    return _exact_topk(probes.join(pruned, "cid"), k)


def semantic_dedup_pairs(df: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         threshold: float = 0.95,
                         n_clusters: Optional[int] = None,
                         seed: int = 42,
                         train_iterations: int = 0,
                         max_cluster_size: Optional[int] = None,
                         pca_components: Optional[int] = None) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then compute exact
    pairwise cosine ONLY within each cluster — the all-pairs join is
    bounded by the largest cluster instead of the corpus, which is what
    makes embedding dedup tractable at web scale. Cross-cluster dups
    are missed by design (the paper's recall/cost trade-off).

    Scale defaults: ``n_clusters=None`` derives ``ceil(sqrt(n))`` (one
    count job), which keeps the expected within-cluster pair cost at
    ~n·sqrt(n)·d instead of quadratic, and arms the hot-cluster guard
    at 4× the expected cluster size. Pass an explicit ``n_clusters``
    (as the contract query does) to pin results for an oracle — the
    guard is then off unless ``max_cluster_size`` is given. A cluster
    larger than ``max_cluster_size`` is SPLIT into deterministic hash
    shards for the pair join (cost per shard ≤ cap²·d): every row still
    dedups against its shard-mates, cross-shard pairs inside the hot
    cluster are the sacrificed recall — the same trade the paper makes
    cross-cluster, applied once more within a pathological cluster.

    ``train_iterations=0`` uses deterministic md5-hash-sampled
    centroids (cid = rank in hash order — engine-portable, so the
    whole operator is oracle-checkable); ``>0`` runs distributed
    Lloyd's k-means first (kmeans_centroids).

    ``pca_components`` (round-9 composition of the round-8 PCA pair):
    fit ``embedding_pca`` on the corpus and run the WHOLE operator —
    clustering, assignment, pair cosine — in the reduced space.  Every
    within-pair dot drops from O(d) to O(pca_components) (a 1536→64
    projection is a 24× saving on the dominant pair stage); the cosine
    is then the reduced-space cosine, an approximation whose quality is
    exactly what ``ann_recall`` measures — on a low-rank corpus
    (signal ≪ d axes) recall stays ≈1, on isotropic noise you pay for
    what you drop.  Opt-in, defaults off; the fit itself is two O(n·d)
    passes.

    Returns (id_a, id_b, cid, cosine) with id_a < id_b, cosine ≥ τ.
    """
    import math

    from pyspark.sql import Window

    spark = df.sparkSession
    if pca_components is not None:
        model = embedding_pca(df, vec_col)
        df = pca_project(df, model, pca_components,
                         vec_col=vec_col, out_col="__pca_reduced")
        vec_col = "__pca_reduced"
    v = df.select(F.col(id_col).alias("id"),
                  F.transform(F.col(vec_col),
                              lambda x: x.cast("double")).alias("v"))
    if n_clusters is None:
        n_vecs = v.count()
        if n_vecs == 0:
            n_clusters = 1
        else:
            n_clusters = max(1, math.ceil(math.sqrt(n_vecs)))
            if max_cluster_size is None:
                # expected cluster ≈ sqrt(n); 4x headroom before the
                # shard guard engages on a genuinely hot cluster
                max_cluster_size = 4 * n_clusters
    if train_iterations > 0:
        cent_list = kmeans_centroids(df, id_col, vec_col, n_clusters,
                                     train_iterations, seed)
    else:
        # deterministic hash sample; TakeOrdered (bounded k×d collect),
        # cid = position in hash order so an oracle can reproduce it
        sample = (v.orderBy(F.md5(F.concat(F.lit(f"{seed}:"),
                                           F.col("id").cast("string"))), "id")
                   .limit(n_clusters).collect())
        cent_list = [list(r["v"]) for r in sample]

    # carry each vector's norm OUT of the pair join: norm work is then
    # O(n·d) instead of O(pairs·d) — the pair stage only computes the
    # dot. Same doubles as a per-pair norm (a row's norm is one number
    # however often it's read), so oracle parity is untouched.
    n_lits = len(cent_list) * (len(cent_list[0]) if cent_list else 0)
    if cent_list and n_lits <= _CENT_LITERAL_BUDGET:
        # r15 (guide §2.4 remove shuffles outright): assignment is a
        # pure function of the row and the k×d model, so it rides the
        # scan as a map-only argmax instead of materializing n×k
        # crossJoin rows and shuffling them through a per-id window
        # sort. The SCORE ARITHMETIC is kept bit-identical to the old
        # with_cosine form (dot(v,c) / (norm(v)·norm(c)), centroid
        # norm pre-folded in the same left-to-right IEEE order Spark's
        # _norm uses), and the (csim DESC, cid ASC) pick becomes
        # array_max over (s, -cid) structs — same winner on ties, and
        # a zero-norm row raises DIVIDE_BY_ZERO under ANSI mode on
        # both forms. Oversized models (k·d literals beyond the plan
        # budget) keep the crossJoin + window path below.
        entries = []
        for i, c in enumerate(cent_list):
            acc = 0.0
            for x in c:
                acc += float(x) * float(x)
            s = (_dot(F.col("v"), F.array(*[F.lit(float(x)) for x in c]))
                 / (_norm(F.col("v")) * F.lit(math.sqrt(acc))))
            entries.append(F.struct(
                s.alias("s"), F.lit(-i).alias("tb"),
                F.lit(i).cast("long").alias("cid")))
        assigned = v.select(
            "id", "v", F.array_max(F.array(*entries))["cid"].alias("cid"),
            _norm(F.col("v")).alias("nrm"))
    else:
        cents = local_df(
            spark, [(i, c) for i, c in enumerate(cent_list)],
            "cid long, cvec array<double>")
        scored = with_cosine(v.crossJoin(F.broadcast(cents)), "v", "cvec",
                             "csim")
        w = Window.partitionBy("id").orderBy(F.desc("csim"), F.asc("cid"))
        assigned = (scored.withColumn("r", F.row_number().over(w))
                    .filter(F.col("r") == 1)
                    .select("id", "v", "cid", _norm(F.col("v")).alias("nrm")))

    if max_cluster_size is not None:
        # hot-cluster guard: a cluster above the cap splits into
        # ceil(size/cap) deterministic hash shards; the pair join's key
        # becomes (cid, shard), bounding any single join group by ~cap.
        # Normal clusters get 1 shard — semantics unchanged for them.
        if max_cluster_size < 1:
            raise ValueError(
                f"max_cluster_size must be >= 1, got {max_cluster_size}")
        sizes = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("c_sz"))
        n_shards = F.greatest(
            F.lit(1).cast("bigint"),
            F.ceil(F.col("c_sz") / F.lit(max_cluster_size)).cast("bigint"))
        assigned = (assigned.join(F.broadcast(sizes), "cid")
                    .withColumn("shard",
                                F.pmod(F.xxhash64(F.col("id")), n_shards))
                    .drop("c_sz"))
    else:
        assigned = assigned.withColumn("shard", F.lit(0).cast("bigint"))

    a = assigned.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                        "cid", "shard", F.col("nrm").alias("na"))
    b = assigned.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                        "cid", "shard", F.col("nrm").alias("nb"))
    pairs = (a.join(b, ["cid", "shard"]).filter(F.col("id_a") < F.col("id_b"))
             .withColumn("cosine",
                         _dot(F.col("va"), F.col("vb")) /
                         (F.col("na") * F.col("nb"))))
    return (pairs.filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cid",
                    F.round("cosine", 6).alias("cosine")))


def semantic_dedup(df: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", threshold: float = 0.95,
                   n_clusters: Optional[int] = None, seed: int = 42,
                   train_iterations: int = 0,
                   max_cluster_size: Optional[int] = None,
                   pca_components: Optional[int] = None) -> DataFrame:
    """Keep-one semantic dedup: cluster-bounded near-pairs →
    connected components → keep the min id per component
    (curation.dedup_by_components). Returns the surviving rows of
    ``df`` (all columns, ORIGINAL vectors — ``pca_components`` only
    accelerates the pair stage, see semantic_dedup_pairs). Scale
    defaults as semantic_dedup_pairs."""
    from .curation import dedup_by_components

    pairs = semantic_dedup_pairs(df, id_col, vec_col, threshold,
                                 n_clusters, seed, train_iterations,
                                 max_cluster_size, pca_components)
    return dedup_by_components(df, pairs, id_col=id_col)


def ann_recall(approx: DataFrame, exact: DataFrame,
               query_id_col: str = "query_id",
               neighbor_col: str = "nbr_id") -> DataFrame:
    """Recall@k per query: the fraction of the EXACT top-k neighbors
    that the approximate index also returned — the number a user
    tuning nprobe / LSH bands / bucket counts actually optimizes
    (cosine_topk is the exact side, ivf_topk / lsh paths the approx
    side; any (query_id, nbr_id) frames work).

    Returns one row per query (k_exact, hits, recall) plus the
    aggregate the caller usually wants via
    ``.agg(F.avg("recall"))``. Both inputs are k-bounded per query by
    construction, so the join is |queries|·k rows at any corpus size;
    duplicate approx rows are collapsed so a bucketed path that emits
    a neighbor twice cannot inflate recall."""
    e = exact.select(F.col(query_id_col).alias("__q"),
                     F.col(neighbor_col).alias("__n"))
    a = (approx.select(F.col(query_id_col).alias("__q"),
                       F.col(neighbor_col).alias("__n"))
               .distinct().withColumn("__hit", F.lit(1)))
    j = e.join(a, ["__q", "__n"], "left")
    return (j.groupBy(F.col("__q").alias(query_id_col))
             .agg(F.count(F.lit(1)).alias("k_exact"),
                  F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("hits"))
             .withColumn("recall",
                         F.round(F.col("hits") / F.col("k_exact"), 6))
             .orderBy(query_id_col))


def embedding_centroid_drift(ref: DataFrame, cur: DataFrame,
                             vec_col: str = "embedding") -> DataFrame:
    """Embedding-distribution drift between two snapshots, summarized
    by their centroids: one row of (n_ref, n_cur, dim,
    centroid_cosine, norm_ratio) where ``norm_ratio`` is the ratio of
    the CENTROID norms ‖mean(cur)‖ / ‖mean(ref)‖ (1 for same scale
    AND same internal alignment; it is not the mean per-vector norm).

    The standard cheap monitor for "did the upstream encoder change /
    did the content distribution move?": a re-trained or re-versioned
    encoder shifts the mean vector (cosine drops) and often its scale
    (norm ratio leaves 1); topic drift moves the centroid with norms
    intact.  Complements the scalar drift family (PSI/KS/W1 act on
    one numeric column; this acts on the vector column those can't
    see).  Near-orthogonal centroid_cosine on high-dim corpora is the
    strong alarm; healthy same-encoder snapshots sit > 0.99.

    Scale: each side reduces to ONE d-length array in a single pass
    (element-wise sums via posexplode → (pos)-keyed partial agg — the
    d-row shuffle is the whole exchange) plus a scalar mean-norm agg
    riding the same explode.  No pairwise anything; rounds to 6 for
    engine parity.
    """
    def centroid(df, tag):
        ex = (df.filter(F.col(vec_col).isNotNull())
                .select(F.posexplode(vec_col).alias("pos", "x")))
        return (ex.groupBy("pos")
                  .agg(F.sum("x").alias(f"s_{tag}"),
                       F.count(F.lit(1)).alias(f"n_{tag}")))

    j = (centroid(ref, "r").join(centroid(cur, "c"), "pos", "full_outer")
         .select("pos",
                 F.coalesce("s_r", F.lit(0.0)).alias("s_r"),
                 F.coalesce("s_c", F.lit(0.0)).alias("s_c"),
                 F.coalesce("n_r", F.lit(0)).alias("n_r"),
                 F.coalesce("n_c", F.lit(0)).alias("n_c")))
    # per-dimension means; n_r/n_c are per-dimension row counts (equal
    # across pos for fixed-dim corpora — max is the row count)
    agg = j.agg(
        F.max("n_r").alias("n_ref"),
        F.max("n_c").alias("n_cur"),
        F.count(F.lit(1)).alias("dim"),
        F.sum((F.col("s_r") / F.greatest("n_r", F.lit(1)))
              * (F.col("s_c") / F.greatest("n_c", F.lit(1)))).alias("dot"),
        F.sqrt(F.sum(F.pow(F.col("s_r") / F.greatest("n_r", F.lit(1)), 2)))
         .alias("nr"),
        F.sqrt(F.sum(F.pow(F.col("s_c") / F.greatest("n_c", F.lit(1)), 2)))
         .alias("nc"))
    return agg.select(
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
        F.col("dim").cast("int").alias("dim"),
        F.when((F.col("nr") > 0) & (F.col("nc") > 0),
               F.round(F.col("dot") / (F.col("nr") * F.col("nc")), 6))
         .alias("centroid_cosine"),
        F.when(F.col("nr") > 0,
               F.round(F.col("nc") / F.col("nr"), 6)).alias("norm_ratio"))


def embedding_pca(df: DataFrame, vec_col: str = "embedding"):
    """Distributed PCA fit over an embedding column: TWO Arrow-batched
    passes.  Pass 1 accumulates (n, Σx) per batch to get the global
    mean; pass 2 accumulates the CENTERED Gram Σ(x−µ)ᵀ(x−µ) per batch —
    each batch emits a single d- or d²-length row, so the driver
    reduces #batches small rows into one d×d covariance (d = embedding
    width, e.g. 64/768/1536 — always tiny next to n) and runs the
    eigendecomposition locally.

    Why two passes: the one-pass identity E[xxᵀ] − µµᵀ cancels
    catastrophically when embedding means are large relative to the
    variance (common for un-normalized encoder outputs) and silently
    degrades components behind the eigenvalue clamp; centering before
    the Gram accumulation keeps every partial at variance magnitude
    (round-8 advice).  The extra corpus scan is the textbook price of a
    stable covariance — still nothing wider than d² crosses the wire.

    Returns a plain-dict model: ``mean`` (d), ``components`` (rows =
    principal axes, descending eigenvalue, sign-fixed so each row's
    largest-|x| entry is positive — deterministic), ``explained_variance``
    and ``explained_variance_ratio``.  NULL vectors are ignored.

    This is the classical scale shape for PCA (covariance method): the
    corpus is touched once, nothing wider than d² crosses the wire,
    and no iterative solver runs on the cluster.  Pairs with
    ``pca_project`` for dimensionality reduction / whitening ahead of
    the cosine dedup and ANN stages (a 1536-dim corpus projected to
    64 dims cuts every downstream pair/probe dot by 24×).
    """
    import numpy as np
    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   StructField, StructType)

    mean_schema = StructType([
        StructField("n", LongType()),
        StructField("s", ArrayType(DoubleType())),
    ])
    gram_schema = StructType([
        StructField("g", ArrayType(DoubleType())),
    ])

    def partial_mean(batches):
        import pandas as pd
        for pdf in batches:
            vecs = pdf[vec_col].dropna()
            if vecs.empty:
                continue
            x = np.array(vecs.tolist(), dtype=np.float64)
            yield pd.DataFrame({
                "n": [x.shape[0]],
                "s": [x.sum(axis=0).tolist()],
            })

    src = df.select(vec_col)
    parts = src.mapInPandas(partial_mean, mean_schema).collect()
    if not parts:
        raise ValueError(f"embedding_pca: no non-null vectors in {vec_col}")
    n = sum(r["n"] for r in parts)
    s = np.sum([np.array(r["s"]) for r in parts], axis=0)
    d = s.shape[0]
    mean = s / n

    def partial_gram(batches):
        import pandas as pd
        for pdf in batches:
            vecs = pdf[vec_col].dropna()
            if vecs.empty:
                continue
            x = np.array(vecs.tolist(), dtype=np.float64) - mean
            yield pd.DataFrame({"g": [(x.T @ x).ravel().tolist()]})

    gparts = src.mapInPandas(partial_gram, gram_schema).collect()
    g = np.sum([np.array(r["g"]).reshape(d, d) for r in gparts], axis=0)
    cov = g / n
    evals, evecs = np.linalg.eigh(cov)          # ascending
    order = np.argsort(evals)[::-1]
    evals, evecs = np.maximum(evals[order], 0.0), evecs[:, order]
    comps = evecs.T                             # rows = components
    # deterministic sign: the largest-|x| entry of each row positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    total = float(evals.sum()) or 1.0
    return {
        "n": int(n),
        "mean": mean.tolist(),
        "components": comps.tolist(),
        "explained_variance": evals.tolist(),
        "explained_variance_ratio": (evals / total).tolist(),
    }


def pca_project(df: DataFrame, model, n_components: int,
                vec_col: str = "embedding", out_col: str = "pca",
                whiten: bool = False) -> DataFrame:
    """Project the embedding column onto the model's top
    ``n_components`` axes — pure JVM codegen (the centered vector
    materializes ONCE as a projected attribute; each output component
    is one zip_with/aggregate dot against a literal axis), no Python
    on the hot path.  ``whiten=True`` scales each component by
    1/√eigenvalue (unit variance — the input cosine-dedup/ANN stages
    prefer); a zero-variance axis whitens to 0, not inf.  NULL vectors
    project to NULL.
    """
    comps = model["components"][:n_components]
    if len(comps) < n_components:
        raise ValueError(
            f"model has {len(comps)} components, asked for {n_components}")
    mean = model["mean"]
    centered = F.zip_with(
        F.col(vec_col).cast("array<double>"),
        F.array(*[F.lit(float(m)) for m in mean]),
        lambda x, m: x - m)
    tmp = "__pca_centered"
    out = df.withColumn(tmp, centered)
    dots = []
    for i, comp in enumerate(comps):
        dot = F.aggregate(
            F.zip_with(F.col(tmp),
                       F.array(*[F.lit(float(c)) for c in comp]),
                       lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x)
        if whiten:
            ev = float(model["explained_variance"][i])
            dot = dot * F.lit(1.0 / (ev ** 0.5) if ev > 0 else 0.0)
        dots.append(dot)
    return out.withColumn(
        out_col,
        F.when(F.col(vec_col).isNotNull(), F.array(*dots))).drop(tmp)


def pq_train(df: DataFrame, vec_col: str = "embedding", m: int = 8,
             k: int = 256, sample_size: int = 10000, iters: int = 10,
             seed: int = 42):
    """Product-quantization codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split each d-dim vector
    into ``m`` contiguous sub-vectors and learn a ``k``-word codebook
    per subspace — a vector then stores as m small codes (m bytes at
    k=256) instead of d floats: 64× compression for d=64 float64, the
    difference between an embedding corpus that fits in executor memory
    and one that doesn't.

    Training follows the FAISS convention: Lloyd's k-means per subspace
    on a DETERMINISTIC md5-sampled subset collected to the driver
    (codebooks need ~k·40 samples, never the corpus — the corpus-scale
    passes are encode and search, not fit).  Deterministic for a given
    (seed, corpus): the sample is md5-ordered and the init is seeded.

    Returns a plain-dict model: m, k, d, sub_dim,
    ``codebooks`` (m × k × sub_dim nested lists).
    """
    import numpy as np

    sample_rows = (df.select(vec_col)
                     .filter(F.col(vec_col).isNotNull())
                     .orderBy(F.md5(F.concat(
                         F.lit(f"{seed}:"),
                         F.col(vec_col).cast("string"))))
                     .limit(sample_size).collect())
    if not sample_rows:
        raise ValueError(f"pq_train: no non-null vectors in {vec_col}")
    x = np.array([list(r[vec_col]) for r in sample_rows], dtype=np.float64)
    n, d = x.shape
    if d % m != 0:
        raise ValueError(f"pq_train: dim {d} not divisible by m={m}")
    if k > n:
        raise ValueError(
            f"pq_train: k={k} exceeds the {n}-vector training sample — "
            f"lower k or raise sample_size")
    sub = d // m
    rng = np.random.default_rng(seed)
    codebooks = []
    for j in range(m):
        xs = x[:, j * sub:(j + 1) * sub]
        cents = xs[rng.choice(n, size=k, replace=False)].copy()
        for _ in range(iters):
            # (n, k) squared distances via the expansion trick
            d2 = ((xs ** 2).sum(1)[:, None] - 2.0 * xs @ cents.T
                  + (cents ** 2).sum(1)[None, :])
            assign = d2.argmin(1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cents[c] = xs[mask].mean(0)
                else:                     # empty cluster: reseed
                    cents[c] = xs[rng.integers(0, n)]
        codebooks.append(cents.tolist())
    return {"m": m, "k": k, "d": d, "sub_dim": sub,
            "codebooks": codebooks}


def pq_encode(df: DataFrame, model, id_col: str = "vec_id",
              vec_col: str = "embedding", out_col: str = "pq_code",
              carry_cols: tuple = ()) -> DataFrame:
    """Encode every non-null vector to its m nearest-codeword indices —
    the corpus-scale pass, Arrow-batched with the argmin vectorized in
    numpy over the whole batch (one (batch, k) distance matrix per
    subspace; no per-row Python).  Output is (id, *carry_cols,
    pq_code array<int>); the original vectors are no longer needed
    downstream, which is the point.  ``carry_cols`` pass through
    untouched (IVF-PQ carries the coarse cell id this way)."""
    import numpy as np
    from pyspark.sql.types import (ArrayType, IntegerType, LongType,
                                   StructField, StructType)

    books = [None]  # lazily materialized numpy codebooks per executor
    m, sub = model["m"], model["sub_dim"]
    in_fields = {f.name: f for f in df.schema.fields}
    schema = StructType(
        [StructField(id_col, LongType())]
        + [in_fields[c] for c in carry_cols]
        + [StructField(out_col, ArrayType(IntegerType()))])

    def encode(batches):
        import pandas as pd
        if books[0] is None:
            books[0] = [np.array(cb, dtype=np.float64)
                        for cb in model["codebooks"]]
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if pdf.empty:
                continue
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.empty((x.shape[0], m), dtype=np.int32)
            for j in range(m):
                xs = x[:, j * sub:(j + 1) * sub]
                cb = books[0][j]
                d2 = ((xs ** 2).sum(1)[:, None] - 2.0 * xs @ cb.T
                      + (cb ** 2).sum(1)[None, :])
                codes[:, j] = d2.argmin(1)
            out = {id_col: pdf[id_col].values}
            for c in carry_cols:
                out[c] = pdf[c].values
            out[out_col] = list(codes.tolist())
            yield pd.DataFrame(out)

    return df.select(id_col, *carry_cols, vec_col).mapInPandas(encode, schema)


def pq_topk(codes: DataFrame, queries: DataFrame, model, k: int = 5,
            id_col: str = "vec_id", code_col: str = "pq_code",
            query_id_col: str = "query_id",
            query_vec_col: str = "query_vec") -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query
    precomputes an (m × k) lookup table of sub-dot-products against the
    codebooks, so scoring a corpus vector is m table reads + adds —
    never a d-wide dot.  Approximate cosine: the numerator is
    dot(query, reconstruction) and the denominator uses the
    reconstruction's norm (from per-code sub-norms), both exact w.r.t.
    the quantized vector; quality is what ``ann_recall`` measures
    against ``cosine_topk``.

    Scale shape: the bounded query set collects driver-side (same
    contract as cosine_topk's broadcast side), LUTs ship in the Arrow
    closure, each batch emits only its own per-query top-k (k rows per
    query per batch — the shuffle is |queries|·k·#batches rows, never
    the corpus), and a partitioned window takes the global top-k.
    Returns (query_id, nbr_id, score), score descending per query.
    """
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    q_rows = queries.select(query_id_col, query_vec_col).collect()
    if not q_rows:
        raise ValueError("pq_topk: empty query set")
    m, sub = model["m"], model["sub_dim"]
    books = [np.array(cb, dtype=np.float64) for cb in model["codebooks"]]
    sn2 = np.stack([(cb ** 2).sum(1) for cb in books])      # (m, k) ‖code‖²
    q_ids, luts, q_norms = [], [], []
    for r in q_rows:
        q = np.array(list(r[query_vec_col]), dtype=np.float64)
        q_ids.append(r[query_id_col])
        luts.append(np.stack([
            books[j] @ q[j * sub:(j + 1) * sub] for j in range(m)]))
        q_norms.append(float(np.sqrt((q * q).sum())))

    schema = StructType([
        StructField(query_id_col, LongType()),
        StructField("nbr_id", LongType()),
        StructField("score", DoubleType()),
    ])

    def score(batches):
        import pandas as pd
        cols = np.arange(m)
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].values
            c = np.array(pdf[code_col].tolist(), dtype=np.int64)  # (n, m)
            rn = np.sqrt(sn2[cols, c].sum(1))                     # (n,)
            out = []
            for qi, lut, qn in zip(q_ids, luts, q_norms):
                dots = lut[cols, c].sum(1)                        # (n,)
                denom = qn * rn
                s = np.where(denom > 0, dots / denom, 0.0)
                top = np.argsort(-s)[:k]                # batch-local top-k
                out.append(pd.DataFrame({query_id_col: qi,
                                         "nbr_id": ids[top],
                                         "score": s[top]}))
            yield pd.concat(out, ignore_index=True)

    cand = codes.select(id_col, code_col).mapInPandas(score, schema)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"),
                                                 F.asc("nbr_id"))
    return (cand.withColumn("__r", F.row_number().over(w))
                .filter(F.col("__r") <= k).drop("__r")
                .orderBy(query_id_col, F.desc("score"), "nbr_id"))


def ivfpq_build(df: DataFrame, id_col: str = "vec_id",
                vec_col: str = "embedding", n_centroids: int = 16,
                m: int = 8, pq_k: int = 256, train_iterations: int = 4,
                sample_size: int = 10000, iters: int = 10,
                seed: int = 42):
    """IVF-PQ index build (the FAISS production architecture, Jégou et
    al. 2011 §IV): distributed Lloyd's coarse centroids partition the
    corpus into cells, and a PQ codebook is trained on the RESIDUALS
    (x − centroid) — residuals concentrate near the origin, so the same
    codebook budget quantizes them far more finely than raw vectors.

    Returns ``(codes_df, model)``: codes_df is (id, cid, pq_code) — m
    small ints + a cell id per vector, the entire serving state; model
    is {"centroids", "pq"}.  Scale shape: centroids train without
    collecting vectors (kmeans_centroids), the residual projection is
    JVM zip_with against the broadcast centroid table, and the PQ fit
    samples ≤ sample_size residuals to the driver (FAISS convention).

    Cell assignment uses the SAME metric the search side probes with —
    raw inner product against the centroids (``ivfpq_topk`` orders
    probe cells by ``cents @ q`` and decomposes the ADC score as
    dot(q, centroid) + dot(q, residual)).  Assigning by cosine while
    probing by inner product would let a vector land in a cell the
    probe geometry never ranks first, degrading recall beyond what
    nprobe accounts for (FAISS uses one metric for both sides).
    The assignment itself is map-only (``with_nearest_centroid``) and
    the residual subtraction joins the broadcast centroid table on cid
    — a broadcast hash join, so the whole build up to the PQ fit is
    shuffle-free.
    """
    spark = df.sparkSession
    cents = kmeans_centroids(df, id_col, vec_col, n_centroids,
                             train_iterations, seed)
    cdf = F.broadcast(local_df(
        spark, [(i, c) for i, c in enumerate(cents)],
        "cid long, cvec array<double>"))
    v = df.select(F.col(id_col).alias("id"),
                  F.transform(F.col(vec_col),
                              lambda x: x.cast("double")).alias("v"))
    resid = (with_nearest_centroid(v, "v", cents, metric="ip")
             .join(cdf, "cid")
             .select("id", "cid",
                     F.zip_with("v", "cvec",
                                lambda x, c: x - c).alias("__resid")))
    pq = pq_train(resid, vec_col="__resid", m=m, k=pq_k,
                  sample_size=sample_size, iters=iters, seed=seed)
    codes = pq_encode(resid, pq, id_col="id", vec_col="__resid",
                      carry_cols=("cid",))
    return codes, {"centroids": cents, "pq": pq}


def ivfpq_topk(codes: DataFrame, queries: DataFrame, model, k: int = 5,
               nprobe: int = 4, id_col: str = "id",
               code_col: str = "pq_code",
               query_id_col: str = "query_id",
               query_vec_col: str = "query_vec") -> DataFrame:
    """IVF-PQ ADC search: probe each query's ``nprobe`` nearest coarse
    cells; within a probed cell, score = dot(q, centroid) + the
    residual lookup-table sum — m table reads + adds per candidate,
    never a d-wide dot, over only the probed cells' rows.

    Scores are INNER PRODUCTS (the FAISS IndexIVFPQ/IP convention):
    L2-normalize vectors upstream when cosine ranking is wanted.
    ``ivfpq_build`` assigns cells by the same inner-product metric, so
    the probe geometry matches the build geometry.
    Returns (query_id, nbr_id, score); quality is what ``ann_recall``
    measures, tuned by nprobe exactly like ``ivf_topk``.

    Scale shape: the bounded query set and its per-cell LUTs ship in
    the Arrow closure; the probe is a partition-pruning filter on cid
    (with a cid-partitioned codes table — build_ivf_index's layout —
    only probed directories are read), and each batch emits per-query
    top-k so the final shuffle is |queries|·k·#batches rows."""
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    q_rows = queries.select(query_id_col, query_vec_col).collect()
    if not q_rows:
        raise ValueError("ivfpq_topk: empty query set")
    pq = model["pq"]
    m, sub = pq["m"], pq["sub_dim"]
    cents = np.array(model["centroids"], dtype=np.float64)
    books = [np.array(cb, dtype=np.float64) for cb in pq["codebooks"]]

    q_ids, probes, luts, base = [], [], [], []
    for r in q_rows:
        q = np.array(list(r[query_vec_col]), dtype=np.float64)
        cd = cents @ q                                  # (n_centroids,)
        order = np.argsort(-cd)[:nprobe]
        q_ids.append(r[query_id_col])
        probes.append(set(int(c) for c in order))
        luts.append(np.stack([books[j] @ q[j * sub:(j + 1) * sub]
                              for j in range(m)]))
        base.append({int(c): float(cd[c]) for c in order})

    probed_all = sorted(set().union(*probes))
    schema = StructType([
        StructField(query_id_col, LongType()),
        StructField("nbr_id", LongType()),
        StructField("score", DoubleType()),
    ])

    def score(batches):
        import pandas as pd
        cols = np.arange(m)
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].values
            cid = pdf["cid"].to_numpy(dtype=np.int64)
            c = np.array(pdf[code_col].tolist(), dtype=np.int64)
            out = []
            for qi, pset, lut, b in zip(q_ids, probes, luts, base):
                mask = np.isin(cid, list(pset))
                if not mask.any():
                    continue
                resid_dot = lut[cols, c[mask]].sum(1)
                cent_dot = np.array([b[int(x)] for x in cid[mask]])
                s = cent_dot + resid_dot
                top = np.argsort(-s)[:k]
                out.append(pd.DataFrame({query_id_col: qi,
                                         "nbr_id": ids[mask][top],
                                         "score": s[top]}))
            if out:
                yield pd.concat(out, ignore_index=True)

    cand = (codes.filter(F.col("cid").isin(probed_all))
                 .select(id_col, "cid", code_col)
                 .mapInPandas(score, schema))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"),
                                                 F.asc("nbr_id"))
    return (cand.withColumn("__r", F.row_number().over(w))
                .filter(F.col("__r") <= k).drop("__r")
                .orderBy(query_id_col, F.desc("score"), "nbr_id"))


def ivfpq_topk_refined(df: DataFrame, codes: DataFrame, queries: DataFrame,
                       model, k: int = 5, nprobe: int = 4,
                       refine_factor: int = 4, id_col: str = "vec_id",
                       vec_col: str = "embedding", code_col: str = "pq_code",
                       codes_id_col: str = "id",
                       query_id_col: str = "query_id",
                       query_vec_col: str = "query_vec") -> DataFrame:
    """IVF-PQ search with an exact re-rank stage (the FAISS
    ``IndexIVFPQ`` + ``IndexRefineFlat`` production pattern, Jégou et
    al. 2011 §V): the compressed index shortlists ``refine_factor·k``
    candidates per query via ADC, then the shortlist alone is re-scored
    against the RAW vectors with exact cosine and the true top-k taken.
    Quantization error caps PQ recall — two cluster mates can share a
    code and tie — but the shortlist almost always CONTAINS the true
    neighbors, so exact re-ranking of k′ = refine_factor·k candidates
    recovers ≈exact recall at a tiny extra cost.

    Scale shape: the re-rank never rescans the corpus — the candidate
    id set (|queries|·k′ rows) broadcasts into a hash join against the
    raw-vector table, so one map-side-pruned pass over ``df`` yields
    the ≤|queries|·k′ candidate vectors; the exact cosine then runs on
    that bounded set only. Serving cost ≈ ADC search + one broadcast
    join; the raw vectors are read, never shuffled.

    Returns (query_id, nbr_id, cosine, rank) — the same schema as
    ``cosine_topk``, so ``ann_recall`` compares either directly.
    """
    cand = ivfpq_topk(codes, queries, model, k=max(k, refine_factor * k),
                      nprobe=nprobe, id_col=codes_id_col, code_col=code_col,
                      query_id_col=query_id_col,
                      query_vec_col=query_vec_col)
    corpus = _vectors(df, id_col, vec_col, "nbr_id", "vb", "nb")
    q = _vectors(queries, query_id_col, query_vec_col, "query_id", "va", "na")
    shortlist = (corpus
                 .join(F.broadcast(cand.select(
                     F.col(query_id_col).alias("query_id"), "nbr_id")),
                     "nbr_id")
                 .join(F.broadcast(q), "query_id"))
    return _exact_topk(shortlist, k).orderBy("query_id", "rank")


def build_ivfpq_index(df: DataFrame, path: str, id_col: str = "vec_id",
                      vec_col: str = "embedding", n_centroids: int = 16,
                      m: int = 8, pq_k: int = 256,
                      train_iterations: int = 4, sample_size: int = 10000,
                      iters: int = 10, seed: int = 42) -> None:
    """Persist an IVF-PQ index (the compressed sibling of
    ``build_ivf_index``) under ``path``:

    - params ``model`` — coarse centroids + residual PQ codebooks
      (k·d + m·pq_k·(d/m) floats — always tiny)
    - ``codes`` — (id, pq_code), PARTITIONED BY cid

    Same serving economics as the IVF index's partition pruning, but
    each row stores m small ints instead of d floats + a norm — the
    index for the corpus whose raw vectors don't fit the cluster.
    Build once, serve many query batches (``ivfpq_topk_from_index``).
    """
    codes, model = ivfpq_build(df, id_col, vec_col, n_centroids, m, pq_k,
                               train_iterations, sample_size, iters, seed)
    IndexStore(df.sparkSession, path).write(
        {"codes": codes}, {"model": model}, partition_by={"codes": "cid"})


def load_ivfpq_index(spark, path: str):
    """(codes_df, model) of a ``build_ivfpq_index`` output.  Codes keep
    their cid partitioning — filters on cid prune at the scan."""
    store = IndexStore(spark, path)
    return store.read("codes"), store.params["model"]


def ivfpq_topk_from_index(spark, path: str, queries: DataFrame, k: int = 5,
                          nprobe: int = 4, query_id_col: str = "query_id",
                          query_vec_col: str = "query_vec") -> DataFrame:
    """Serve ADC top-k from a persisted IVF-PQ index: the probed cid
    set is known driver-side before any scan (centroid scoring happens
    against the model JSON), so the ``cid IN (...)`` filter inside
    ``ivfpq_topk`` lands on the partitioned codes layout as parquet
    PARTITION PRUNING — only nprobe/k of the code files are read, and
    each of those rows is m ints, not d floats."""
    codes, model = load_ivfpq_index(spark, path)
    return ivfpq_topk(codes, queries, model, k=k, nprobe=nprobe,
                      query_id_col=query_id_col,
                      query_vec_col=query_vec_col)


def semantic_contamination(train_df: DataFrame, eval_df: DataFrame,
                           threshold: float = 0.8,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           eval_id_col: str = "vec_id",
                           eval_vec_col: str = "embedding") -> DataFrame:
    """Embedding-level benchmark decontamination — the SEMANTIC tier of
    the decontamination stack (exact-hash → Bloom → n-gram overlap →
    this): a training vector is contaminated when its cosine similarity
    to ANY benchmark/eval vector reaches ``threshold`` — catching
    paraphrases and translations that n-gram overlap misses (the
    GPT-3/PaLM-style embedding dedup-against-eval step).

    Returns one row per contaminated training vector: (train_id,
    eval_id of the nearest benchmark item — ties broken to the smallest
    id, cosine rounded 6).  Feed the ids to an anti-join to drop them.

    Scale shape: the BENCHMARK side broadcasts (eval suites are
    thousands of rows, bounded by construction — the opposite
    orientation from ``cosine_topk``, which broadcasts queries); the
    training side streams map-only through |train| × |eval| fused dot
    products with per-side norms hoisted, then ONE partial-aggregated
    max per train id.  No shuffle of vectors, no window, no pairs
    table — the contaminated subset is the only thing that leaves the
    map stage beyond the groupBy of (id, best-struct) partials.

    The threshold applies to the ROUNDED cosine so inclusion is
    reproducible across engines (raw last-ulp noise cannot flip
    membership).
    """
    if not -1.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [-1, 1], got {threshold}")
    from .dedup import spread
    train = (spread(train_df, id_col)
             .select(F.col(id_col).alias("train_id"),
                     F.transform(F.col(vec_col),
                                 lambda x: x.cast("double")).alias("vt")))
    train = train.withColumn("nt", _norm(F.col("vt")))
    ev = (eval_df.select(F.col(eval_id_col).alias("eval_id"),
                         F.transform(F.col(eval_vec_col),
                                     lambda x: x.cast("double")).alias("ve"))
          .withColumn("ne", _norm(F.col("ve"))))
    scored = (train.crossJoin(F.broadcast(ev))
              .withColumn("cosine",
                          F.round(_dot(F.col("vt"), F.col("ve")) /
                                  (F.col("nt") * F.col("ne")), 6)))
    from pyspark.sql.types import NumericType
    eval_id_type = {f.name: f.dataType for f in eval_df.schema}
    is_numeric = isinstance(eval_id_type.get(eval_id_col), NumericType)
    if is_numeric:
        # argmax via struct max: (cosine, -eval_id) so cosine ties break
        # to the SMALLEST eval id deterministically — map-side combined,
        # no shuffle of anything but (id, struct) partials
        best = (scored.groupBy("train_id")
                .agg(F.max(F.struct(F.col("cosine"),
                                    (-F.col("eval_id")).alias("neg_id")))
                     .alias("b"))
                .select("train_id",
                        (-F.col("b.neg_id")).cast("bigint").alias("eval_id"),
                        F.col("b.cosine").alias("cosine")))
    else:
        # non-numeric eval ids can't negate (it would silently yield
        # NULL and break the tie-break) — rank instead: same argmax,
        # smallest-id tie-break, at the cost of a per-train-id sort
        from pyspark.sql import Window
        w = Window.partitionBy("train_id").orderBy(
            F.desc("cosine"), F.asc("eval_id"))
        best = (scored.withColumn("__r", F.row_number().over(w))
                .filter(F.col("__r") == 1)
                .select("train_id", "eval_id", "cosine"))
    return best.filter(F.col("cosine") >= float(threshold))


class SemanticContaminationConstraint(Constraint):
    """``has_low_semantic_contamination``: the fraction of training
    vectors whose cosine to ANY benchmark vector reaches
    ``cosine_threshold`` must stay within ``max_doc_ratio`` (default 0
    — a release gate).  The check-level form of
    ``semantic_contamination``, completing the decontamination gate
    pair: ``has_low_contamination`` catches verbatim n-gram overlap,
    this catches paraphrases/translations the lexical tier misses.

    Self-executing (needs the eval DataFrame) like the drift and
    n-gram contamination constraints; the job is the operator's
    broadcast-eval map-only scan + one count — the denominator rides
    the same pass via a count over the training side."""

    name = "low_semantic_contamination"

    def __init__(self, eval_df: DataFrame, cosine_threshold: float = 0.8,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 eval_id_col: str = "vec_id",
                 eval_vec_col: str = "embedding",
                 max_doc_ratio: float = 0.0):
        if not -1.0 <= cosine_threshold <= 1.0:
            raise ValueError(
                f"cosine_threshold must be in [-1,1], got {cosine_threshold}")
        if not 0.0 <= max_doc_ratio <= 1.0:
            raise ValueError(
                f"max_doc_ratio must be in [0,1], got {max_doc_ratio}")
        from ..functions.security import validate_identifier
        self.eval_df = eval_df
        self.cosine_threshold = float(cosine_threshold)
        self.id_col = validate_identifier(id_col)
        self.vec_col = validate_identifier(vec_col)
        self.eval_id_col = validate_identifier(eval_id_col)
        self.eval_vec_col = validate_identifier(eval_vec_col)
        self.max_doc_ratio = float(max_doc_ratio)

    def evaluate(self, ctx):
        from ..core.result import ConstraintResult
        cur = ctx.df(self.table)
        hits = semantic_contamination(
            cur, self.eval_df, self.cosine_threshold, self.id_col,
            self.vec_col, self.eval_id_col, self.eval_vec_col)
        bad = hits.count()
        n = cur.filter(F.col(self.vec_col).isNotNull()).count()
        if n == 0:
            return self._finish(ConstraintResult.skipped(
                "low_semantic_contamination: no vectors"))
        ratio = bad / n
        if ratio <= self.max_doc_ratio:
            return self._finish(ConstraintResult.success(ratio))
        return self._finish(ConstraintResult.failure(
            ratio, f"low_semantic_contamination: {bad}/{n} training "
                   f"vectors reach cosine {self.cosine_threshold} to a "
                   f"benchmark vector (ratio {ratio:.4f} > max "
                   f"{self.max_doc_ratio})"))


def knn_label_agreement(df: DataFrame, k: int = 3,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        label_col: str = "label",
                        method: str = "exact",
                        candidate_pairs: Optional[DataFrame] = None,
                        n_planes: int = 8, seed: str = "term",
                        dim: Optional[int] = None,
                        n_centroids: int = 16,
                        train_iterations: int = 2,
                        kmeans_seed: int = 42) -> DataFrame:
    """Label-noise screen over a labeled embedding table (the
    Confident-Learning-style geometry check): for every vector, the
    fraction of its k nearest neighbors (cosine, excluding itself)
    sharing its label, rolled up per label — (label, n,
    mean_agreement).  Healthy labels cluster (agreement >> 1/|labels|);
    agreement AT ~1/|labels| means labels are uncorrelated with the
    embedding geometry (random/corrupted labeling), and a single label
    far below its peers is the classic annotation-noise signature.

    Candidate sources (round 12 — the scale path is a CODE path, not
    prose):

    - ``method="exact"``: all-pairs self-join + per-vector top-k
      window — the evaluation baseline, same contract as
      ``cosine_topk``.  n² pairs: small-n only.
    - ``method="lsh"``: neighbors ranked only within each vector's
      random-hyperplane bucket (``lsh_bucket`` — md5-seeded planes,
      deterministic) — ONE equi-join on the bucket key, no cartesian;
      the semantic_dedup scale pattern.
    - ``method="ivf"``: neighbors ranked within each vector's nearest
      k-means cell (``kmeans_centroids`` + map-only
      ``with_nearest_centroid``) — one equi-join on cid.
    - ``candidate_pairs``: bring-your-own undirected (id_a, id_b)
      pairs (e.g. ``lsh_neardup_pairs`` / ``minhash_lsh_candidates``
      output); they are symmetrized and ranked the same way.

    All paths share the exact ranking and rollup: per vector, top-k
    candidates by (cosine DESC, neighbor id ASC); agreement divides by
    the number of neighbors actually ranked (= k whenever ≥ k
    candidates exist — always true for exact on n > k rows; a sparse
    bucket divides by what it has rather than deflating agreement),
    and vectors with NO candidates drop out of the rollup (their
    agreement is undefined, not zero).
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if method not in ("exact", "lsh", "ivf"):
        raise ValueError(
            f"method must be 'exact', 'lsh' or 'ivf', got {method!r}")
    base = df.select(F.col(id_col).alias("id"),
                     F.col(label_col).alias("lbl"),
                     F.transform(F.col(vec_col),
                                 lambda x: x.cast("double")).alias("v"))
    base = base.withColumn("nrm", _norm(F.col("v")))

    def _side(tag):
        return base.select(F.col("id").alias(f"{tag}_id"),
                           F.col("lbl").alias(f"{tag}_lbl"),
                           F.col("v").alias(f"v{tag}"),
                           F.col("nrm").alias(f"n{tag}"))

    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    if candidate_pairs is not None:
        # symmetrize: pair (x, y) makes y a candidate of x AND x of y
        sym = (candidate_pairs.select(F.col("id_a").alias("a_id"),
                                      F.col("id_b").alias("b_id"))
               .unionByName(
                   candidate_pairs.select(F.col("id_b").alias("a_id"),
                                          F.col("id_a").alias("b_id"))))
        scored = (sym.join(_side("a"), "a_id").join(_side("b"), "b_id")
                  .withColumn("cosine", cos))
    elif method == "exact":
        scored = (_side("a").crossJoin(_side("b"))
                  .filter(F.col("a_id") != F.col("b_id"))
                  .withColumn("cosine", cos))
    elif method == "lsh":
        bucketed = lsh_bucket(base, "v", n_planes, seed, dim=dim)
        a = bucketed.select(F.col("id").alias("a_id"),
                            F.col("lbl").alias("a_lbl"),
                            F.col("v").alias("va"), F.col("nrm").alias("na"),
                            "bucket")
        b = bucketed.select(F.col("id").alias("b_id"),
                            F.col("lbl").alias("b_lbl"),
                            F.col("v").alias("vb"), F.col("nrm").alias("nb"),
                            F.col("bucket").alias("bucket_b"))
        scored = (a.join(b, (F.col("bucket") == F.col("bucket_b")) &
                         (F.col("a_id") != F.col("b_id")))
                  .withColumn("cosine", cos))
    else:  # ivf
        cents = kmeans_centroids(df, id_col, vec_col, n_centroids,
                                 train_iterations, kmeans_seed)
        assigned = with_nearest_centroid(base, "v", cents, metric="cosine")
        a = assigned.select(F.col("id").alias("a_id"),
                            F.col("lbl").alias("a_lbl"),
                            F.col("v").alias("va"), F.col("nrm").alias("na"),
                            "cid")
        b = assigned.select(F.col("id").alias("b_id"),
                            F.col("lbl").alias("b_lbl"),
                            F.col("v").alias("vb"), F.col("nrm").alias("nb"),
                            F.col("cid").alias("cid_b"))
        scored = (a.join(b, (F.col("cid") == F.col("cid_b")) &
                         (F.col("a_id") != F.col("b_id")))
                  .withColumn("cosine", cos))
    w = Window.partitionBy("a_id").orderBy(F.desc("cosine"), F.asc("b_id"))
    per_vec = (scored.withColumn("r", F.row_number().over(w))
               .filter(F.col("r") <= k)
               .groupBy("a_id", "a_lbl")
               .agg((F.count(F.when(F.col("b_lbl") == F.col("a_lbl"), 1))
                     / F.count(F.lit(1))).alias("agree")))
    return (per_vec.groupBy(F.col("a_lbl").alias("label"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("agree"), 6).alias("mean_agreement"))
            .orderBy("label"))


#: row threshold above which ``has_min_label_agreement`` refuses the
#: exact n² self-join and (in ``method="auto"``) swaps to the LSH
#: candidate path — at 100k rows the exact form is ~10¹⁰ pairs.
LABEL_AGREEMENT_EXACT_ROW_LIMIT = 100_000


class LabelAgreementConstraint(Constraint):
    """``has_min_label_agreement``: every label's mean k-NN agreement
    (``knn_label_agreement``) must reach ``min_agreement`` — the gate
    twin of the label-noise screen: a label whose neighborhoods stop
    voting for it has drifted or been corrupted since the last ingest.

    Self-executing (its job is the screen's candidate join + rollup);
    the metric reported is the WORST label's agreement, so the failure
    message names the offender.

    Scale safety (round 12): ``method="auto"`` (default) uses the
    exact all-pairs form up to ``exact_row_limit`` rows
    (``LABEL_AGREEMENT_EXACT_ROW_LIMIT``) and the LSH-bucketed
    candidate path beyond it — a 1B-vector release suite never runs a
    cartesian.  Explicitly requesting ``method="exact"`` above the
    limit raises rather than silently planning n² pairs.
    """

    name = "min_label_agreement"

    def __init__(self, k: int = 3, min_agreement: float = 0.5,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 label_col: str = "label", method: str = "auto",
                 exact_row_limit: int = LABEL_AGREEMENT_EXACT_ROW_LIMIT,
                 n_planes: int = 8):
        if k < 1:
            raise ValueError(f"k must be >= 1, got {k}")
        if not 0.0 <= min_agreement <= 1.0:
            raise ValueError(
                f"min_agreement must be in [0, 1], got {min_agreement}")
        if method not in ("auto", "exact", "lsh", "ivf"):
            raise ValueError(
                f"method must be 'auto', 'exact', 'lsh' or 'ivf', "
                f"got {method!r}")
        if exact_row_limit < 1:
            raise ValueError(
                f"exact_row_limit must be >= 1, got {exact_row_limit}")
        from ..functions.security import validate_identifier
        self.k = int(k)
        self.min_agreement = float(min_agreement)
        self.id_col = validate_identifier(id_col)
        self.vec_col = validate_identifier(vec_col)
        self.label_col = validate_identifier(label_col)
        self.method = method
        self.exact_row_limit = int(exact_row_limit)
        self.n_planes = int(n_planes)

    def evaluate(self, ctx):
        from ..core.result import ConstraintResult
        cur = ctx.df(self.table)
        method = self.method
        if method in ("auto", "exact"):
            n_rows = cur.count()
            if method == "auto":
                method = ("exact" if n_rows <= self.exact_row_limit
                          else "lsh")
            elif n_rows > self.exact_row_limit:
                raise ValueError(
                    f"min_label_agreement: method='exact' on {n_rows} rows "
                    f"exceeds exact_row_limit={self.exact_row_limit} — the "
                    "all-pairs form is n² pairs; use method='lsh'/'ivf' "
                    "(or raise exact_row_limit deliberately)")
        rep = knn_label_agreement(cur, self.k, self.id_col,
                                  self.vec_col, self.label_col,
                                  method=method, n_planes=self.n_planes)
        rows = rep.collect()
        if not rows:
            return self._finish(ConstraintResult.skipped(
                "min_label_agreement: no labeled vectors"))
        worst = min(rows, key=lambda r: (r["mean_agreement"], str(r["label"])))
        val = float(worst["mean_agreement"])
        if val >= self.min_agreement:
            return self._finish(ConstraintResult.success(val))
        return self._finish(ConstraintResult.failure(
            val, f"min_label_agreement: label {worst['label']!r} has "
                 f"mean {self.k}-NN agreement {val:.4f} < "
                 f"{self.min_agreement} (noisy or drifted labels)"))


# ---------------------------------------------------------------------------
# SQ8 scalar quantization — the compressed-but-nearly-exact rung of the
# quantization ladder (Flat -> SQ8 -> IVF -> IVF-PQ)

def sq8_quantize(df: DataFrame, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Per-vector symmetric int8 quantization (the FAISS
    ``IndexScalarQuantizer(QT_8bit)`` role): each component maps to
    ``round(v_i / scale)`` with ``scale = max_i |v_i| / 127``, stored
    with the scale and the TRUE norm, so the table shrinks ~4× (int8
    vs float32 payload) while approximate cosine stays within ~1/127
    per component of exact.

    Why per-vector symmetric (not per-dataset min/max): the scale is a
    row-local expression — quantization is MAP-ONLY, needs no training
    pass, no global statistics job, and appends are trivially sound
    (each row quantizes alone — the property that lets a 100 TB corpus
    quantize incrementally with zero coordination).  Zero vectors get
    scale 0 and all-zero codes (their cosine is undefined everywhere
    in this module).

    Returns (id, codes array<int> in [-127, 127], scale, norm).
    Deterministic: HALF_UP rounding (Spark's ``F.round``) on exact
    double quotients — the driver oracle replays the same HALF_UP
    convention, so codes agree bit-for-bit across engines.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = (mx / F.lit(127.0)).alias("scale")
    codes = F.when(mx > 0, F.transform(
        v, lambda x: F.round(x / (mx / F.lit(127.0))).cast("int"))) \
        .otherwise(F.transform(v, lambda x: F.lit(0))).alias("codes")
    return df.select(F.col(id_col).alias("id"), codes, scale,
                     _norm(v).alias("norm"))


def sq8_topk_refined(df: DataFrame, codes: DataFrame, queries: DataFrame,
                     k: int = 5, refine_factor: int = 4,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id",
                     query_vec_col: str = "query_vec") -> DataFrame:
    """SQ8 search with an exact re-rank (the ``ivfpq_topk_refined``
    contract): approximate cosine from the int8 codes —
    ``scale · dot(q, codes) / (|q| · norm)``, a one-multiply
    reconstruction since quantization is linear — shortlists
    ``refine_factor · k`` per query, then the shortlist alone is
    re-scored against the raw vectors and the true top-k taken.

    Scale shape: the approximate pass streams the CODES table (the 4×
    smaller one — at serving time the raw vectors stay cold on disk)
    against a broadcast query matrix, map-only per pair; the re-rank
    reads raw vectors for ≤ |queries|·k′ ids via a broadcast semi
    join.  Returns (query_id, nbr_id, cosine, rank) — the
    ``cosine_topk`` schema, so ``ann_recall`` compares directly.
    """
    from pyspark.sql import Window

    q = _vectors(queries, query_id_col, query_vec_col, "query_id", "va", "na")
    cd = codes.select("id", F.transform(F.col("codes"),
                                        lambda x: x.cast("double"))
              .alias("cb"), "scale", "norm")
    approx = (cd.crossJoin(F.broadcast(q))
              .withColumn("a_cos",
                          F.col("scale") * _dot(F.col("va"), F.col("cb"))
                          / (F.col("na") * F.col("norm"))))
    w = Window.partitionBy("query_id").orderBy(
        F.col("a_cos").desc(), F.col("id").asc())
    kk = max(int(k), int(refine_factor) * int(k))
    shortlist = (approx.withColumn("__r", F.row_number().over(w))
                 .filter(F.col("__r") <= kk)
                 .select("query_id", F.col("id").alias("nbr_id")))
    corpus = _vectors(df, id_col, vec_col, "nbr_id", "vb", "nb")
    return _exact_topk(corpus.join(F.broadcast(shortlist), "nbr_id")
                       .join(F.broadcast(q), "query_id"), k)


def embedding_quality_summary(df: DataFrame, vec_col: str = "embedding",
                              expect_dim: Optional[int] = None) -> DataFrame:
    """Embedding-column hygiene audit (round 14) — the pre-ANN release
    screen: ONE fused map-only aggregation that counts, per corpus,
    the vectors that would silently poison downstream vector math —
    NULL arrays, wrong dimension (vs ``expect_dim`` when given), any
    NULL element (3VL would otherwise let such vectors slip EVERY
    bucket — exists/aggregate return SQL NULL over them, r14 advice),
    any non-finite element (NaN/±Inf propagate through every dot
    product they touch), and zero-norm vectors (cosine divides by the
    norm).
    Also reports min/max/mean norm over the CLEAN population (rounded
    6) — a norm range far from 1.0 flags an un-normalized corpus
    before it meets a cosine-assuming index.

    Everything is JVM higher-order functions over the array column
    (transform/exists/aggregate) — no explode, no shuffle beyond the
    single 1-row aggregate, no Python.  At 100 TB this is one
    map-side-combined pass.

    Returns one row: (n_vecs, n_null, n_wrong_dim, n_nonfinite,
    n_zero_norm, n_null_elem, n_clean, min_norm, max_norm, mean_norm).
    ``n_wrong_dim`` is NULL when ``expect_dim`` is not given.
    """
    from ..functions.security import validate_identifier

    validate_identifier(vec_col)
    v = F.col(vec_col)
    dvec = F.transform(v, lambda x: x.cast("double"))
    has_null_elem = F.exists(v, lambda x: x.isNull())
    nonfinite = F.exists(
        dvec, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf"))))
    norm2 = F.aggregate(dvec, F.lit(0.0), lambda a, x: a + x * x)
    wrong_dim = (F.size(v) != F.lit(int(expect_dim))
                 if expect_dim is not None else F.lit(None).cast("boolean"))
    # ~has_null_elem FIRST: it is two-valued (isNull never yields SQL
    # NULL), so the conjunction short-circuits the 3VL NULLs that
    # nonfinite/norm2 produce over null-element vectors.
    clean = v.isNotNull() & ~has_null_elem & ~nonfinite & (norm2 > 0)
    if expect_dim is not None:
        clean = clean & ~wrong_dim
    norm = F.sqrt(norm2)
    return df.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.count_if(v.isNull()).alias("n_null"),
        (F.count_if(v.isNotNull() & wrong_dim)
         if expect_dim is not None
         else F.lit(None).cast("bigint")).alias("n_wrong_dim"),
        F.count_if(v.isNotNull() & nonfinite).alias("n_nonfinite"),
        F.count_if(v.isNotNull() & ~nonfinite & (norm2 == 0))
        .alias("n_zero_norm"),
        F.count_if(v.isNotNull() & has_null_elem).alias("n_null_elem"),
        F.count_if(clean).alias("n_clean"),
        F.round(F.min(F.when(clean, norm)), 6).alias("min_norm"),
        F.round(F.max(F.when(clean, norm)), 6).alias("max_norm"),
        F.round(F.avg(F.when(clean, norm)), 6).alias("mean_norm"))


def bad_embedding_cond(column: str, expect_dim: Optional[int] = None,
                       require_unit_norm: bool = False,
                       norm_tol: float = 1e-3) -> "F.Column":
    """The shared unusable-vector predicate (NULL / null element /
    non-finite element / zero norm / wrong dim / off-unit norm) — one
    boolean codegen expression used by the suite gate and the
    streaming monitor, so batch and stream can never disagree on what
    "bad" means.  The null-element term comes before the 3VL-prone
    ones: exists/aggregate return SQL NULL over [NULL, x] vectors, so
    without it ``count_if`` would silently skip them (r14 advice)."""
    v = F.col(column)
    dvec = F.transform(v, lambda x: x.cast("double"))
    nonfinite = F.exists(
        dvec, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf"))))
    norm2 = F.aggregate(dvec, F.lit(0.0), lambda a, x: a + x * x)
    bad = (v.isNull() | F.exists(v, lambda x: x.isNull())
           | nonfinite | (norm2 <= 0))
    if expect_dim is not None:
        bad = bad | (F.size(v) != F.lit(int(expect_dim)))
    if require_unit_norm:
        bad = bad | (F.abs(F.sqrt(norm2) - F.lit(1.0))
                     > F.lit(float(norm_tol)))
    return bad


class EmbeddingQualityConstraint(Constraint):
    """``has_valid_embeddings``: the fraction of rows whose embedding
    is unusable for vector math (NULL, wrong dimension, non-finite
    element, zero norm — and, with ``require_unit_norm``, norm outside
    1 ± ``norm_tol``) must stay within ``max_bad_ratio`` (default 0).
    The release gate in front of every ANN/cosine tier: one bad vector
    NaN-poisons each dot product it meets and a wrong-dim vector
    breaks the GEMM batch shape — both silently, both found here for
    the cost of one map-only pass.  Rides the suite's shared fused
    aggregation as plain count expressions."""

    name = "embedding_quality"

    def __init__(self, column: str = "embedding",
                 expect_dim: Optional[int] = None,
                 require_unit_norm: bool = False,
                 norm_tol: float = 1e-3,
                 max_bad_ratio: float = 0.0):
        from ..core.constraint import metric_alias
        from ..functions.security import validate_identifier
        if not 0.0 <= max_bad_ratio <= 1.0:
            raise ValueError(
                f"max_bad_ratio must be in [0,1], got {max_bad_ratio}")
        if norm_tol <= 0:
            raise ValueError(f"norm_tol must be > 0, got {norm_tol}")
        self.column = validate_identifier(column)
        self.expect_dim = int(expect_dim) if expect_dim is not None else None
        self.require_unit_norm = bool(require_unit_norm)
        self.norm_tol = float(norm_tol)
        self.max_bad_ratio = float(max_bad_ratio)
        self._rows = metric_alias("emb_rows", column)
        self._bad = metric_alias("emb_bad", column, self.expect_dim,
                                 self.require_unit_norm, self.norm_tol)

    def _bad_cond(self):
        return bad_embedding_cond(self.column, self.expect_dim,
                                  self.require_unit_norm, self.norm_tol)

    def scalar_metrics(self, df):
        return {self._rows: F.count(F.lit(1)),
                self._bad: F.count_if(self._bad_cond())}

    def result_from_metrics(self, metrics):
        from ..core.result import ConstraintResult
        rows = int(metrics[self._rows])
        if rows == 0:
            return self._finish(ConstraintResult.skipped(
                f"embedding_quality({self.column}): empty table"))
        bad = int(metrics[self._bad])
        ratio = bad / rows
        if ratio <= self.max_bad_ratio:
            return self._finish(ConstraintResult.success(ratio))
        wants = [w for w, on in (
            (f"dim={self.expect_dim}", self.expect_dim is not None),
            (f"unit norm ±{self.norm_tol}", self.require_unit_norm),
        ) if on]
        return self._finish(ConstraintResult.failure(
            ratio,
            f"embedding_quality({self.column}): {bad}/{rows} vectors "
            f"unusable (NULL / non-finite / zero-norm"
            + (f" / {' / '.join(wants)}" if wants else "")
            + f"), ratio {ratio:.6f} > max {self.max_bad_ratio}"))
