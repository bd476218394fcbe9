"""Vector similarity search over ArrayType(FloatType) embeddings.

Two paths:
- brute-force cosine top-k: exact baseline; broadcast the (small)
  query set against the full corpus — one pass over the candidates,
  per-query top-k via window. Linear in corpus size.
- LSH-bucketed ANN (random hyperplanes): the scale path — sign-bit
  bucket per vector, candidates only within the query's bucket. One
  shuffle on the bucket key; corpus never cross-joins the query set.

Cosine math is pure column expressions (zip_with + aggregate fold in
doubles, left-to-right — the same order the DuckDB oracle uses), so
everything stays in whole-stage codegen; no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from taps_spark.io.tables import materialize


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    da, db = as_double(a), as_double(b)
    return dot(da, db) / F.sqrt(dot(da, da) * dot(db, db))


def _topk_reduce(scored: DataFrame, qid_col: str, id_col: str, k: int) -> DataFrame:
    """Exact per-query top-k over a scored (qid, id, _score) frame.

    Expressed as row_number-over-window + rank filter ON PURPOSE:
    Spark ≥3.5 compiles this to WindowGroupLimit in Partial mode
    BEFORE the exchange — each input partition keeps only its local
    top-k per query map-side, so the shuffle ships ≤ k×partitions
    rows per query instead of the whole scored candidate set. That is
    the per-partition partial top-k a manual salted two-stage
    (groupBy shard → slice(sort(collect_list))) would build by hand,
    with one fewer shuffle; tests/test_plans.py pins the
    WindowGroupLimit(Partial) shape so a regression (or a Spark
    behavior change) fails CI rather than melting at corpus scale.
    """
    w = Window.partitionBy(qid_col).orderBy(F.col("_score").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            qid_col,
            F.col(id_col).alias("neighbor_id"),
            F.round("_score", 4).alias("score"),
            F.col("rank").alias("rank"),
        )
    )


def topk_bruteforce(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "q_id",
    qvec_col: str = "q_vec",
) -> DataFrame:
    """Exact cosine top-k: every query against every candidate.

    Scale: broadcast(queries) × corpus — the corpus is scanned once;
    the scored pairs reduce map-side via WindowGroupLimit(Partial)
    (see _topk_reduce), so the shuffle carries ≤ k×partitions rows
    per query, never the whole candidate set.
    """
    scored = (
        emb.join(F.broadcast(queries))
        .filter(F.col(id_col) != F.col(qid_col))
        .select(
            F.col(qid_col),
            F.col(id_col),
            cosine(F.col(qvec_col), F.col(vec_col)).alias("_score"),
        )
    )
    return _topk_reduce(scored, qid_col, id_col, k)


def hyperplane_bucket(vec: Column, num_planes: int = 8, dim: int = 64) -> Column:
    """Random-hyperplane LSH bucket id (sign bits packed into an int).

    Plane weights are deterministic ±1 derived from xxhash64(plane,
    dim-index) — reproducible across runs/executors without shipping a
    weight matrix; the 'random projection with Rademacher weights'
    family preserves cosine locality.
    """
    dv = as_double(vec)
    bucket = F.lit(0)
    for j in range(num_planes):
        proj = F.aggregate(
            F.zip_with(
                dv,
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda x, i: F.when(
                    F.xxhash64(F.lit(j), i).bitwiseAND(F.lit(1)) == 1, x
                ).otherwise(-x),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def train_ivf_centroids(
    emb: DataFrame,
    nlist: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic k-means-lite (Lloyd) centroid training, pure
    DataFrame ops — the coarse quantizer of an IVF index.

    Init = the nlist lowest-id vectors (reproducible across engines
    and runs; no RNG). Each iteration: assign every vector to its
    nearest centroid (broadcast centroids, argmin via min(struct)),
    then recompute centroids as element-wise means (posexplode →
    per-(centroid, dim) avg → re-assemble array).

    Scale: at 100 TB you train on a ~1M-row sample (centroids
    converge on a sample; `emb.sample(frac)` upstream) so each Lloyd
    iteration is minutes, then assign the full corpus ONCE. Returns
    DataFrame[centroid_id int, cv array<double>].
    """
    # Materialize the training vectors only when more than one Lloyd
    # iteration will re-read them (at scale this frame is a SAMPLE —
    # docstring). At iters=1 the frame is read exactly twice (seed scan
    # + one assign), and a second column-pruned parquet scan costs less
    # than holding the corpus in blocks.
    dv = emb.select(
        F.col(id_col).alias("_id"), as_double(F.col(vec_col)).alias("v")
    )
    if iters > 1:
        dv = materialize(dv)
    # Rank the nlist seed vectors WITHOUT a global unpartitioned
    # window (that pattern serializes on one reducer as nlist grows):
    # ONE TakeOrdered job collects the nlist lowest-id rows to the
    # driver (the codebook is driver-resident in every k-means
    # implementation — MLlib keeps its centers exactly like this) and
    # the 1-based rank falls out of the already-sorted order. The
    # previous spelling (seed-id collect_list agg + broadcast join
    # back onto the orderBy/limit subtree) re-executed the corpus
    # TakeOrdered once per consumer — two extra scans per training
    # run (guide §1.2).
    seed_rows = dv.orderBy("_id").limit(nlist).collect()
    cents = dv.sparkSession.createDataFrame(
        [(i + 1, list(r["v"])) for i, r in enumerate(seed_rows)],
        "centroid_id int, cv array<double>",
    )
    for _ in range(iters):
        assigned = assign_nearest_centroid(dv, cents, vec_col="v")
        cents = (
            assigned.select("centroid_id", F.posexplode("v").alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("x").alias("x"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "x"))), lambda s: s["x"]
                ).alias("cv")
            )
            # The codebook is nlist rows; every later iteration (and
            # the final corpus assign) broadcasts it, and without a
            # materialization each broadcast build re-executes the
            # whole Lloyd chain from the scan — plan-depth recompute,
            # not data volume, dominated training wall time.
            .transform(materialize)
        )
    return cents


def assign_nearest_centroid(dv: DataFrame, cents: DataFrame, vec_col: str = "v") -> DataFrame:
    """Nearest centroid per vector by L2 — ZERO-shuffle: the (tiny)
    centroid table collapses to a single broadcast row holding all
    centroids as an array of structs, and the argmin is a per-row
    column expression (array_min over (dist, id) structs — ties break
    on centroid_id, so assignment is deterministic).

    This replaces the earlier join+groupBy formulation: that one
    re-shuffled the whole corpus (with its vectors) on every Lloyd
    iteration just to take the argmin; map-side argmin makes
    assignment embarrassingly parallel, which is what you want when
    the corpus is 100 TB and assignment runs once per iteration plus
    once at index-build time."""
    other = [c for c in dv.columns if c != vec_col]
    cents_row = cents.agg(
        F.collect_list(F.struct("centroid_id", "cv")).alias("_cents")
    )
    d2 = lambda c: F.aggregate(  # noqa: E731
        F.zip_with(F.col(vec_col), c["cv"], lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    best = F.array_min(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(d2(c).alias("d"), c["centroid_id"].alias("c")),
        )
    )
    return (
        dv.join(F.broadcast(cents_row))
        .select(*other, vec_col, best.getField("c").alias("centroid_id"))
    )


def topk_ivf(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "q_id",
    qvec_col: str = "q_vec",
) -> DataFrame:
    """IVF approximate top-k: exact cosine, but only against the
    inverted lists of the query's nprobe nearest centroids.

    Scale: the corpus is assigned once (map-only after training) and
    in production would be WRITTEN partitioned by centroid_id —
    searches then touch nprobe/nlist of the data (partition pruning
    on the centroid key). Candidates reach each query via an
    equi-join on centroid_id, never a cross join. nprobe/nlist is the
    recall/cost dial: nprobe=nlist degenerates to brute force.
    """
    cents = train_ivf_centroids(emb, nlist=nlist, iters=iters, id_col=id_col, vec_col=vec_col)
    corpus = assign_nearest_centroid(
        emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("v")).withColumnRenamed(
            id_col, "_id"
        ),
        cents,
    ).select(F.col("_id").alias(id_col), "v", "centroid_id")

    qv = queries.select(F.col(qid_col), as_double(F.col(qvec_col)).alias("qv"))
    d2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wprobe = Window.partitionBy(qid_col).orderBy(F.col("_d"), F.col("centroid_id"))
    probes = (
        qv.join(F.broadcast(cents))
        .select(qid_col, "qv", F.col("centroid_id"), d2.alias("_d"))
        .withColumn("_pr", F.row_number().over(wprobe))
        .filter(F.col("_pr") <= nprobe)
        .select(qid_col, "qv", "centroid_id")
    )
    scored = (
        corpus.join(F.broadcast(probes), "centroid_id")
        .filter(F.col(id_col) != F.col(qid_col))
        .select(
            F.col(qid_col),
            F.col(id_col),
            (dot(F.col("qv"), F.col("v")) / F.sqrt(dot(F.col("qv"), F.col("qv")) * dot(F.col("v"), F.col("v")))).alias("_score"),
        )
    )
    return _topk_reduce(scored, qid_col, id_col, k)


def topk_lsh(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "q_id",
    qvec_col: str = "q_vec",
) -> DataFrame:
    """Approximate top-k: exact cosine but only within the query's
    hyperplane bucket.

    Scale: corpus bucketed once (map-only), equi-join on bucket id
    replaces the cross join — with 2^planes buckets the candidate set
    per query drops by that factor; AQE handles bucket skew.
    """
    cand = emb.withColumn("bucket", hyperplane_bucket(F.col(vec_col), num_planes, dim))
    qb = queries.withColumn("bucket", hyperplane_bucket(F.col(qvec_col), num_planes, dim))
    scored = (
        cand.join(F.broadcast(qb), "bucket")
        .filter(F.col(id_col) != F.col(qid_col))
        .select(
            F.col(qid_col),
            F.col(id_col),
            cosine(F.col(qvec_col), F.col(vec_col)).alias("_score"),
        )
    )
    return _topk_reduce(scored, qid_col, id_col, k)


def l2_normalize(vec: Column) -> Column:
    """Unit-L2 scaling (cosine becomes plain inner product)."""
    dv = as_double(vec)
    n = F.sqrt(dot(dv, dv))
    return F.transform(dv, lambda x: x / n)


def train_pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks: the vector is split into `m`
    contiguous subvectors and each subspace gets its own `ksub`-way
    k-means codebook — all `m` codebooks train TOGETHER in one keyed
    Lloyd loop (subspace id is part of every group key), so plan
    depth is O(iters), not O(m × iters).

    Same determinism contract as train_ivf_centroids: seeds are the
    ksub lowest-id vectors (no RNG), argmin ties break on centroid
    id. Input vectors are unit-normalized first so the asymmetric
    inner product approximates cosine.

    Scale: PQ is the memory dial for ANN at 100 TB — a 64-dim float
    vector (256 B) compresses to m=8 one-byte codes, a 32× shrink,
    so a 10-billion-vector index fits executor memory for rerank.
    Train on a sample upstream (like IVF); encode is one broadcast
    join + argmin over the full corpus.

    Returns DataFrame[s int, centroid_id int, cv array<double>].
    """
    sub = dim // m
    dv = emb.select(
        F.col(id_col).alias("_id"), l2_normalize(F.col(vec_col)).alias("v")
    )
    # Materialize the training subvectors once — each Lloyd iteration
    # consumes them twice (assign + recompute join) and would
    # otherwise replay scan + normalize + posexplode per pass; at
    # scale this is the training SAMPLE (docstring).
    subs = dv.select(
        "_id",
        F.posexplode(
            F.array(*[F.slice("v", s * sub + 1, sub) for s in range(m)])
        ).alias("s", "sv"),
    ).transform(materialize)
    seed_ids = dv.orderBy("_id").limit(ksub).agg(
        F.array_sort(F.collect_list("_id")).alias("_ids")
    )
    cents = (
        subs.join(F.broadcast(seed_ids))
        .filter(F.array_position(F.col("_ids"), F.col("_id")) > 0)
        .select(
            "s",
            (F.array_position(F.col("_ids"), F.col("_id")) - 1).cast("int").alias("centroid_id"),
            F.col("sv").alias("cv"),
        )
    )
    for _ in range(iters):
        # keep_sv: the recompute needs the subvectors, and the
        # map-side assign can just carry them through — the previous
        # shape joined the code assignments BACK onto subs, a second
        # corpus×m-row shuffle join per Lloyd iteration on top of the
        # one the old groupBy-argmin already paid (guide §2.4).
        assigned = _assign_pq_codes(subs, cents, keep_sv=True)
        cents = (
            assigned
            .select("s", "centroid_id", F.posexplode("sv").alias("pos", "x"))
            .groupBy("s", "centroid_id", "pos")
            .agg(F.avg("x").alias("x"))
            .groupBy("s", "centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "x"))), lambda t: t["x"]
                ).alias("cv")
            )
            # m×ksub rows; materialize per iteration or every later
            # broadcast build re-runs the whole Lloyd chain (see
            # train_ivf_centroids).
            .transform(materialize)
        )
    return cents


def _assign_pq_codes(
    subs: DataFrame, cents: DataFrame, keep_sv: bool = False
) -> DataFrame:
    """Per (vector, subspace) nearest codeword — ZERO-shuffle: the
    m×ksub codebook collapses to one broadcast row of per-subspace
    codeword lists, and the argmin is a per-row array_min over
    (dist, centroid_id) structs — the same map-side shape as
    assign_nearest_centroid. The previous spelling fanned subs×ksub
    rows through a broadcast join and reduced them with a
    groupBy(_id, s) min(struct), i.e. a full corpus×m-row exchange
    per assignment pass (3 passes per PQ build at iters=2: train ×2
    + final encode) — guide §2.4 'remove shuffles outright'.
    min(struct) and array_min order structs identically
    (lexicographic: distance, then centroid id), so ties and codes
    are bit-identical."""
    cents_row = cents.groupBy("s").agg(
        F.collect_list(F.struct("centroid_id", "cv")).alias("_cw")
    )
    d2 = lambda c: F.aggregate(  # noqa: E731
        F.zip_with(F.col("sv"), c["cv"], lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    best = F.array_min(
        F.transform(
            F.col("_cw"),
            lambda c: F.struct(d2(c).alias("d"), c["centroid_id"].alias("c")),
        )
    )
    out = ["_id", "s"] + (["sv"] if keep_sv else [])
    return (
        subs.join(F.broadcast(cents_row), "s")
        .select(*out, best.getField("c").alias("centroid_id"))
    )


def topk_pq(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    iters: int = 2,
    rerank: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "q_id",
    qvec_col: str = "q_vec",
) -> DataFrame:
    """PQ asymmetric-distance top-k (ADC) with exact rerank: corpus
    vectors live only as m small codes; each query precomputes an
    m×ksub inner-product table against the codebooks and scores a
    vector by summing m table lookups — no full-vector math touches
    the corpus during the scan. The ADC shortlist (rerank×k
    candidates) is then rescored with exact cosine against only those
    candidates' full vectors — the standard two-stage PQ serving
    shape (quantized scan, exact rerank on ~0.01% of the corpus),
    which recovers the recall pure ADC loses on unstructured
    embeddings. rerank=0 returns raw ADC scores.

    Scale: the scored stream is corpus×m rows joined to a BROADCAST
    lookup table (queries × m × ksub rows — a few thousand), summed
    with map-side partial agg, then reduced by the same
    WindowGroupLimit(Partial) top-k as brute force; the rerank join
    touches rerank×k rows per query. In production PQ composes with
    IVF (probe lists first, ADC within them); here it stands alone so
    the recall test isolates quantization loss.
    """
    sub = dim // m
    cents = train_pq_codebooks(
        emb, m=m, ksub=ksub, dim=dim, iters=iters, id_col=id_col, vec_col=vec_col
    )
    dv = emb.select(F.col(id_col).alias("_id"), l2_normalize(F.col(vec_col)).alias("v"))
    subs = dv.select(
        "_id",
        F.posexplode(
            F.array(*[F.slice("v", s * sub + 1, sub) for s in range(m)])
        ).alias("s", "sv"),
    )
    codes = _assign_pq_codes(subs, cents)

    qsubs = queries.select(
        F.col(qid_col), l2_normalize(F.col(qvec_col)).alias("qv")
    ).select(
        qid_col,
        F.posexplode(
            F.array(*[F.slice("qv", s * sub + 1, sub) for s in range(m)])
        ).alias("s", "qsv"),
    )
    # The ADC lookup table: partial inner product of every query
    # subvector with every codeword in its subspace.
    lut = qsubs.join(F.broadcast(cents), "s").select(
        qid_col, "s", "centroid_id", dot(F.col("qsv"), F.col("cv")).alias("_pip")
    )
    scored = (
        codes.join(F.broadcast(lut), ["s", "centroid_id"])
        .filter(F.col("_id") != F.col(qid_col))
        .groupBy(qid_col, "_id")
        .agg(F.sum("_pip").alias("_score"))
        .select(qid_col, F.col("_id").alias(id_col), "_score")
    )
    if not rerank:
        return _topk_reduce(scored, qid_col, id_col, k)
    shortlist = _topk_reduce(scored, qid_col, id_col, rerank * k).select(
        qid_col, F.col("neighbor_id").alias(id_col)
    )
    qv = queries.select(F.col(qid_col), l2_normalize(F.col(qvec_col)).alias("qv"))
    exact = (
        shortlist.join(dv.withColumnRenamed("_id", id_col), id_col)
        .join(F.broadcast(qv), qid_col)
        .select(qid_col, F.col(id_col), dot(F.col("qv"), F.col("v")).alias("_score"))
    )
    return _topk_reduce(exact, qid_col, id_col, k)


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.95,
    nlist: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-shape semantic deduplication: k-means-cluster the
    embeddings (the IVF coarse quantizer reused as the blocker), then
    compare pairs ONLY within a cluster and drop every vector whose
    cosine to a lower-id cluster-mate is ≥ threshold (keep-min
    survivor policy, deterministic).

    Soundness is exact — every dropped vector really has a ≥threshold
    neighbor (pytest re-checks the flagged pairs with exact cosine);
    completeness is bounded by the blocker like every LSH/cluster
    dedup (a near-dup pair split across cluster boundary is missed —
    raising nlist trades recall for cost).

    Scale: the pair expansion is Σ|cluster|², never |corpus|² — with
    balanced clusters that's |corpus|²/nlist, and nlist grows with
    corpus size (100 TB → nlist ~10⁵ via sample-trained centroids, so
    each cluster stays executor-sized). One equi-join on cluster_id;
    AQE handles cluster skew.

    Returns DataFrame[vec_id, cluster_id, dropped bool, dup_of
    (lowest-id ≥threshold neighbor, NULL if kept)].
    """
    dv = emb.select(F.col(id_col).alias("_id"), l2_normalize(F.col(vec_col)).alias("v"))
    cents = train_ivf_centroids(
        emb.select(F.col(id_col), F.col(vec_col)), nlist=nlist, iters=iters,
        id_col=id_col, vec_col=vec_col,
    )
    # Three consumers below (both self-join sides + the final verdict
    # join); materialize the assignment once or the normalize+argmin
    # pipeline runs three times.
    assigned = (
        assign_nearest_centroid(dv, cents)
        .select("_id", "v", F.col("centroid_id").alias("cluster_id"))
        .transform(materialize)
    )
    a = assigned.select(
        F.col("cluster_id"), F.col("_id").alias("id_a"), F.col("v").alias("va")
    )
    b = assigned.select(
        F.col("cluster_id"), F.col("_id").alias("id_b"), F.col("v").alias("vb")
    )
    near = (
        a.join(b, "cluster_id")
        .filter(F.col("id_b") < F.col("id_a"))
        .filter(dot(F.col("va"), F.col("vb")) >= F.lit(threshold))
        .groupBy(F.col("id_a").alias("_id"))
        .agg(F.min("id_b").alias("dup_of"))
    )
    return (
        assigned.join(near, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "cluster_id",
            F.col("dup_of").isNotNull().alias("dropped"),
            "dup_of",
        )
    )


def topk_metadata_filtered(
    emb: DataFrame,
    queries: DataFrame,
    on: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "q_id",
    qvec_col: str = "q_vec",
) -> DataFrame:
    """Exact cosine top-k restricted by a metadata predicate (`on`,
    evaluated as the broadcast-join condition, e.g. candidate label ==
    query label).

    The predicate joins BEFORE any distance math, so at scale the
    filter prunes the candidate stream inside the broadcast hash join
    probe — distances are only computed for rows that survive, which
    is the point of filtered ANN (in production the corpus is also
    partition-pruned by the same metadata column).
    """
    scored = (
        emb.join(F.broadcast(queries), on)
        .filter(F.col(id_col) != F.col(qid_col))
        .select(
            F.col(qid_col),
            F.col(id_col),
            cosine(F.col(qvec_col), F.col(vec_col)).alias("_score"),
        )
    )
    return _topk_reduce(scored, qid_col, id_col, k)
