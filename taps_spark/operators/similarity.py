"""Vector similarity search over ArrayType(FloatType) embeddings.

Three kernels; every blocker is one of them plus its candidate key:
- `topk_bruteforce`, the one cosine top-k: broadcast the (small)
  query set, join it to the corpus on `on`, drop self-pairs, score
  with `cosine`, keep each query's top-k map-side (`_topk_reduce`).
  `on` is the blocker: None for the exact baseline (every row), a
  metadata predicate for filtered ANN, "bucket" for hyperplane LSH
  (`topk_lsh`), "centroid_id" for the IVF probe lists (`topk_ivf`).
- `train_ivf_centroids`, the one Lloyd trainer, and
- `assign_nearest_centroid`, the one map-side argmin. Both take
  optional group keys: IVF (`ivf_index`) and `semantic_dedup` train
  one codebook, PQ (`topk_pq`) trains one per subspace `s` in the
  same loop.

Vector math is pure column expressions (zip_with + aggregate fold in
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


def _d2(a: Column, b: Column) -> Column:
    """Squared L2 distance of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_normalize(vec: Column) -> Column:
    """Unit-L2 scaling (cosine becomes plain inner product)."""
    dv = as_double(vec)
    n = F.sqrt(dot(dv, dv))
    return F.transform(dv, lambda x: x / n)


def _topk_reduce(scored: DataFrame, k: int) -> DataFrame:
    """Exact per-query top-k over a scored (q_id, vec_id, _score) frame.

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
    w = Window.partitionBy("q_id").orderBy(F.col("_score").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("_score", 4).alias("score"),
            F.col("rank").alias("rank"),
        )
    )


def topk_bruteforce(
    emb: DataFrame, queries: DataFrame, k: int = 5, on: Column | str | None = None
) -> DataFrame:
    """Exact cosine top-k of each query (q_id, q_vec) among the corpus
    rows (vec_id, embedding) that the join condition `on` pairs it
    with: None pairs every row, a Column is a predicate, a name an
    equi-join key both sides carry.

    Scale: broadcast(queries) × corpus — the corpus is scanned once,
    and `on` prunes candidates inside the broadcast join probe, before
    any distance math; the scored pairs reduce map-side via
    WindowGroupLimit(Partial) (see _topk_reduce), so the shuffle
    carries ≤ k×partitions rows per query, never the candidate set.
    """
    scored = (
        emb.join(F.broadcast(queries), on)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cosine(F.col("q_vec"), F.col("embedding")).alias("_score"))
    )
    return _topk_reduce(scored, k)


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


def topk_lsh(
    emb: DataFrame, queries: DataFrame, k: int = 5, num_planes: int = 8, dim: int = 64
) -> DataFrame:
    """Approximate top-k: exact cosine but only within the query's
    hyperplane bucket.

    Scale: corpus bucketed once (map-only), equi-join on bucket id
    replaces the cross join — with 2^planes buckets the candidate set
    per query drops by that factor; AQE handles bucket skew.
    """
    cand = emb.withColumn("bucket", hyperplane_bucket(F.col("embedding"), num_planes, dim))
    qb = queries.withColumn("bucket", hyperplane_bucket(F.col("q_vec"), num_planes, dim))
    return topk_bruteforce(cand, qb, k, on="bucket")


def train_ivf_centroids(
    dv: DataFrame, k: int = 16, iters: int = 2, keys: tuple[str, ...] = ()
) -> DataFrame:
    """Deterministic k-means-lite (Lloyd) over dv[_id, *keys, v
    array<double>], one k-way codebook per `keys` group, all groups in
    one loop (plan depth is O(iters), not O(groups × iters)).

    Init = the k lowest-id vectors of each group, numbered 1..k
    (reproducible across engines and runs; no RNG). They are ranked
    by a row_number window whose rank limit Spark runs map-side (a
    per-partition top-k before the one ranking), inside the first
    codebook broadcast — no driver round trip. Each iteration:
    assign every vector to its nearest centroid
    (assign_nearest_centroid), then recompute the centroids as
    element-wise means (posexplode → per-(centroid, dim) avg →
    re-assemble array).

    Scale: at 100 TB you train on a ~1M-row sample (centroids
    converge on a sample; `dv.sample(frac)` upstream) so each Lloyd
    iteration is minutes, then assign the full corpus ONCE. Returns
    DataFrame[*keys, centroid_id int, cv array<double>].
    """
    # Materialize the training vectors only when more than one Lloyd
    # iteration will re-read them (at scale this frame is a SAMPLE —
    # docstring). At iters=1 the frame is read exactly twice (seed
    # rank + one assign), and a second column-pruned parquet scan
    # costs less than holding the corpus in blocks.
    if iters > 1:
        dv = materialize(dv)
    seed = Window.partitionBy(*keys).orderBy("_id")
    cents = (
        dv.withColumn("centroid_id", F.row_number().over(seed))
        .filter(F.col("centroid_id") <= k)
        .select(*keys, "centroid_id", F.col("v").alias("cv"))
    )
    for _ in range(iters):
        cents = (
            assign_nearest_centroid(dv, cents, keys)
            .select(*keys, "centroid_id", F.posexplode("v").alias("pos", "x"))
            .groupBy(*keys, "centroid_id", "pos")
            .agg(F.avg("x").alias("x"))
            .groupBy(*keys, "centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "x"))), lambda s: s["x"]
                ).alias("cv")
            )
            # The codebook is k rows per group; every later iteration
            # (and the final corpus assign) broadcasts it, and without
            # a materialization each broadcast build re-executes the
            # whole Lloyd chain from the scan — plan-depth recompute,
            # not data volume, dominated training wall time.
            .transform(materialize)
        )
    return cents


def assign_nearest_centroid(
    dv: DataFrame, cents: DataFrame, keys: tuple[str, ...] = ()
) -> DataFrame:
    """Nearest centroid of each dv row's `v` by L2, among the
    centroids of its `keys` group; dv's columns plus centroid_id.

    ZERO-shuffle: each group's (tiny) codebook collapses to a single
    broadcast row holding its centroids as an array of structs, and
    the argmin is a per-row column expression (array_min over (d²,
    centroid_id) structs — ties break on centroid_id, so assignment is
    deterministic). A join + groupBy argmin would re-shuffle the whole
    corpus with its vectors on every Lloyd iteration; the map-side
    argmin is embarrassingly parallel."""
    book = cents.groupBy(*keys).agg(
        F.collect_list(F.struct("centroid_id", "cv")).alias("_cents")
    )
    best = F.array_min(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(_d2(F.col("v"), c["cv"]).alias("d"), c["centroid_id"].alias("c")),
        )
    )
    return dv.join(F.broadcast(book), list(keys) or None).select(
        *dv.columns, best.getField("c").alias("centroid_id")
    )


def ivf_index(emb: DataFrame, nlist: int = 16, iters: int = 2) -> tuple[DataFrame, DataFrame]:
    """The IVF index: the trained coarse quantizer (centroid_id, cv)
    and the corpus (vec_id, embedding as doubles, centroid_id) assigned
    to it — the inverted lists, keyed by centroid_id.

    Scale: the corpus is assigned once (map-only after training) and
    in production is WRITTEN partitioned by centroid_id, so a search
    reads only its probes' lists (partition pruning on the key)."""
    dv = emb.select(F.col("vec_id").alias("_id"), as_double(F.col("embedding")).alias("v"))
    cents = train_ivf_centroids(dv, nlist, iters)
    corpus = assign_nearest_centroid(dv, cents).select(
        F.col("_id").alias("vec_id"), F.col("v").alias("embedding"), "centroid_id"
    )
    return cents, corpus


def ivf_probes(queries: DataFrame, cents: DataFrame) -> DataFrame:
    """Every (query, centroid) pair: q_id, q_vec, centroid_id and the
    probe rank `_pr` (1 = nearest centroid by L2, ties on centroid_id).
    Filter `_pr <= nprobe` for a query's probe lists."""
    w = Window.partitionBy("q_id").orderBy(F.col("_d"), F.col("centroid_id"))
    d = _d2(as_double(F.col("q_vec")), F.col("cv"))
    return (
        queries.join(F.broadcast(cents))
        .select("q_id", "q_vec", "centroid_id", d.alias("_d"))
        .withColumn("_pr", F.row_number().over(w))
    )


def topk_ivf(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 2,
) -> DataFrame:
    """IVF approximate top-k: exact cosine, but only against the
    inverted lists of the query's nprobe nearest centroids.

    Scale: candidates reach each query via an equi-join on
    centroid_id, never a cross join; with the index stored partitioned
    by centroid_id a search touches nprobe/nlist of the data.
    nprobe/nlist is the recall/cost dial: nprobe=nlist degenerates to
    brute force.
    """
    cents, corpus = ivf_index(emb, nlist, iters)
    probes = (
        ivf_probes(queries, cents)
        .filter(F.col("_pr") <= nprobe)
        .select("q_id", "q_vec", "centroid_id")
    )
    return topk_bruteforce(corpus, probes, k, on="centroid_id")


def topk_pq(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    iters: int = 2,
    rerank: int = 5,
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

    Codebooks: each unit-normalized vector is split into `m`
    contiguous subvectors, and each subspace `s` gets its own
    `ksub`-way codebook — train_ivf_centroids keyed by `s`, so all m
    train together; the encode is assign_nearest_centroid keyed the
    same way.

    Scale: PQ is the memory dial for ANN at 100 TB — a 64-dim float
    vector (256 B) compresses to m=8 one-byte codes, a 32× shrink.
    The scored stream is corpus×m rows joined to a BROADCAST lookup
    table (queries × m × ksub rows — a few thousand), summed with
    map-side partial agg, then reduced by the same
    WindowGroupLimit(Partial) top-k as brute force; the rerank join
    touches rerank×k rows per query. In production PQ composes with
    IVF (probe lists first, ADC within them); here it stands alone so
    the recall test isolates quantization loss.
    """
    sub = dim // m

    def split(vec: str) -> Column:
        return F.posexplode(F.array(*[F.slice(vec, s * sub + 1, sub) for s in range(m)]))

    dv = emb.select(F.col("vec_id").alias("_id"), l2_normalize(F.col("embedding")).alias("v"))
    subs = dv.select("_id", split("v").alias("s", "v"))
    cents = train_ivf_centroids(subs, ksub, iters, keys=("s",))
    codes = assign_nearest_centroid(subs, cents, keys=("s",))

    qv = queries.select("q_id", l2_normalize(F.col("q_vec")).alias("qv"))
    # The ADC lookup table: partial inner product of every query
    # subvector with every codeword in its subspace.
    lut = (
        qv.select("q_id", split("qv").alias("s", "qsv"))
        .join(F.broadcast(cents), "s")
        .select("q_id", "s", "centroid_id", dot(F.col("qsv"), F.col("cv")).alias("_pip"))
    )
    scored = (
        codes.join(F.broadcast(lut), ["s", "centroid_id"])
        .filter(F.col("_id") != F.col("q_id"))
        .groupBy("q_id", F.col("_id").alias("vec_id"))
        .agg(F.sum("_pip").alias("_score"))
    )
    if not rerank:
        return _topk_reduce(scored, k)
    shortlist = _topk_reduce(scored, rerank * k).select(
        "q_id", F.col("neighbor_id").alias("vec_id")
    )
    exact = (
        shortlist.join(dv.withColumnRenamed("_id", "vec_id"), "vec_id")
        .join(F.broadcast(qv), "q_id")
        .select("q_id", "vec_id", dot(F.col("qv"), F.col("v")).alias("_score"))
    )
    return _topk_reduce(exact, k)


def semantic_dedup(
    emb: DataFrame, threshold: float = 0.95, nlist: int = 16, iters: int = 2
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
    # Centroids train on the raw vectors; the unit-normalized ones are
    # assigned to them and compared.
    cents = train_ivf_centroids(
        emb.select(F.col("vec_id").alias("_id"), as_double(F.col("embedding")).alias("v")),
        nlist,
        iters,
    )
    dv = emb.select(F.col("vec_id").alias("_id"), l2_normalize(F.col("embedding")).alias("v"))
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
            F.col("_id").alias("vec_id"),
            "cluster_id",
            F.col("dup_of").isNotNull().alias("dropped"),
            "dup_of",
        )
    )
