"""Vector-similarity query inventory (SURVEY.md §2c) over the
embeddings fixture (ArrayType(FloatType), dim=64)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taps_spark.io.tables import load_tables, materialize
from taps_spark.operators.similarity import topk_bruteforce, topk_ivf, topk_lsh
from taps_spark.queries import query


def _queries(emb: DataFrame, n: int) -> DataFrame:
    """The query set: the corpus vectors with vec_id < n, as (q_id, q_vec)."""
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )


TOPK_ORACLE = """
WITH q AS (
  SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
  FROM embeddings WHERE vec_id < 8
),
c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
  SELECT q.q_id, c.vec_id,
         list_dot_product(q.q_vec, c.v)
           / SQRT(list_dot_product(q.q_vec, q.q_vec) * list_dot_product(c.v, c.v)) AS _score
  FROM q CROSS JOIN c
  WHERE c.vec_id <> q.q_id
)
SELECT q_id, vec_id AS neighbor_id, ROUND(_score, 4) AS score, CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY _score DESC, vec_id) AS rank
  FROM s
)
WHERE rank <= 5
ORDER BY q_id, rank
"""


@query("similarity_topk_bruteforce", oracle=TOPK_ORACLE)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for 8 query vectors — the
    brute-force ANN baseline.

    Scale: broadcast(8 queries) × corpus scan; cosine is a codegen'd
    zip_with/aggregate fold in doubles (no UDF); per-query top-k cuts
    inside the window shuffle. Corpus-linear.
    """
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = _queries(emb, 8)
    return topk_bruteforce(emb, queries, k=5).orderBy("q_id", "rank")


@query("similarity_ann_lsh")  # rows-only: hyperplane seeds use xxhash64
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane LSH buckets (8 planes →
    256 buckets): the 100 TB path — candidates come from an equi-join
    on the bucket id instead of a cross join.

    Rows-only check (plane weights derive from Spark's xxhash64);
    tests/test_similarity.py pins recall against the brute-force
    query.
    """
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = _queries(emb, 8)
    return topk_lsh(emb, queries, k=5, num_planes=8, dim=64).orderBy("q_id", "rank")


@query("similarity_ann_ivf")  # rows-only: Lloyd iterations aren't ANSI-SQL
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via an IVF index (16 deterministic k-means
    centroids, one Lloyd refinement — iteration count is a plan-depth
    knob, and one step from the deterministic init already separates
    the lists; probe the 4 nearest): the second 100 TB ANN
    path — complements LSH with a data-adaptive partitioner, and in
    production the corpus is stored partitioned by centroid_id so a
    search prunes (nlist - nprobe)/nlist of the scan.

    Rows-only check (centroid training is iterative, not
    SQL-expressible); tests/test_operators.py pins recall against the
    brute-force query.
    """
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = _queries(emb, 8)
    return topk_ivf(emb, queries, k=5, nlist=16, nprobe=4, iters=1).orderBy("q_id", "rank")


NORM_ORACLE = """
WITH q AS (
  SELECT label,
         CAST(FLOOR(SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * 1000000000 + 0.5) AS DECIMAL(38,0)) AS qn
  FROM embeddings
)
SELECT label,
       COUNT(*) AS n_vecs,
       CAST(FLOOR((CAST(SUM(qn) AS DOUBLE)
                   / (CAST(COUNT(*) AS DOUBLE) * 1000000000))
                  * 1000000 + 0.5) AS BIGINT) AS avg_l2_norm_micros,
       CAST(MIN(qn) AS BIGINT) // 1000 AS min_l2_norm_micros,
       CAST(MAX(qn) AS BIGINT) // 1000 AS max_l2_norm_micros
FROM q
GROUP BY label
ORDER BY label
"""


@query("similarity_norm_stats", oracle=NORM_ORACLE)
def similarity_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm statistics — the vector-column hygiene scan
    (catches unnormalized / degenerate embeddings before ANN).
    Map-only math + tiny grouped agg.

    Determinism (r7 hardening, the DSIR lesson): per-vector norms are
    bit-identical cross-engine, but their unordered sum inside AVG was
    not order-proof — norms are nano-quantized, summed exactly in
    DECIMAL(38,0), and all three stats emitted as integer micros
    (operators/numeric.py recipe; min/max divide the nano grid down,
    both engines flooring positive integers identically)."""
    from taps_spark.operators.numeric import exact_mean_scaled, quantize_nano
    from taps_spark.operators.similarity import as_double, dot

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    v = as_double(F.col("embedding"))
    norm = F.sqrt(dot(v, v))
    return (
        emb.select("label", quantize_nano(norm).alias("qn"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("qn").alias("sq"),
            F.expr("CAST(min(qn) AS BIGINT) div 1000").alias("min_l2_norm_micros"),
            F.expr("CAST(max(qn) AS BIGINT) div 1000").alias("max_l2_norm_micros"),
        )
        .select(
            "label",
            "n_vecs",
            exact_mean_scaled(F.col("sq"), F.col("n_vecs"), 1000000).alias(
                "avg_l2_norm_micros"
            ),
            "min_l2_norm_micros",
            "max_l2_norm_micros",
        )
        .orderBy("label")
    )


NN_STATS_ORACLE = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
best AS (
  SELECT a.vec_id, a.label,
         CAST(FLOOR(MAX(list_dot_product(a.v, b.v)
                        / SQRT(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)))
                    * 1000000000 + 0.5) AS DECIMAL(38,0)) AS qbest
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
  GROUP BY a.vec_id, a.label
)
SELECT label,
       COUNT(*) AS n_vecs,
       CAST(FLOOR((CAST(SUM(qbest) AS DOUBLE)
                   / (CAST(COUNT(*) AS DOUBLE) * 1000000000))
                  * 1000000 + 0.5) AS BIGINT) AS avg_best_cos_micros,
       CAST(FLOOR(CAST(MAX(qbest) AS DOUBLE) / 1000) AS BIGINT) AS max_best_cos_micros
FROM best
GROUP BY label
ORDER BY label
"""


@query("similarity_label_nn_stats", oracle=NN_STATS_ORACLE)
def similarity_label_nn_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate scan, blocked by label: each vector's
    best intra-label cosine, rolled up per label (the dup-rate
    dashboard for an embedded corpus; with a threshold filter this IS
    embedding-cosine dedup — the fixtures' random vectors top out
    ~0.45, so the rollup keeps the result informative).

    Scale: blocking bounds the pair space to Σ|label|²; one shuffle
    on label, per-label pair scoring, map-side max. For unblocked
    corpora switch the blocker to the LSH buckets
    (operators/similarity.hyperplane_bucket)."""
    from taps_spark.operators.similarity import as_double, dot

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    # Squared norms are hoisted to per-VECTOR columns so the per-pair
    # work inside the label block is one dot, not three (same hoisted
    # value feeds the quotient — bit-identical to the inline form).
    a = emb.select(
        F.col("vec_id"), "label", as_double(F.col("embedding")).alias("va")
    ).withColumn("na2", dot(F.col("va"), F.col("va")))
    b = emb.select(
        F.col("vec_id").alias("b_id"), F.col("label").alias("b_label"),
        as_double(F.col("embedding")).alias("vb"),
    ).withColumn("nb2", dot(F.col("vb"), F.col("vb")))
    # Determinism (r7 hardening, the DSIR lesson): per-pair cosines
    # and their per-vector MAX are order-free, but the per-label AVG
    # summed doubles in arbitrary order — the max is nano-quantized
    # first, summed exactly in DECIMAL(38,0), and both stats emitted
    # as integer micros (operators/numeric.py recipe).
    from taps_spark.operators.numeric import exact_mean_scaled, quantize_nano

    cos = dot(F.col("va"), F.col("vb")) / F.sqrt(F.col("na2") * F.col("nb2"))
    best = (
        a.join(b, (F.col("label") == F.col("b_label")) & (F.col("vec_id") != F.col("b_id")))
        .groupBy("vec_id", "label")
        .agg(quantize_nano(F.max(cos)).alias("qbest"))
    )
    return (
        best.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("qbest").alias("sq"),
            F.floor(F.max("qbest").cast("double") / 1000)
            .cast("long")
            .alias("max_best_cos_micros"),
        )
        .select(
            "label",
            "n_vecs",
            exact_mean_scaled(F.col("sq"), F.col("n_vecs"), 1000000).alias(
                "avg_best_cos_micros"
            ),
            "max_best_cos_micros",
        )
        .orderBy("label")
    )


@query("similarity_ann_pq")  # rows-only: keyed Lloyd training is iterative, not ANSI-SQL
def similarity_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via product quantization (16 subspaces × 32
    codewords = 80-bit codes, asymmetric-distance scan, exact rerank
    of the 10×k ADC shortlist): the MEMORY dial of the ANN family — a
    64-dim float vector (256 B) becomes a 10-byte code, so at 100 TB
    the whole corpus index stays executor-resident while LSH/IVF
    prune the scan.

    Scan-time math is m lookup-table reads per candidate (the table
    is queries × m × ksub rows, broadcast), never full-vector
    arithmetic; full vectors are read only for the ~10×k reranked
    candidates per query. Rows-only check (codebook training is
    iterative); tests/test_operators.py pins recall overlap against
    the exact brute-force query (0.975 mean at sf0.01).
    """
    from taps_spark.operators.similarity import topk_pq

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = _queries(emb, 8)
    return topk_pq(
        emb, queries, k=5, m=16, ksub=32, dim=64, iters=2, rerank=10
    ).orderBy("q_id", "rank")


#: Shared exact per-dimension moment CTEs (r7 hardening, the DSIR
#: lesson): coordinates are nano-quantized, first/second moments
#: summed EXACTLY in DECIMAL(38,0) (order-independent), and the
#: mean/std folded to integer micros through sqrt — which, unlike the
#: log/exp libm family, is IEEE-correctly-rounded on every platform.
#: Consumed by both the fit (similarity_dim_standardize) and the
#: transform (similarity_standardize_apply); DataFrame twin is
#: _dim_folded_moments below.
_DIM_MOMENTS_CTES = """
WITH qx AS (
  SELECT vec_id, i, x,
         CAST(FLOOR(x * 1000000000 + 0.5) AS DECIMAL(38,0)) AS q
  FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings)
),
folded AS (
  SELECT i,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(FLOOR((CAST(SUM(q) AS DOUBLE)
                     / (CAST(COUNT(*) AS DOUBLE) * 1000000000))
                    * 1000000 + 0.5) AS BIGINT) AS mean_x_micros,
         CAST(FLOOR(SQRT(CAST(COUNT(*) * SUM(q * q) - SUM(q) * SUM(q) AS DOUBLE)
                         / (CAST(COUNT(*) AS DOUBLE)
                            * CAST(COUNT(*) - 1 AS DOUBLE)))
                    / 1000 + 0.5) AS BIGINT) AS std_x_micros,
         CAST(FLOOR(CAST(MIN(q) AS DOUBLE) / 1000) AS BIGINT) AS min_x_micros,
         CAST(FLOOR(CAST(MAX(q) AS DOUBLE) / 1000) AS BIGINT) AS max_x_micros
  FROM qx
  GROUP BY i
)"""

DIM_STANDARDIZE_ORACLE = _DIM_MOMENTS_CTES + """
SELECT i AS dim, mean_x_micros, std_x_micros, min_x_micros, max_x_micros
FROM folded
ORDER BY dim
"""


def _dim_folded_moments(emb: DataFrame) -> DataFrame:
    """Exact per-dimension embedding moments folded to integer micros —
    the DataFrame twin of _DIM_MOMENTS_CTES (one definition of the
    grid, the exact DECIMAL(38,0) sums, and the sqrt fold, shared by
    the fit and transform queries so they cannot diverge)."""
    from taps_spark.operators.numeric import exact_mean_scaled, quantize_nano

    ex = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x")
    )
    mom = (
        ex.select((F.col("pos") + 1).alias("dim"), quantize_nano(F.col("x")).alias("q"))
        .groupBy("dim")
        .agg(
            F.count("*").alias("n"),
            F.sum("q").alias("sq"),
            F.sum(F.col("q") * F.col("q")).alias("sqq"),
            F.min("q").alias("mnq"),
            F.max("q").alias("mxq"),
        )
    )
    var_num = (F.col("n") * F.col("sqq") - F.col("sq") * F.col("sq")).cast("double")
    std_grid = F.sqrt(
        var_num / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
    )
    return mom.select(
        "dim",
        "n",
        exact_mean_scaled(F.col("sq"), F.col("n"), 1000000).alias("mean_x_micros"),
        F.floor(std_grid / 1000 + F.lit(0.5)).cast("long").alias("std_x_micros"),
        F.floor(F.col("mnq").cast("double") / 1000).cast("long").alias("min_x_micros"),
        F.floor(F.col("mxq").cast("double") / 1000).cast("long").alias("max_x_micros"),
    )


@query("similarity_dim_standardize", oracle=DIM_STANDARDIZE_ORACLE)
def similarity_dim_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension moments of the embedding matrix (mean/std/min/
    max per coordinate) — the fit step of feature standardization
    before ANN indexing or clustering.

    posexplode fans each vector into (dim, value) rows, but the
    groupBy key space is just the dimensionality (64), so map-side
    partial aggregation collapses the shuffle to n_partitions × 64
    rows — at 100 TB the exchange carries kilobytes.  The transform
    step is then a broadcast of the 64 (mean, std) pairs and a
    zip_with, all JVM-side.

    Determinism (r7 hardening, the DSIR lesson): raw AVG/STDDEV_SAMP
    summed doubles in arbitrary order; now the exact DECIMAL(38,0)
    moment grid feeds an IEEE-exact sqrt fold — see _DIM_MOMENTS_CTES.
    """
    return _dim_folded_moments(
        load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    ).select(
        "dim", "mean_x_micros", "std_x_micros", "min_x_micros", "max_x_micros"
    ).orderBy("dim")


STANDARDIZE_APPLY_ORACLE = _DIM_MOMENTS_CTES + """,
arrs AS (
  SELECT LIST(CAST(mean_x_micros AS DOUBLE) / 1000000 ORDER BY i) AS means,
         LIST(CAST(std_x_micros AS DOUBLE) / 1000000 ORDER BY i) AS sds
  FROM folded
),
z AS (
  SELECT e.vec_id,
         LIST_TRANSFORM(range(1, LEN(e.embedding) + 1),
             i -> (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                   - arrs.means[CAST(i AS INT)])
                  / arrs.sds[CAST(i AS INT)]) AS zs
  FROM embeddings e CROSS JOIN arrs
)
SELECT vec_id,
       LIST_REDUCE(LIST_TRANSFORM(zs, z -> CAST(FLOOR(z * 1000 + 0.5) AS BIGINT)),
                   (a, b) -> a + b) AS z_millis_sum,
       LEN(LIST_FILTER(zs, z -> ABS(z) > 3.0)) AS n_clipped
FROM z
ORDER BY vec_id
"""


@query("similarity_standardize_apply", oracle=STANDARDIZE_APPLY_ORACLE)
def similarity_standardize_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRANSFORM step of feature standardization: z-score every
    embedding coordinate against the corpus per-dimension moments
    (the fit step is similarity_dim_standardize), reporting an exact
    integer checksum of the standardized vector plus its |z|>3
    outlier count.

    Fully declarative fit→transform: the 64 per-dimension moments
    collapse into one row of ordered arrays (sort_array∘collect_list)
    that CROSS-JOIN-broadcasts onto the corpus; the transform is a
    zip-indexed array expression — map-only after one KB-scale
    exchange, no driver collect, no Python.  The checksum sums
    per-element integer millis so it is order-insensitive AND exact —
    the cross-engine-safe way to fingerprint a float vector.

    Determinism (r7 hardening, the DSIR lesson): the moments enter as
    the FOLDED integer micros of _dim_folded_moments (exact decimal
    sums + IEEE-exact sqrt), so every per-coordinate z is bit-identical
    cross-engine; the per-element fold is FLOOR(z*1000+0.5), not
    engine ROUND.
    """
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    stats = _dim_folded_moments(emb).select(
        (F.col("dim") - 1).alias("pos"),
        (F.col("mean_x_micros").cast("double") / 1000000).alias("m"),
        (F.col("std_x_micros").cast("double") / 1000000).alias("sd"),
    )
    arrs = stats.agg(
        F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("ms"),
        F.array_sort(F.collect_list(F.struct("pos", "sd"))).alias("ss"),
    ).select(
        F.expr("transform(ms, e -> e.m)").alias("means"),
        F.expr("transform(ss, e -> e.sd)").alias("sds"),
    )
    z = emb.crossJoin(F.broadcast(arrs)).select(
        "vec_id",
        F.expr(
            "transform(sequence(1, size(embedding)), "
            "i -> (CAST(embedding[i - 1] AS DOUBLE) - means[i - 1]) / sds[i - 1])"
        ).alias("zs"),
    )
    return z.select(
        "vec_id",
        F.expr(
            "aggregate(transform(zs, z -> CAST(FLOOR(z * 1000 + 0.5D) AS BIGINT)), "
            "0L, (a, b) -> a + b)"
        ).alias("z_millis_sum"),
        F.expr("size(filter(zs, z -> ABS(z) > 3.0D))").alias("n_clipped"),
    ).orderBy("vec_id")


MIPS_ORACLE = """
WITH q AS (
  SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
  FROM embeddings WHERE vec_id < 8
),
c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
  SELECT q.q_id, c.vec_id, list_dot_product(q.q_vec, c.v) AS _score
  FROM q CROSS JOIN c
  WHERE c.vec_id <> q.q_id
)
SELECT q_id, vec_id AS neighbor_id, ROUND(_score, 4) AS score, CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY _score DESC, vec_id) AS rank
  FROM s
)
WHERE rank <= 5
ORDER BY q_id, rank
"""


@query("similarity_mips_topk", oracle=MIPS_ORACLE)
def similarity_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search (MIPS) top-5 — the retrieval
    scoring used by dot-product-trained embedding models (DPR-style
    retrievers), where the UN-normalized inner product is the ranking
    key and cosine would wrongly discount high-norm items.

    Exact baseline on the same machinery as the cosine path: the
    scored pairs reduce map-side via WindowGroupLimit(Partial). For
    the ANN path at corpus scale, MIPS reduces to cosine by norm
    augmentation (append sqrt(M² − ‖v‖²) to each vector, Shrivastava
    & Li 2014), after which the existing hyperplane-LSH / IVF /
    PQ routes (similarity_ann_*) apply unchanged.
    """
    from taps_spark.operators.similarity import _topk_reduce, as_double, dot

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = _queries(emb, 8)
    scored = (
        emb.join(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            dot(as_double(F.col("q_vec")), as_double(F.col("embedding"))).alias("_score"),
        )
    )
    return _topk_reduce(scored, 5).orderBy("q_id", "rank")


LSH_RECALL_ORACLE = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         [CAST(ROUND(x * 1000) AS BIGINT) FOR x IN embedding::DOUBLE[]] AS q
  FROM embeddings
),
exact AS (
  SELECT q_id, vec_id AS neighbor_id
  FROM (
    SELECT a.vec_id AS q_id, b.vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY a.vec_id
             ORDER BY list_dot_product(a.e, b.e)
                      / SQRT(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)) DESC,
                      b.vec_id) AS rank
    FROM v a JOIN v b ON b.vec_id <> a.vec_id
    WHERE a.vec_id < 32
  ) WHERE rank <= 3
),
w AS (
  SELECT b.band, p.plane, i.pos,
         CASE WHEN ('0x' || SUBSTR(MD5(b.band || '_' || p.plane || '_' || i.pos), 1, 15))::BIGINT % 2 = 1
              THEN 1 ELSE -1 END AS wgt
  FROM (SELECT unnest(range(4)) AS band) b
  CROSS JOIN (SELECT unnest(range(4)) AS plane) p
  CROSS JOIN (SELECT unnest(range(64)) AS pos) i
),
proj AS (
  SELECT v.vec_id, w.band, w.plane, SUM(w.wgt * v.q[w.pos + 1]) AS proj
  FROM v CROSS JOIN w
  GROUP BY 1, 2, 3
),
bucketed AS (
  SELECT vec_id, band,
         SUM(CASE WHEN proj > 0 THEN (CAST(1 AS BIGINT) << plane) ELSE 0 END) AS bucket
  FROM proj GROUP BY 1, 2
),
blocked AS (
  SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS neighbor_id
  FROM bucketed a
  JOIN bucketed b ON a.band = b.band AND a.bucket = b.bucket AND b.vec_id <> a.vec_id
  WHERE a.vec_id < 32
),
hits AS (
  SELECT e.q_id,
         CAST(COUNT(b.neighbor_id) AS INT) AS n_hits
  FROM exact e LEFT JOIN blocked b
    ON b.q_id = e.q_id AND b.neighbor_id = e.neighbor_id
  GROUP BY e.q_id
)
SELECT n_hits, COUNT(*) AS n_queries,
       ROUND(CAST(n_hits AS DOUBLE) / 3, 4) AS recall_at_3
FROM hits GROUP BY n_hits ORDER BY n_hits
"""


@query("similarity_lsh_recall_report", oracle=LSH_RECALL_ORACLE)
def similarity_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality audit, exactly: for 32 query vectors, how many of
    the true cosine top-3 neighbors does banded hyperplane-LSH
    blocking (4 bands × 4 planes) recover? Reported as a recall@3
    histogram — the measurement you run before trusting a blocking
    configuration at corpus scale, where a recall miss is silent data
    loss in a dedup pass.

    Fully oracle-gated (unlike the xxhash64 ANN paths) because the
    buckets use the md5-parity portable projections shared with
    dedup_embedding_lsh — both the EXACT side and the BLOCKED side
    are bit-reproducible in DuckDB.

    Scale: exact side is broadcast(32 queries) × corpus with
    WindowGroupLimit partial top-k; blocked side is the linear
    (band, bucket) equi-join. The report join touches 96 exact rows.
    """
    from taps_spark.operators.dedup import portable_band_buckets

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    exact = topk_bruteforce(emb, _queries(emb, 32), k=3).select("q_id", "neighbor_id")

    buckets = portable_band_buckets(emb, bands=4, planes=4).select("band", "bucket", "id")
    qb = buckets.filter(F.col("id") < 32).select(
        "band", "bucket", F.col("id").alias("q_id")
    )
    blocked = (
        qb.join(buckets, ["band", "bucket"])
        .filter(F.col("id") != F.col("q_id"))
        .select("q_id", F.col("id").alias("neighbor_id"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    hits = (
        exact.join(blocked, ["q_id", "neighbor_id"], "left")
        .groupBy("q_id")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).cast("int").alias("n_hits"))
    )
    return (
        hits.groupBy("n_hits")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.round(F.col("n_hits").cast("double") / 3, 4).alias("recall_at_3"),
        )
        .select("n_hits", "n_queries", "recall_at_3")
        .orderBy("n_hits")
    )


DIM_DRIFT_ORACLE = """
WITH q AS (
  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(ROUND(unnest(embedding)::DOUBLE * 1000) AS BIGINT) AS qv
  FROM embeddings WHERE label IN (0, 1)
),
m AS (
  SELECT dim, label, COUNT(*) AS n,
         CAST(SUM(qv) AS BIGINT) AS s, CAST(SUM(qv * qv) AS BIGINT) AS ss
  FROM q GROUP BY dim, label
),
w AS (
  SELECT a.dim, a.n AS n0, b.n AS n1,
         -- degenerate groups (n<=1 or zero pooled variance) produce
         -- NaN/Inf here but NULL in Spark; both sides filter them
         -- below so the rank sets agree
         CAST(a.s AS DOUBLE) / a.n AS m0, CAST(b.s AS DOUBLE) / b.n AS m1,
         (CAST(a.n AS DOUBLE) * a.ss - CAST(a.s AS DOUBLE) * a.s)
           / (CAST(a.n AS DOUBLE) * (a.n - 1)) AS v0,
         (CAST(b.n AS DOUBLE) * b.ss - CAST(b.s AS DOUBLE) * b.s)
           / (CAST(b.n AS DOUBLE) * (b.n - 1)) AS v1
  FROM (SELECT * FROM m WHERE label = 0) a
  JOIN (SELECT * FROM m WHERE label = 1) b USING (dim)
)
SELECT CAST(dim AS INT) AS dim, n0, n1,
       ROUND(m1 - m0, 4) AS mean_diff_q,
       ROUND((m1 - m0) / SQRT(v0 / n0 + v1 / n1), 4) AS t_stat,
       CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    ORDER BY ABS((m1 - m0) / SQRT(v0 / n0 + v1 / n1)) DESC, dim) AS rank
  FROM w
  WHERE n0 > 1 AND n1 > 1 AND (v0 / n0 + v1 / n1) > 0
)
WHERE rank <= 5
ORDER BY rank
"""


@query("similarity_dim_drift", oracle=DIM_DRIFT_ORACLE)
def similarity_dim_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding DRIFT detection between two slices (labels 0 vs 1):
    Welch t-statistic per dimension from integer-quantized moments,
    top-5 most-shifted coordinates — the check you run when a new
    encoder version or data source lands, before mixing embeddings
    that silently live in different subspaces.

    Determinism: counts, Σq and Σq² are exact integers (1e3-quantized
    components); means/variances/t derive from them with identical
    IEEE steps cross-engine. Scale: posexplode to (dim, label) grain
    — 128 groups, map-side combined — then a 64-row join and a
    WindowGroupLimit top-5.
    """
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    q = emb.filter(F.col("label").isin(0, 1)).select(
        "label",
        F.posexplode(
            F.expr("transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint))")
        ).alias("dim", "qv"),
    )
    m = q.groupBy("dim", "label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qv").cast("long").alias("s"),
        F.sum(F.col("qv") * F.col("qv")).cast("long").alias("ss"),
    )
    a = m.filter(F.col("label") == 0).select(
        "dim", F.col("n").alias("n0"), F.col("s").alias("s0"), F.col("ss").alias("ss0")
    )
    b = m.filter(F.col("label") == 1).select(
        "dim", F.col("n").alias("n1"), F.col("s").alias("s1"), F.col("ss").alias("ss1")
    )
    j = a.join(b, "dim")
    m0 = F.col("s0").cast("double") / F.col("n0")
    m1 = F.col("s1").cast("double") / F.col("n1")
    v0 = (F.col("n0").cast("double") * F.col("ss0") - F.col("s0").cast("double") * F.col("s0")) / (
        F.col("n0").cast("double") * (F.col("n0") - 1)
    )
    v1 = (F.col("n1").cast("double") * F.col("ss1") - F.col("s1").cast("double") * F.col("s1")) / (
        F.col("n1").cast("double") * (F.col("n1") - 1)
    )
    t = (m1 - m0) / F.sqrt(v0 / F.col("n0") + v1 / F.col("n1"))
    # Degenerate-group guard (n<=1 or zero pooled variance): Spark
    # yields NULL where DuckDB yields NaN/Inf, and they rank
    # differently — exclude on BOTH sides instead.
    scored = (
        j.filter((F.col("n0") > 1) & (F.col("n1") > 1))
        .filter((v0 / F.col("n0") + v1 / F.col("n1")) > 0)
        .select(
            "dim", "n0", "n1",
            F.round(m1 - m0, 4).alias("mean_diff_q"),
            F.round(t, 4).alias("t_stat"),
            F.abs(t).alias("_abs_t"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("_abs_t"), "dim")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("dim", "n0", "n1", "mean_diff_q", "t_stat", "rank")
        .orderBy("rank")
    )


SCALAR_QUANTIZE_ORACLE = """
WITH ex AS (
  SELECT CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
),
rng AS (
  SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM ex GROUP BY i
),
q AS (
  SELECT e.i, r.lo, r.hi,
         ABS(CASE WHEN r.hi = r.lo THEN r.lo
                  ELSE r.lo + FLOOR((e.x - r.lo) / ((r.hi - r.lo) / 255.0) + 0.5)
                            * ((r.hi - r.lo) / 255.0)
             END - e.x) AS err
  FROM ex e JOIN rng r USING (i)
)
SELECT CAST(i AS INT) AS dim,
       ROUND(lo, 4) AS lo,
       ROUND(hi, 4) AS hi,
       ROUND(MAX(err), 6) AS max_abs_err,
       CAST(SUM(CAST(ROUND(err * 1000000) AS BIGINT)) AS BIGINT) AS sum_err_micros
FROM q
GROUP BY i, lo, hi
ORDER BY dim
"""


@query("similarity_scalar_quantize_int8", oracle=SCALAR_QUANTIZE_ORACLE)
def similarity_scalar_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization fidelity report — the train step of
    the 4x-compression trick every production vector index applies
    before PQ: per-dimension [min, max] over the corpus defines a
    256-level uniform grid; each value quantizes to the nearest level
    and the report carries the per-dimension reconstruction error
    (max, plus an exact integer-micros sum so the oracle comparison
    is order-free — the cross-engine float recipe).

    Scale: posexplode to (dim, value) grain with map-side-combined
    min/max (64 keys — the exchange carries bytes), broadcast the
    64-row grid back onto the exploded stream, aggregate to dim grain
    again. Two tiny shuffles, all JVM expressions; at 100 TB the cost
    is the two corpus scans, both column-pruned to the vector column.

    Determinism: quantize = lo + floor((x-lo)/step + 0.5)*step in
    explicit IEEE double ops (no engine ROUND in the hot path), so
    per-value errors are bit-identical cross-engine; MAX is exact and
    the sum is integer.
    """
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    ex = emb.select(
        F.posexplode("embedding").alias("pos", "xf")
    ).select((F.col("pos") + 1).alias("i"), F.col("xf").cast("double").alias("x"))
    rng = ex.groupBy("i").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    step = (F.col("hi") - F.col("lo")) / 255.0
    deq = F.when(F.col("hi") == F.col("lo"), F.col("lo")).otherwise(
        F.col("lo") + F.floor((F.col("x") - F.col("lo")) / step + 0.5) * step
    )
    q = ex.join(F.broadcast(rng), "i").select(
        "i", "lo", "hi", F.abs(deq - F.col("x")).alias("err")
    )
    return (
        q.groupBy("i", "lo", "hi")
        .agg(
            F.round(F.max("err"), 6).alias("max_abs_err"),
            F.sum(F.round(F.col("err") * 1000000, 0).cast("long"))
            .cast("long")
            .alias("sum_err_micros"),
        )
        .select(
            F.col("i").cast("int").alias("dim"),
            F.round("lo", 4).alias("lo"),
            F.round("hi", 4).alias("hi"),
            "max_abs_err",
            "sum_err_micros",
        )
        .orderBy("dim")
    )


MATRYOSHKA_ORACLE = """
WITH q AS (
  SELECT vec_id AS q_id,
         embedding::DOUBLE[] AS qf,
         (embedding[1:16])::DOUBLE[] AS qp
  FROM embeddings WHERE vec_id < 8
),
c AS (
  SELECT vec_id,
         embedding::DOUBLE[] AS vf,
         (embedding[1:16])::DOUBLE[] AS vp
  FROM embeddings
),
sf AS (
  SELECT q.q_id, c.vec_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.q_id
           ORDER BY list_dot_product(q.qf, c.vf)
                    / SQRT(list_dot_product(q.qf, q.qf) * list_dot_product(c.vf, c.vf))
                    DESC, c.vec_id) AS r
  FROM q CROSS JOIN c WHERE c.vec_id <> q.q_id
),
sp AS (
  SELECT q.q_id, c.vec_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.q_id
           ORDER BY list_dot_product(q.qp, c.vp)
                    / SQRT(list_dot_product(q.qp, q.qp) * list_dot_product(c.vp, c.vp))
                    DESC, c.vec_id) AS r
  FROM q CROSS JOIN c WHERE c.vec_id <> q.q_id
)
SELECT f.q_id,
       CAST(COUNT(p.vec_id) AS INT) AS n_overlap,
       ROUND(CAST(COUNT(p.vec_id) AS DOUBLE) / 5, 2) AS recall_at_5
FROM (SELECT * FROM sf WHERE r <= 5) f
LEFT JOIN (SELECT * FROM sp WHERE r <= 5) p
  ON p.q_id = f.q_id AND p.vec_id = f.vec_id
GROUP BY f.q_id
ORDER BY f.q_id
"""


@query("similarity_matryoshka_prefix_recall", oracle=MATRYOSHKA_ORACLE)
def similarity_matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation audit: how much of the exact
    64-dim cosine top-5 survives when the index stores only the FIRST
    16 dimensions — the question every matryoshka deployment answers
    before shipping the cheap prefix index (4x memory/compute cut).
    Reports per-query overlap and recall@5 of prefix-ranked against
    full-ranked neighbors.

    Scale: two brute-force rankings over the same broadcast(queries)
    x corpus scan shape as similarity_topk_bruteforce — each reduces
    map-side via WindowGroupLimit, so the shuffle carries k rows per
    query per partition; the prefix ranking reads the SAME scan with
    a slice() projection (no second materialized index).

    Determinism: identical dot-product fold order on both engines;
    rank ties break on vec_id; recall is an exact fifth.
    """
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    full_q = _queries(emb, 8)
    pref_q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.slice("embedding", 1, 16).alias("q_vec")
    )
    pref_c = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    full5 = topk_bruteforce(emb, full_q, k=5).select("q_id", "neighbor_id")
    pref5 = topk_bruteforce(pref_c, pref_q, k=5).select(
        F.col("q_id").alias("pq"), F.col("neighbor_id").alias("pv")
    )
    return (
        full5.join(
            pref5,
            (F.col("q_id") == F.col("pq")) & (F.col("neighbor_id") == F.col("pv")),
            "left",
        )
        .groupBy("q_id")
        .agg(F.count("pv").cast("int").alias("n_overlap"))
        .select(
            "q_id",
            "n_overlap",
            F.round(F.col("n_overlap").cast("double") / 5, 2).alias("recall_at_5"),
        )
        .orderBy("q_id")
    )


CENTROID_SEP_ORACLE = """
WITH raw AS (
  SELECT label, unnest(embedding::DOUBLE[]) AS x,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings
),
cent AS (
  SELECT label, dim,
         CAST(SUM(CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS s
  FROM raw GROUP BY label, dim
),
pair AS (
  SELECT a.label AS label_a, b.label AS label_b,
         SUM(CAST(a.s AS DECIMAL(38,0)) * b.s) AS ab,
         SUM(CAST(a.s AS DECIMAL(38,0)) * a.s) AS aa,
         SUM(CAST(b.s AS DECIMAL(38,0)) * b.s) AS bb
  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
  GROUP BY 1, 2
)
SELECT label_a, label_b,
       CAST(FLOOR((CAST(ab AS DOUBLE)
                   / SQRT(CAST(aa AS DOUBLE) * CAST(bb AS DOUBLE)))
                  * 1000000 + 0.5) AS BIGINT) AS centroid_cos_micros
FROM pair
ORDER BY label_a, label_b
"""


@query("similarity_label_centroid_separation", oracle=CENTROID_SEP_ORACLE)
def similarity_label_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-class centroid separation: the pairwise cosine between
    every two LABEL CENTROIDS — the embedding-space health check run
    before training a classifier or building an IVF index on class
    structure (two classes whose centroids sit at cosine ~1 will
    never separate; the fixtures' random vectors should sit near 0).
    Cosine is scale-invariant, so the exact per-dimension coordinate
    SUMS stand in for the means and no division ever happens before
    the final fold.

    Scale: one (label x dim)-grain agg over micro-quantized
    coordinates (map-side combined to |labels| x dim rows), then an
    equi-join on dim over that TINY frame — pair work is
    |labels|^2 x dim regardless of corpus size.

    Determinism: per-coordinate micro quantization, exact BIGINT
    per-dimension sums, exact DECIMAL(38,0) dot products; one
    double fold through IEEE-exact sqrt to integer micros.
    """
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    ex = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    )
    cent = (
        ex.select(
            "label",
            (F.col("pos") + 1).alias("dim"),
            F.floor(F.col("x") * 1000000 + F.lit(0.5)).cast("long").alias("q"),
        )
        .groupBy("label", "dim")
        .agg(F.sum("q").alias("s"))
    )
    a = cent.select(
        F.col("label").alias("label_a"), "dim", F.col("s").alias("sa")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "dim", F.col("s").alias("sb")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    pair = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(dec(F.col("sa")) * F.col("sb")).alias("ab"),
            F.sum(dec(F.col("sa")) * F.col("sa")).alias("aa"),
            F.sum(dec(F.col("sb")) * F.col("sb")).alias("bb"),
        )
    )
    return pair.select(
        "label_a",
        "label_b",
        F.floor(
            (
                F.col("ab").cast("double")
                / F.sqrt(F.col("aa").cast("double") * F.col("bb").cast("double"))
            )
            * 1000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("centroid_cos_micros"),
    ).orderBy("label_a", "label_b")


JL_AUDIT_ORACLE = """
WITH raw AS (
  SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
         generate_subscripts(embedding, 1) AS d
  FROM embeddings WHERE vec_id < 40
),
q AS (
  SELECT vec_id, d, CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT) AS qx FROM raw
),
proj AS (
  SELECT q.vec_id, k.k,
         CAST(SUM(CASE WHEN ('0x' || SUBSTRING(MD5(CAST(k.k AS VARCHAR) || ':' || CAST(q.d AS VARCHAR)), 1, 1))::INT < 8
                       THEN q.qx ELSE -q.qx END) AS BIGINT) AS y
  FROM q CROSS JOIN (SELECT unnest(range(1, 17)) AS k) k
  GROUP BY q.vec_id, k.k
),
pd AS (
  SELECT a.vec_id AS ida, b.vec_id AS idb,
         CAST(SUM((a.y - b.y) * (a.y - b.y)) AS BIGINT) AS d2p
  FROM proj a JOIN proj b ON a.k = b.k AND a.vec_id < b.vec_id
  GROUP BY 1, 2
),
od AS (
  SELECT a.vec_id AS ida, b.vec_id AS idb,
         CAST(SUM((a.qx - b.qx) * (a.qx - b.qx)) AS BIGINT) AS d2o
  FROM q a JOIN q b ON a.d = b.d AND a.vec_id < b.vec_id
  GROUP BY 1, 2
),
ratio AS (
  SELECT pd.ida, pd.idb,
         CAST(FLOOR(((CAST(pd.d2p AS DOUBLE) / 16) / od.d2o) * 1000000 + 0.5)
              AS BIGINT) AS ratio_micros
  FROM pd JOIN od ON od.ida = pd.ida AND od.idb = pd.idb
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(MIN(ratio_micros) AS BIGINT) AS min_ratio_micros,
       CAST(MAX(ratio_micros) AS BIGINT) AS max_ratio_micros,
       CAST(FLOOR(CAST(SUM(ratio_micros) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
         AS avg_ratio_micros,
       CAST(SUM(CASE WHEN ratio_micros BETWEEN 700000 AND 1300000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_within_30pct
FROM ratio
"""


@query("similarity_jl_projection_audit", oracle=JL_AUDIT_ORACLE)
def similarity_jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random-projection audit: project a
    sampled vector block (vec_id < 40) from 64 to 16 dimensions with
    a DETERMINISTIC ±1 sign matrix (md5(k:d) first hex digit), then
    measure how well pairwise squared distances survive
    (projected/16 vs original, as a ratio) — the fidelity check run
    before shipping a cheap projected index to a 100 TB ANN tier.

    Scale: the sign matrix is an expression, never materialized; the
    projection is one (vec x k)-grain agg over the SAMPLED block, and
    pair work is sample-quadratic by construction (the sample size is
    the knob, exactly like dedup_minhash_estimate_quality).

    Determinism: coordinates are micro-quantized BEFORE projecting,
    so projections and squared distances are exact BIGINTs
    (|y| <= 64·|qx| keeps the 16-term square sum under 2^63); the
    ratio folds once per pair, and the mean folds from the exact
    integer ratio sum.
    """
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"].filter(
        F.col("vec_id") < 40
    )
    q = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("d"),
        F.floor(F.col("x") * 1000000 + F.lit(0.5)).cast("long").alias("qx"),
    )
    ks = spark.range(1, 17).select(F.col("id").cast("int").alias("k"))
    sign = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("k").cast("string"), F.lit(":"), F.col("d").cast("string")
                    )
                ),
                1,
                1,
            ),
            16,
            10,
        ).cast("int")
        < 8
    )
    proj = (
        q.crossJoin(F.broadcast(ks))
        .select(
            "vec_id",
            "k",
            F.when(sign, F.col("qx")).otherwise(-F.col("qx")).alias("sx"),
        )
        .groupBy("vec_id", "k")
        .agg(F.sum("sx").alias("y"))
    )
    pa = proj.select(F.col("vec_id").alias("ida"), "k", F.col("y").alias("ya"))
    pb = proj.select(F.col("vec_id").alias("idb"), "k", F.col("y").alias("yb"))
    pd_ = (
        pa.join(F.broadcast(pb), "k")
        .filter(F.col("ida") < F.col("idb"))
        .groupBy("ida", "idb")
        .agg(
            F.sum((F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))).alias("d2p")
        )
    )
    qa = q.select(F.col("vec_id").alias("ida"), "d", F.col("qx").alias("xa"))
    qb = q.select(F.col("vec_id").alias("idb"), "d", F.col("qx").alias("xb"))
    od = (
        qa.join(F.broadcast(qb), "d")
        .filter(F.col("ida") < F.col("idb"))
        .groupBy("ida", "idb")
        .agg(
            F.sum((F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))).alias("d2o")
        )
    )
    ratio = pd_.join(F.broadcast(od), ["ida", "idb"]).select(
        F.floor(
            ((F.col("d2p").cast("double") / 16) / F.col("d2o")) * 1000000 + F.lit(0.5)
        )
        .cast("long")
        .alias("ratio_micros")
    )
    return ratio.agg(
        F.count("*").alias("n_pairs"),
        F.min("ratio_micros").cast("long").alias("min_ratio_micros"),
        F.max("ratio_micros").cast("long").alias("max_ratio_micros"),
        F.floor(F.sum("ratio_micros").cast("double") / F.count("*") + F.lit(0.5))
        .cast("long")
        .alias("avg_ratio_micros"),
        F.sum(
            F.when(
                F.col("ratio_micros").between(700000, 1300000), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_within_30pct"),
    )


COVARIANCE_ORACLE = """
WITH raw AS (
  SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
         generate_subscripts(embedding, 1) AS d
  FROM embeddings WHERE vec_id < 500
),
q AS (
  SELECT vec_id, d, CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT) AS qx FROM raw
),
marg AS (
  SELECT d, CAST(SUM(qx) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
  FROM q GROUP BY d
),
cross_ AS (
  SELECT a.d AS i, b.d AS j, CAST(SUM(a.qx * b.qx) AS BIGINT) AS sqq
  FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.d >= a.d
  GROUP BY a.d, b.d
)
SELECT c.i, c.j,
       CAST(ma.n * c.sqq - ma.s * mb.s AS BIGINT) AS cov_grid
FROM cross_ c
JOIN marg ma ON ma.d = c.i
JOIN marg mb ON mb.d = c.j
ORDER BY i, j
"""


@query("similarity_covariance_matrix", oracle=COVARIANCE_ORACLE)
def similarity_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding covariance matrix (upper triangle, scaled by
    n²) over a deterministic 500-vector block — the fit input for
    whitening / PCA / ZCA preprocessing of an embedding corpus,
    computed ENTIRELY on an integer grid: cov_grid(i,j) =
    n·Σqᵢqⱼ − Σqᵢ·Σqⱼ with micro-quantized coordinates, so every
    cell is an exact BIGINT on any engine (true covariance =
    cov_grid / (n²·1e12)).

    Scale: the pair fan-out is per-ROW dim² (64² map-side, combined
    to 2080 groups before the exchange) — corpus-linear; the block
    bound keeps the BIGINT cross-products safe (|cov_grid| ≤
    n²·(4e6)² ⇒ DECIMAL(38,0) past ~2M-row blocks, same fold).

    Determinism: integer grid end to end; no floats in the output.
    """
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"].filter(
        F.col("vec_id") < 500
    )
    q = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("d"),
        F.floor(F.col("x") * 1000000 + F.lit(0.5)).cast("long").alias("qx"),
    )
    marg = q.groupBy("d").agg(
        F.sum("qx").alias("s"), F.count("*").alias("n")
    )
    a = q.select("vec_id", F.col("d").alias("i"), F.col("qx").alias("qa"))
    b = q.select("vec_id", F.col("d").alias("j"), F.col("qx").alias("qb"))
    cross = (
        a.join(b, "vec_id")
        .filter(F.col("j") >= F.col("i"))
        .groupBy("i", "j")
        .agg(F.sum(F.col("qa") * F.col("qb")).alias("sqq"))
    )
    ma = marg.select(F.col("d").alias("i"), F.col("s").alias("sa"), "n")
    mb = marg.select(F.col("d").alias("j"), F.col("s").alias("sb"))
    return (
        cross.join(F.broadcast(ma), "i")
        .join(F.broadcast(mb), "j")
        .select(
            "i",
            "j",
            (F.col("n") * F.col("sqq") - F.col("sa") * F.col("sb"))
            .cast("long")
            .alias("cov_grid"),
        )
        .orderBy("i", "j")
    )


@query("similarity_pca_top_component")  # rows-only: iterative power method
def similarity_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding block: the exact
    integer covariance (similarity_covariance_matrix — the only
    corpus-scale stage, distributed and oracle-gated) collected as a
    dim×dim grid, then 8 power-iteration rounds from the all-ones
    start on the driver — the MLlib PCA shape
    (RowMatrix.computePrincipalComponents likewise aggregates the
    Gramian and eigensolves driver-side), because the matrix is dim²
    plan-time-bounded metadata, not data. Sign convention: the
    largest-|component| coordinate is made positive.

    Until r12 the 8 matvec rounds ran as DISTRIBUTED joins over the
    64-row matrix frame; the rounds were pure driver-coordination
    overhead (dozens of ~0.2 s jobs moving 64 rows each) and the two
    PCA queries cost 18.8 s of the sf0.1 sweep. The driver matvec is
    the same float64 math in the same order (tests pin equality to
    the NumPy replay), and the covariance stage is unchanged.

    Rows-only (the normalization chain is iterative IEEE, not
    ANSI-SQL); tests/test_operators.py pins the result against a
    dense NumPy power-iteration replay at 1e-6 and checks unit norm.
    """
    C = _cov_dense(spark, sf_dir)
    x = _pca_power_numpy(C, ())
    return _component_frame(spark, [x]).select("dim", "component").orderBy("dim")


def _cov_dense(spark, sf_dir: str):
    """The integer covariance grid as a dense symmetric NumPy float64
    matrix — a dim²-bounded driver collect (≤ 2080 rows at dim=64),
    the same bounded-metadata class as the engine's other plan-time
    collects; cells are exact BIGINTs, cast to double exactly as the
    former distributed matvec did."""
    import numpy as np

    rows = similarity_covariance_matrix(spark, sf_dir).collect()
    dim = max(r["j"] for r in rows)
    C = np.zeros((dim, dim))
    for r in rows:
        c = float(r["cov_grid"])
        C[r["i"] - 1, r["j"] - 1] = c
        C[r["j"] - 1, r["i"] - 1] = c
    return C


def _pca_power_numpy(C, prior, n_iter: int = 8):
    """8 power-iteration matvecs from the all-ones start; each matvec
    result is orthogonalized against every vector in `prior`
    (y −= (vᵀy)·v — projection deflation, numerically exact
    orthogonality regardless of eigengap, where subtract-λvvᵀ
    deflation needs O(log ε / log(λ₂/λ₁)) rounds to converge first).
    Identical operation order to the pinned NumPy replay in
    tests/test_operators.py."""
    import math

    import numpy as np

    x = np.ones(C.shape[0])
    for _ in range(n_iter):
        y = C @ x
        for v in prior:
            y = y - float(np.dot(v, y)) * v
        x = y / math.sqrt(float((y * y).sum()))
    return x


def _component_frame(spark, comps):
    """Apply the largest-|coordinate|-positive sign convention and
    emit (pc, dim, component) rows; rounding is HALF_UP on the
    shortest decimal repr — exactly what Spark's round(double, 6)
    computes (BigDecimal.valueOf → setScale HALF_UP)."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    data = []
    for k, x in enumerate(comps, start=1):
        if x[int(np.argmax(np.abs(x)))] < 0:
            x = -x
        for d, v in enumerate(x, start=1):
            q = Decimal(repr(float(v))).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
            data.append((k, d, float(q)))
    return spark.createDataFrame(data, "pc int, dim int, component double")


@query("similarity_pca_components")  # rows-only: iterative deflated power method
def similarity_pca_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 principal components via power iteration with PROJECTION
    deflation (VERDICT r7 task #4): component k's matvec results are
    orthogonalized against components 1..k−1 inside every round
    (y −= (vᵀy)v) — whitening at scale needs more than the single top
    direction. Projection deflation is chosen over subtract-λvvᵀ
    deflation because this fixture's eigengap is tiny (λ₂/λ₁ ≈ 0.93):
    explicit deflation inherits the λ/v estimation error of whatever
    rounds preceded it, while projection keeps the components EXACTLY
    pairwise orthogonal at any round budget.

    The only corpus-scale stage is the (oracle-gated) integer
    covariance build — distributed, unchanged; the three 8-round
    power loops run on the collected dim×dim grid on the driver (the
    MLlib computePrincipalComponents shape — see
    similarity_pca_top_component's docstring for the r12 measurement
    that retired the distributed 64-row matvec rounds).

    Rows-only (iterative IEEE); tests/test_operators.py pins all
    three components against a dense NumPy replay of the identical
    algorithm and checks unit norms + pairwise orthogonality.
    """
    C = _cov_dense(spark, sf_dir)
    comps = []
    for _ in range(3):
        comps.append(_pca_power_numpy(C, tuple(comps)))
    return _component_frame(spark, comps).orderBy("pc", "dim")


KNN_EVAL_ORACLE = """
WITH q AS (
  SELECT vec_id AS q_id, label AS true_label, embedding::DOUBLE[] AS q_vec
  FROM embeddings WHERE vec_id < 100
),
c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
  SELECT q.q_id, q.true_label, c.vec_id, c.label,
         list_dot_product(q.q_vec, c.v)
           / SQRT(list_dot_product(q.q_vec, q.q_vec) * list_dot_product(c.v, c.v))
           AS _score
  FROM q CROSS JOIN c
  WHERE c.vec_id <> q.q_id
),
top AS (
  SELECT q_id, true_label, label
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                     ORDER BY _score DESC, vec_id) AS rnk
        FROM s)
  WHERE rnk <= 5
),
votes AS (
  SELECT q_id, true_label, label, COUNT(*) AS votes
  FROM top GROUP BY q_id, true_label, label
),
pred AS (
  SELECT q_id, true_label, label AS pred_label
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                     ORDER BY votes DESC, label) AS r
        FROM votes)
  WHERE r = 1
)
SELECT true_label,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       CAST(FLOOR((CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                        AS DOUBLE) / COUNT(*)) * 1000000 + 0.5) AS BIGINT)
         AS accuracy_ppm
FROM pred
GROUP BY true_label
ORDER BY true_label
"""


@query("similarity_knn_classifier_eval", oracle=KNN_EVAL_ORACLE)
def similarity_knn_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN majority-vote label prediction over exact cosine,
    evaluated on a 100-query block — the standard embedding-quality
    probe (kNN accuracy) run before trusting a space for retrieval or
    weak labeling; near-uniform accuracy on random fixtures IS the
    informative answer (no leaked structure).

    Scale: rides the oracle-gated topk_bruteforce kernel (broadcast
    queries x one corpus scan, WindowGroupLimit partial reduction);
    voting and accuracy run at query grain.

    Determinism: the ranking key is the proven exact-cosine kernel
    with a vec_id tiebreak; votes are integers, majority ties break
    to the smallest label, and accuracy is one ppm fold.
    """
    from pyspark.sql import Window

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("q_vec"),
    )
    top = topk_bruteforce(emb, queries.select("q_id", "q_vec"), k=5).join(
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("label")),
        "neighbor_id",
    )
    votes = top.groupBy("q_id", "label").agg(F.count("*").alias("votes"))
    w = Window.partitionBy("q_id").orderBy(F.col("votes").desc(), F.col("label"))
    pred = (
        votes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("q_id", F.col("label").alias("pred_label"))
    )
    j = queries.select("q_id", "true_label").join(pred, "q_id")
    return (
        j.groupBy("true_label")
        .agg(
            F.count("*").alias("n_queries"),
            F.sum(F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            "true_label",
            "n_queries",
            "n_correct",
            F.floor(
                (F.col("n_correct").cast("double") / F.col("n_queries")) * 1000000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("accuracy_ppm"),
        )
        .orderBy("true_label")
    )


@query("similarity_ivf_recall_sweep", oracle=None)
def similarity_ivf_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe sweep: recall@5 of the IVF index (16 centroids) at
    nprobe ∈ {1, 2, 4, 16} against the brute-force cosine top-5 for
    32 query vectors — the cost/recall curve an operator reads before
    picking the probe budget for a 100 TB serving index (nprobe/nlist
    is the fraction of the corpus each search touches; nprobe=nlist
    IS brute force, so its recall row must be 1.0 — pinned in
    tests/test_operators.py along with monotonicity in nprobe).

    Rows-only by design: centroid training is an iterative Lloyd
    refinement, not SQL-expressible (same declaration as
    similarity_ann_ivf); the compensating property tests pin the
    exact-recall invariants instead.

    Scale: ONE brute-force ground-truth pass (broadcast 32 queries ×
    corpus with partial top-k) + one centroid training shared across
    the sweep (trained once, reused per nprobe — the assignment and
    probe stages are the cheap parts); each sweep point joins
    candidates by centroid_id, never cross-joining the corpus.
    """
    from taps_spark.operators.similarity import ivf_index, ivf_probes

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = _queries(emb, 32)
    # Materialized so the brute-force ground-truth pass executes ONCE
    # and the 4 nprobe points read the 32x5-row result — without it
    # each sweep point replayed the whole broadcast-cosine corpus scan
    # (4 brute-force subtrees in the executed plan).
    exact = (
        topk_bruteforce(emb, queries, k=5)
        .select("q_id", "neighbor_id")
        .transform(materialize)
    )

    cents, corpus = ivf_index(emb, nlist=16, iters=1)
    # Same dedup for the assignment pass (vec -> nearest centroid):
    # assigned once and shared by all 4 probe joins instead of
    # re-assigned per point. At serving scale this materialization IS
    # the IVF index (posting lists keyed by centroid), so checkpointing
    # it inside the build is the intended artifact shape, not an extra
    # copy.
    corpus = corpus.transform(materialize)
    probe_ranked = ivf_probes(queries, cents).transform(materialize)

    out = None
    for nprobe in (1, 2, 4, 16):
        probes = probe_ranked.filter(F.col("_pr") <= nprobe).select(
            "q_id", "q_vec", "centroid_id"
        )
        approx = topk_bruteforce(corpus, probes, k=5, on="centroid_id").select(
            "q_id", "neighbor_id", F.lit(1).alias("hit")
        )
        point = (
            exact.join(approx, ["q_id", "neighbor_id"], "left")
            .agg(
                F.count("*").alias("n_truth"),
                F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_recovered"),
            )
            .select(
                F.lit(nprobe).alias("nprobe"),
                "n_truth",
                "n_recovered",
                F.expr(
                    "CAST(n_recovered * 1000000 div n_truth AS BIGINT)"
                ).alias("recall_ppm"),
            )
        )
        out = point if out is None else out.unionAll(point)
    return out.orderBy("nprobe")


MMR_ORACLE = """
WITH v AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
),
sc AS (
  SELECT a.vec_id AS q_id, b.vec_id AS cand,
         list_dot_product(a.e, b.e)
           / SQRT(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)) AS sim
  FROM v a JOIN v b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < 16
),
short AS MATERIALIZED (
  SELECT q_id, cand, sim
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                     ORDER BY sim DESC, cand) AS r
        FROM sc)
  WHERE r <= 12
),
pairs AS MATERIALIZED (
  SELECT s1.q_id, s1.cand AS cand_a, s2.cand AS cand_b,
         list_dot_product(va.e, vb.e)
           / SQRT(list_dot_product(va.e, va.e) * list_dot_product(vb.e, vb.e))
           AS psim
  FROM short s1
  JOIN short s2 ON s1.q_id = s2.q_id AND s1.cand <> s2.cand
  JOIN v va ON va.vec_id = s1.cand
  JOIN v vb ON vb.vec_id = s2.cand
),
p1 AS MATERIALIZED (
  SELECT q_id, cand, 0.7 * sim AS mmr
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                     ORDER BY sim DESC, cand) AS r FROM short)
  WHERE r = 1
),
r2 AS (
  SELECT s.q_id, s.cand, s.sim, MAX(p.psim) AS pen
  FROM short s
  JOIN p1 ON p1.q_id = s.q_id AND p1.cand <> s.cand
  JOIN pairs p ON p.q_id = s.q_id AND p.cand_a = s.cand AND p.cand_b = p1.cand
  GROUP BY s.q_id, s.cand, s.sim
),
p2 AS MATERIALIZED (
  SELECT q_id, cand, mmr
  FROM (SELECT q_id, cand, 0.7 * sim - 0.3 * pen AS mmr,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY 0.7 * sim - 0.3 * pen DESC, cand) AS r
        FROM r2)
  WHERE r = 1
),
r3 AS (
  SELECT s.q_id, s.cand, s.sim, MAX(p.psim) AS pen
  FROM short s
  JOIN pairs p ON p.q_id = s.q_id AND p.cand_a = s.cand
  WHERE p.cand_b IN (SELECT cand FROM p1 WHERE p1.q_id = s.q_id
                     UNION ALL
                     SELECT cand FROM p2 WHERE p2.q_id = s.q_id)
    AND s.cand NOT IN (SELECT cand FROM p1 WHERE p1.q_id = s.q_id
                       UNION ALL
                       SELECT cand FROM p2 WHERE p2.q_id = s.q_id)
  GROUP BY s.q_id, s.cand, s.sim
),
p3 AS MATERIALIZED (
  SELECT q_id, cand, mmr
  FROM (SELECT q_id, cand, 0.7 * sim - 0.3 * pen AS mmr,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY 0.7 * sim - 0.3 * pen DESC, cand) AS r
        FROM r3)
  WHERE r = 1
),
picked3 AS (
  SELECT q_id, cand FROM p1
  UNION ALL SELECT q_id, cand FROM p2
  UNION ALL SELECT q_id, cand FROM p3
),
r4 AS (
  SELECT s.q_id, s.cand, s.sim, MAX(p.psim) AS pen
  FROM short s
  JOIN pairs p ON p.q_id = s.q_id AND p.cand_a = s.cand
  WHERE p.cand_b IN (SELECT cand FROM picked3 k WHERE k.q_id = s.q_id)
    AND s.cand NOT IN (SELECT cand FROM picked3 k WHERE k.q_id = s.q_id)
  GROUP BY s.q_id, s.cand, s.sim
),
p4 AS (
  SELECT q_id, cand, mmr
  FROM (SELECT q_id, cand, 0.7 * sim - 0.3 * pen AS mmr,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY 0.7 * sim - 0.3 * pen DESC, cand) AS r
        FROM r4)
  WHERE r = 1
),
allp AS (
  SELECT q_id, 1 AS pick_rank, cand, mmr FROM p1
  UNION ALL SELECT q_id, 2, cand, mmr FROM p2
  UNION ALL SELECT q_id, 3, cand, mmr FROM p3
  UNION ALL SELECT q_id, 4, cand, mmr FROM p4
)
SELECT q_id, pick_rank, cand AS cand_id,
       CAST(FLOOR(mmr * 1000000000 + 0.5) AS BIGINT) AS mmr_nano
FROM allp
ORDER BY q_id, pick_rank
"""


@query("similarity_mmr_rerank", oracle=MMR_ORACLE)
def similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking: diversity-aware top-4
    selection from each query's top-12 cosine shortlist — the
    standard result-diversification pass for RAG retrieval and
    few-shot example pickers (a plain top-k returns near-duplicates;
    MMR greedily trades relevance against similarity-to-already-
    picked: score = 0.7·sim(q,d) − 0.3·max_{p∈picked} sim(d,p)).

    Fully oracle-gated despite the greedy loop: the selection is
    UNROLLED to its k=4 rounds in the DuckDB oracle (p1..p4 CTE
    layers), and every float is a fixed parse tree both engines
    evaluate bit-identically — left-fold dot products (the proven
    emb-cosine chain), 0.7/0.3 literals, MAX over doubles
    (order-free), row_number over (mmr DESC, cand) with the unique
    cand tiebreak (a total order; guard-checked). Exported as nano
    integers via the standard floor(x·1e9 + 0.5) fold.

    Scale: the corpus appears ONLY in the shortlist pass (broadcast
    queries × one scan, WindowGroupLimit partial top-k — the
    topk_bruteforce plan). Everything after is B=12 rows per query:
    the pairwise-similarity frame is B² per query and the k greedy
    rounds are joins over frames whose size is queries×B, never
    corpus-scaled. The loop is k=4 DataFrame rounds with checkpointed
    picked/remaining state — the plan-depth discipline the PCA
    deflation fix established.
    """
    from pyspark.sql import Window

    from taps_spark.operators.similarity import cosine

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    q = _queries(emb, 16)
    scored = (
        emb.join(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("cand"),
            cosine(F.col("q_vec"), F.col("embedding")).alias("sim"),
        )
    )
    ws = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("cand"))
    short = (
        scored.withColumn("r", F.row_number().over(ws))
        .filter(F.col("r") <= 12)
        .select("q_id", "cand", "sim")
        .transform(materialize)
    )
    cv = emb.select(F.col("vec_id").alias("cand"), F.col("embedding").alias("cv"))
    sv = short.join(F.broadcast(cv), "cand").select("q_id", "cand", "cv")
    a = sv.select("q_id", F.col("cand").alias("cand_a"), F.col("cv").alias("va"))
    b = sv.select("q_id", F.col("cand").alias("cand_b"), F.col("cv").alias("vb"))
    pairs = (
        a.join(b, "q_id")
        .filter(F.col("cand_a") != F.col("cand_b"))
        .select(
            "q_id",
            "cand_a",
            "cand_b",
            cosine(F.col("va"), F.col("vb")).alias("psim"),
        )
        .transform(materialize)
    )

    wpick = Window.partitionBy("q_id").orderBy(F.col("mmr").desc(), F.col("cand"))
    p1 = (
        short.withColumn("mmr", F.lit(0.7) * F.col("sim"))
        .withColumn("r", F.row_number().over(wpick))
        .filter(F.col("r") == 1)
        .select("q_id", "cand", "mmr", F.lit(1).alias("pick_rank"))
        .transform(materialize)
    )
    picked = p1
    for k in (2, 3, 4):
        pk = picked.select("q_id", F.col("cand").alias("pcand"))
        remaining = short.join(
            pk.select("q_id", F.col("pcand").alias("cand")), ["q_id", "cand"], "left_anti"
        )
        pen = (
            remaining.join(
                pairs.join(
                    pk.select("q_id", F.col("pcand").alias("cand_b")),
                    ["q_id", "cand_b"],
                    "left_semi",
                ).select("q_id", F.col("cand_a").alias("cand"), "psim"),
                ["q_id", "cand"],
            )
            .groupBy("q_id", "cand", "sim")
            .agg(F.max("psim").alias("pen"))
        )
        pick_k = (
            pen.withColumn(
                "mmr", F.lit(0.7) * F.col("sim") - F.lit(0.3) * F.col("pen")
            )
            .withColumn("r", F.row_number().over(wpick))
            .filter(F.col("r") == 1)
            .select("q_id", "cand", "mmr", F.lit(k).alias("pick_rank"))
        )
        picked = picked.unionByName(pick_k).transform(materialize)
    return picked.select(
        "q_id",
        "pick_rank",
        F.col("cand").alias("cand_id"),
        F.floor(F.col("mmr") * 1000000000 + F.lit(0.5)).cast("long").alias("mmr_nano"),
    ).orderBy("q_id", "pick_rank")


KMEANS_ASSIGN_ORACLE = """
WITH c AS (
  SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_vec
  FROM embeddings WHERE vec_id < 8
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
  SELECT e.vec_id, c.c_id,
         list_dot_product(e.v, c.c_vec)
           / SQRT(list_dot_product(e.v, e.v)
                  * list_dot_product(c.c_vec, c.c_vec)) AS cos
  FROM e CROSS JOIN c
),
best AS (
  SELECT vec_id, c_id,
         CAST(FLOOR(cos * 1000000000 + 0.5) AS DECIMAL(38,0)) AS qcos
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_id) AS rn
    FROM s
  ) WHERE rn = 1
)
SELECT c_id AS centroid_id,
       CAST(COUNT(*) AS BIGINT) AS n_assigned,
       CAST(FLOOR((CAST(SUM(qcos) AS DOUBLE) / 1000000000
                   / CAST(COUNT(*) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
         AS mean_cos_micro,
       CAST(FLOOR((CAST(CAST(COUNT(*) AS DECIMAL(38,0)) * 1000000000
                        - SUM(qcos) AS DOUBLE) / 1000000000)
                  * 1000 + 0.5) AS BIGINT) AS inertia_milli
FROM best
GROUP BY c_id
ORDER BY c_id
"""


@query("similarity_kmeans_assign", oracle=KMEANS_ASSIGN_ORACLE)
def similarity_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic k-means assignment step (the E-step of
    Lloyd's algorithm): every vector assigned to its nearest of k=8
    fixed centroids (the vec_id<8 members — the same deterministic
    init similarity_ann_ivf trains from), reporting cluster sizes,
    mean within-cluster cosine, and cosine inertia Σ(1−cos) — the
    clustering-quality scoreboard a corpus-curation run reads per
    iteration (and the per-iteration convergence metric for SemDeDup-
    style semantic clustering).

    Determinism: the assignment winner is picked by row_number over
    (cos DESC, c_id) — the centroid id closes the total order (the
    tests/test_total_order.py gate); cosines are identical IEEE
    chains (TOPK_ORACLE precedent), winners' cosines nano-quantize
    and sum EXACTLY in DECIMAL(38,0); inertia derives from the same
    decimal sum (n·10⁹ − Σqcos stays in DECIMAL, so no n·10⁹ double
    precision loss at any corpus size).

    Scale: broadcast(8 centroids) × one corpus scan; the argmin is
    WindowGroupLimit-reducible (k=1 top-k per vector, map-side);
    the final fold is an 8-group aggregate. Corpus-linear, no
    shuffle wider than the 8-row result.
    """
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    from pyspark.sql import Window

    from taps_spark.operators.similarity import cosine

    s = emb.join(F.broadcast(cent)).select(
        "vec_id", "c_id", cosine(F.col("embedding"), F.col("c_vec")).alias("cos")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), "c_id")
    best = (
        s.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id", "c_id",
            F.floor(F.col("cos") * 1000000000 + F.lit(0.5))
            .cast("decimal(38,0)")
            .alias("qcos"),
        )
    )
    g = best.groupBy("c_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("qcos").alias("sq")
    )
    return g.select(
        F.col("c_id").alias("centroid_id"),
        F.col("n").alias("n_assigned"),
        F.floor(
            (F.col("sq").cast("double") / 1000000000)
            / F.col("n").cast("double")
            * 1000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("mean_cos_micro"),
        F.floor(
            (
                (
                    F.col("n").cast("decimal(38,0)") * 1000000000 - F.col("sq")
                ).cast("double")
                / 1000000000
            )
            * 1000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("inertia_milli"),
    ).orderBy("centroid_id")


FILTERED_ANN_ORACLE = """
WITH q AS (
  SELECT vec_id AS q_id, label AS q_label, embedding::DOUBLE[] AS q_vec
  FROM embeddings WHERE vec_id < 8
),
c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
  SELECT q.q_id, c.vec_id,
         list_dot_product(q.q_vec, c.v)
           / SQRT(list_dot_product(q.q_vec, q.q_vec)
                  * list_dot_product(c.v, c.v)) AS _score
  FROM q JOIN c ON c.label = q.q_label AND c.vec_id <> q.q_id
)
SELECT q_id, vec_id AS neighbor_id, ROUND(_score, 4) AS score,
       CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY _score DESC, vec_id) AS rank
  FROM s
)
WHERE rank <= 5
ORDER BY q_id, rank
"""


@query("similarity_filtered_ann", oracle=FILTERED_ANN_ORACLE)
def similarity_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered exact top-5: each query only searches
    candidates sharing its label — the filtered-search mode every
    production vector store needs (tenant isolation, language
    routing, 'same-category only' retrieval), where the predicate
    must prune BEFORE distance math, not after top-k (post-filtering
    k results returns < k survivors).

    Scale: the label predicate rides the broadcast hash-join
    condition, so non-matching candidates never reach the cosine
    fold; in production the corpus is additionally partitioned by
    the filter column so the scan itself prunes. Same
    WindowGroupLimit map-side top-k as similarity_topk_bruteforce.
    """
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_vec"),
    )
    return topk_bruteforce(
        emb, queries, k=5, on=F.col("label") == F.col("q_label")
    ).orderBy("q_id", "rank")


KMEANS_UPDATE_ORACLE = """
WITH c AS (
  SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_vec
  FROM embeddings WHERE vec_id < 8
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
  SELECT e.vec_id, c.c_id, e.v,
         list_dot_product(e.v, c.c_vec)
           / SQRT(list_dot_product(e.v, e.v)
                  * list_dot_product(c.c_vec, c.c_vec)) AS cos
  FROM e CROSS JOIN c
),
best AS (
  SELECT vec_id, c_id, v FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_id) AS rn
    FROM s
  ) WHERE rn = 1
),
-- member components on the exact integer micro grid
comp AS (
  SELECT c_id, dim,
         CAST(FLOOR(val * 1000000 + 0.5) AS BIGINT) AS vmic
  FROM (SELECT b.c_id, unnest(b.v) AS val,
               generate_subscripts(b.v, 1) AS dim
        FROM best b)
),
newc AS (
  SELECT c_id, dim,
         CAST(SUM(vmic) AS BIGINT) AS smic,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM comp GROUP BY c_id, dim
),
oldc AS (
  SELECT c_id, dim,
         CAST(FLOOR(val * 1000000 + 0.5) AS BIGINT) AS omic
  FROM (SELECT c.c_id, unnest(c.c_vec) AS val,
               generate_subscripts(c.c_vec, 1) AS dim
        FROM c)
),
dterm AS (
  SELECT n.c_id, n.n,
         CAST(FLOOR(
           ((CAST(o.omic AS DOUBLE) / 1000000
             - CAST(n.smic AS DOUBLE) / (1000000.0 * n.n))
            * (CAST(o.omic AS DOUBLE) / 1000000
               - CAST(n.smic AS DOUBLE) / (1000000.0 * n.n)))
           * 1000000000 + 0.5) AS DECIMAL(38,0)) AS q
  FROM newc n JOIN oldc o ON o.c_id = n.c_id AND o.dim = n.dim
)
SELECT c_id AS centroid_id, CAST(MAX(n) AS BIGINT) AS n_assigned,
       CAST(FLOOR(SQRT(CAST(SUM(q) AS DOUBLE) / 1000000000) * 1000000 + 0.5)
            AS BIGINT) AS shift_micro
FROM dterm
GROUP BY c_id
ORDER BY c_id
"""


@query("similarity_kmeans_update", oracle=KMEANS_UPDATE_ORACLE)
def similarity_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-means M-step completing similarity_kmeans_assign's
    E-step: recompute each centroid as the element-wise mean of its
    assigned vectors and report how far it MOVED (L2 shift, micro
    units) — the per-iteration convergence signal a clustering run
    monitors (shift → 0 means Lloyd has converged; one assign+update
    pair here is exactly one Lloyd iteration, oracle-checked).

    Determinism: member components land on the exact integer MICRO
    grid before any sum (a float-valued column summed in double is
    order-dependent — the DSIR law applies to vector components
    too), so per-dimension means are exact integers over n; the
    64 per-dimension squared diffs nano-quantize and sum exactly in
    DECIMAL(38,0); one SQRT chain per centroid at the end.

    Scale: assignment is the E-step plan (broadcast(8) × scan,
    map-side argmin); the update is a posexplode to (centroid, dim)
    grain — 64·k cells regardless of corpus size — so the M-step
    shuffles only k×64 partial sums per task. Corpus-linear,
    result-bounded state.
    """
    from pyspark.sql import Window

    from taps_spark.operators.similarity import cosine

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    s = emb.join(F.broadcast(cent)).select(
        "vec_id", "c_id", "embedding",
        cosine(F.col("embedding"), F.col("c_vec")).alias("cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), "c_id")
    best = (
        s.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "c_id", "embedding")
    )
    comp = best.select(
        "c_id", F.posexplode("embedding").alias("dim0", "val")
    ).select(
        "c_id",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("val").cast("double") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("vmic"),
    )
    newc = comp.groupBy("c_id", "dim").agg(
        F.sum("vmic").alias("smic"), F.count(F.lit(1)).alias("n")
    )
    oldc = cent.select(
        "c_id", F.posexplode("c_vec").alias("dim0", "val")
    ).select(
        "c_id",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("val").cast("double") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("omic"),
    )
    diff = (
        F.col("omic").cast("double") / 1000000
        - F.col("smic").cast("double") / (F.lit(1000000.0) * F.col("n"))
    )
    dterm = newc.join(oldc, ["c_id", "dim"]).select(
        "c_id", "n",
        F.floor(diff * diff * 1000000000 + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    return (
        dterm.groupBy("c_id")
        .agg(F.max("n").alias("n_assigned"), F.sum("q").alias("sq"))
        .select(
            F.col("c_id").alias("centroid_id"),
            F.col("n_assigned").cast("long").alias("n_assigned"),
            F.floor(
                F.sqrt(F.col("sq").cast("double") / 1000000000) * 1000000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("shift_micro"),
        )
        .orderBy("centroid_id")
    )


RANGE_SEARCH_ORACLE = """
WITH q AS (
  SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
  FROM embeddings WHERE vec_id < 8
),
c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
  SELECT q.q_id, c.vec_id,
         list_dot_product(q.q_vec, c.v)
           / SQRT(list_dot_product(q.q_vec, q.q_vec)
                  * list_dot_product(c.v, c.v)) AS cos
  FROM q CROSS JOIN c
  WHERE c.vec_id <> q.q_id
)
SELECT q_id,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN cos >= 0.30 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_within_030,
       CAST(SUM(CASE WHEN cos >= 0.50 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_within_050,
       CAST(SUM(CASE WHEN cos >= 0.70 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_within_070,
       CAST(MAX(CASE WHEN cos >= 0.30 THEN vec_id END) AS BIGINT)
         AS max_id_within_030
FROM s
GROUP BY q_id
ORDER BY q_id
"""


@query("similarity_range_search", oracle=RANGE_SEARCH_ORACLE)
def similarity_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) search: for each query vector, how many corpus
    neighbors fall within cosine ≥ τ at three thresholds — the OTHER
    vector-store query mode (top-k asks 'the best k whatever their
    quality'; range asks 'everything above a quality bar', the
    semantics dedup sweeps and recall-oriented retrieval actually
    want). Reported as per-query occupancy so the result stays
    result-bounded at any corpus size.

    Scale: broadcast(8 queries) × one corpus scan with the cosine
    fold in codegen; the per-query fold is map-side combined. At
    100 TB the same query runs against LSH/IVF buckets
    (similarity_ann_* machinery) with the radius as the verify
    predicate — the brute scan here is the oracle-able baseline of
    that plan.

    Determinism: cosines are the TOPK_ORACLE IEEE chain; thresholds
    compare exactly; counts are integers.
    """
    from taps_spark.operators.similarity import cosine

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = _queries(emb, 8)
    s = (
        emb.join(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id", "vec_id",
            cosine(F.col("q_vec"), F.col("embedding")).alias("cos"),
        )
    )
    return (
        s.groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum((F.col("cos") >= 0.30).cast("int")).cast("long").alias("n_within_030"),
            F.sum((F.col("cos") >= 0.50).cast("int")).cast("long").alias("n_within_050"),
            F.sum((F.col("cos") >= 0.70).cast("int")).cast("long").alias("n_within_070"),
            F.max(F.when(F.col("cos") >= 0.30, F.col("vec_id"))).alias(
                "max_id_within_030"
            ),
        )
        .orderBy("q_id")
    )


SILHOUETTE_ORACLE = """
WITH c AS (
  SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_vec
  FROM embeddings WHERE vec_id < 8
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
  SELECT e.vec_id, c.c_id,
         list_dot_product(e.v, c.c_vec)
           / SQRT(list_dot_product(e.v, e.v)
                  * list_dot_product(c.c_vec, c.c_vec)) AS cos
  FROM e CROSS JOIN c
),
r AS (
  SELECT vec_id, c_id, cos,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_id) AS rn
  FROM s
),
ab AS (
  SELECT vec_id,
         MAX(CASE WHEN rn = 1 THEN c_id END) AS c_id,
         MAX(CASE WHEN rn = 1 THEN cos END) AS cos1,
         MAX(CASE WHEN rn = 2 THEN cos END) AS cos2
  FROM r WHERE rn <= 2 GROUP BY vec_id
),
sil AS (
  SELECT vec_id, c_id,
         CAST(FLOOR(
           CASE WHEN 1 - cos2 <= 0 THEN 0.0
                ELSE (cos1 - cos2) / (1 - cos2) END * 1000000000 + 0.5)
           AS DECIMAL(38,0)) AS qsil
  FROM ab
)
SELECT c_id AS centroid_id,
       CAST(COUNT(*) AS BIGINT) AS n_assigned,
       CAST(FLOOR(CAST(SUM(qsil) AS DOUBLE) / 1000000000
                  / CAST(COUNT(*) AS DOUBLE) * 1000 + 0.5) AS BIGINT)
         AS mean_sil_milli
FROM sil
GROUP BY c_id
ORDER BY centroid_id
"""


@query("similarity_silhouette", oracle=SILHOUETTE_ORACLE)
def similarity_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette score per cluster over
    the fixed k=8 assignment of similarity_kmeans_assign — the
    cluster-quality verdict the E/M steps don't give: a(i) = cosine
    distance to the OWN centroid, b(i) = distance to the nearest
    OTHER centroid, s(i) = (b-a)/max(a,b). Since b >= a >= 0 here,
    s = (cos1-cos2)/(1-cos2) — near 1 means tight well-separated
    clusters, near 0 means the vector sits on a boundary (SemDeDup
    prunes clusters by exactly this kind of margin). The classic
    all-pairs silhouette is O(n^2); the centroid form is the standard
    scalable surrogate (same argmin machinery as the E-step).

    Determinism: nearest/second-nearest picked by row_number over
    (cos DESC, c_id) — centroid id closes the total order; each
    vector's s nano-quantizes to DECIMAL(38,0) BEFORE the cluster
    mean (no unordered double sum); the 1-cos2 == 0 degenerate case
    pins s = 0 on both engines.

    Scale: broadcast(8 centroids) x one corpus scan, a k<=2 window
    group-limit, an 8-group fold — corpus-linear, no shuffle wider
    than the result. Cites the reference's per-table profile lineage
    (lib/taps/server.rb:160-169) via the kmeans family docstrings.
    """
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    from pyspark.sql import Window

    from taps_spark.operators.similarity import cosine

    s = emb.join(F.broadcast(cent)).select(
        "vec_id", "c_id", cosine(F.col("embedding"), F.col("c_vec")).alias("cos")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), "c_id")
    ab = (
        s.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("vec_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("c_id"))).alias("c_id"),
            F.max(F.when(F.col("rn") == 1, F.col("cos"))).alias("cos1"),
            F.max(F.when(F.col("rn") == 2, F.col("cos"))).alias("cos2"),
        )
    )
    sil = ab.select(
        "c_id",
        F.floor(
            F.when(F.lit(1) - F.col("cos2") <= 0, F.lit(0.0))
            .otherwise(
                (F.col("cos1") - F.col("cos2")) / (F.lit(1) - F.col("cos2"))
            )
            * 1000000000
            + F.lit(0.5)
        )
        .cast("decimal(38,0)")
        .alias("qsil"),
    )
    g = sil.groupBy("c_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("qsil").alias("sq")
    )
    return g.select(
        F.col("c_id").alias("centroid_id"),
        F.col("n").alias("n_assigned"),
        F.floor(
            F.col("sq").cast("double") / 1000000000 / F.col("n").cast("double")
            * 1000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("mean_sil_milli"),
    ).orderBy("centroid_id")


HAMMING_TOPK_ORACLE = """
WITH bits AS (
  SELECT vec_id, val > 0 AS b, dim
  FROM (SELECT vec_id, unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS dim
        FROM embeddings)
),
codes AS (
  SELECT vec_id,
         SUM(CASE WHEN b AND dim <= 32 THEN (1::BIGINT << (dim - 1))
                  ELSE 0 END)::BIGINT AS lo,
         SUM(CASE WHEN b AND dim > 32 THEN (1::BIGINT << (dim - 33))
                  ELSE 0 END)::BIGINT AS hi
  FROM bits GROUP BY vec_id
),
q AS (SELECT vec_id AS q_id, lo AS qlo, hi AS qhi FROM codes WHERE vec_id < 8),
s AS (
  SELECT q.q_id, c.vec_id,
         bit_count(xor(q.qlo, c.lo)) + bit_count(xor(q.qhi, c.hi)) AS hamming
  FROM q CROSS JOIN codes c
  WHERE c.vec_id <> q.q_id
)
SELECT q_id, vec_id AS neighbor_id, CAST(hamming AS INT) AS hamming,
       CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY hamming, vec_id) AS rank
  FROM s
)
WHERE rank <= 5
ORDER BY q_id, rank
"""


@query("similarity_hamming_topk", oracle=HAMMING_TOPK_ORACLE)
def similarity_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors under HAMMING distance over sign-binarized
    embeddings (64 dims → two 32-bit codes packed in BIGINTs) — the
    production memory trick for first-stage retrieval: binary codes
    cut vector storage 32× and distance to two XOR+popcounts, so a
    100 TB float corpus becomes ~3 TB of codes that scan at memory
    bandwidth; survivors get exact float rerank (the
    similarity_ann_pq pattern). Sign binarization is the 1-bit
    LSH family's deterministic limit — Hamming distance between sign
    codes is a concentration-tight proxy for angular distance.

    Exactness: the statistic is a pure INTEGER (bit_count of XOR on
    exactly-agreed codes; a float only appears in the > 0 sign test,
    identical both engines). Rank ties break on vec_id — a total
    order (FIXTURES.md law).

    Scale: codes build map-only; the scoring join is broadcast(8
    queries) × code scan with the top-k cut inside the window
    shuffle (WindowGroupLimit partial top-k, like the float
    brute-force) — corpus-linear with a 16-byte row payload.
    """
    from pyspark.sql import Window

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    lo = F.expr(
        "aggregate(sequence(0, 31), 0L, (acc, i) -> acc + "
        "CASE WHEN element_at(embedding, i + 1) > 0 THEN shiftleft(1L, i) "
        "ELSE 0L END)"
    )
    hi = F.expr(
        "aggregate(sequence(32, 63), 0L, (acc, i) -> acc + "
        "CASE WHEN element_at(embedding, i + 1) > 0 THEN shiftleft(1L, i - 32) "
        "ELSE 0L END)"
    )
    codes = emb.select("vec_id", lo.alias("lo"), hi.alias("hi"))
    q = codes.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    s = (
        codes.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (
                F.expr("bit_count(qlo ^ lo)") + F.expr("bit_count(qhi ^ hi)")
            ).alias("hamming"),
        )
    )
    w = Window.partitionBy("q_id").orderBy("hamming", "vec_id")
    return (
        s.select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("hamming").cast("int").alias("hamming"),
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= 5)
        .orderBy("q_id", "rank")
    )
