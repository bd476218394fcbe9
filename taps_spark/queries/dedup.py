"""Deduplication query inventory (SURVEY.md §2c — LLM-pipeline
extensions over the documents fixture)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from taps_spark.io.tables import load_tables, materialize, parallelize_cpu
from taps_spark.operators.dedup import (
    band_signatures,
    exact_dedup,
    exact_dedup_stats,
    jaccard,
    lsh_band_clusters,
    minhash_signatures,
    simhash64,
    simhash_candidates,
)
from taps_spark.operators.text import tokens
from taps_spark.queries import query

EXACT_ORACLE = """
SELECT MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))) AS fp,
       COUNT(*)     AS n_copies,
       MIN(doc_id)  AS keep_id
FROM documents
GROUP BY 1
ORDER BY fp
"""


@query("dedup_exact", oracle=EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup stats: one row per distinct normalized content
    (fingerprint, copy count, surviving doc id).

    Scale: the shuffle key is the 32-byte md5 fingerprint, never the
    document text; min/count combine map-side.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return exact_dedup_stats(docs, "doc_id", "text").orderBy("fp")


EXACT_DOCS_ORACLE = """
SELECT doc_id, lang, source
FROM documents
WHERE doc_id IN (
  SELECT MIN(doc_id)
  FROM documents
  GROUP BY MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))))
)
ORDER BY doc_id
"""


@query("dedup_exact_keep_first", oracle=EXACT_DOCS_ORACLE)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The surviving document set under keep-first exact dedup
    (deterministic survivor choice, unlike dropDuplicates)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return exact_dedup(docs, "doc_id", "text").select("doc_id", "lang", "source").orderBy(
        "doc_id"
    )


MINHASH_ORACLE = """
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
sig AS (
  SELECT doc_id, s.seed, MIN(MD5(CAST(s.seed AS VARCHAR) || '|' || tok)) AS mh
  FROM tok
  CROSS JOIN (SELECT unnest(range(8)) AS seed) s
  GROUP BY doc_id, s.seed
),
bands AS (
  SELECT doc_id, seed // 2 AS band, STRING_AGG(mh, '|' ORDER BY seed) AS band_sig
  FROM sig
  GROUP BY doc_id, seed // 2
)
SELECT CAST(band AS BIGINT) AS band, band_sig,
       COUNT(*)   AS n_docs,
       MIN(doc_id) AS min_id,
       MAX(doc_id) AS max_id
FROM bands
GROUP BY band, band_sig
HAVING COUNT(*) > 1
ORDER BY band, band_sig
"""


@query("dedup_minhash_lsh", oracle=MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8) + LSH banding (4 bands × 2 rows) near-duplicate
    candidate clusters.

    The hash family is md5-as-string (engine-portable — the oracle
    computes the *identical* signature in SQL); output is per-bucket
    cluster stats, not pairs, so result size stays linear in docs.
    See operators/dedup.py for the 100 TB plan shape.
    """
    docs = parallelize_cpu(load_tables(spark, sf_dir, ("documents",))["documents"])
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=8)
    return lsh_band_clusters(sigs, "doc_id", rows_per_band=2).orderBy("band", "band_sig")


@query("dedup_simhash")  # rows-only: xxhash64 is Spark-specific
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(63-bit) near-dup candidate clusters via 16-bit band
    collisions. No SQL oracle (hash family is engine-specific); the
    driver records a rows-only check and unit tests pin the semantics
    (tests/test_operators.py: test_simhash_identical_docs_collide,
    test_simhash_near_duplicates_are_close,
    test_simhash_portable_is_token_set_invariant).
    """
    docs = parallelize_cpu(load_tables(spark, sf_dir, ("documents",))["documents"])
    sim = simhash64(docs, "doc_id", "text")
    return simhash_candidates(sim, "doc_id").orderBy("band_idx", "band_val")


JACCARD_ORACLE = """
WITH t AS (
  SELECT doc_id, lang, source,
         list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks,
         LAG(doc_id) OVER (PARTITION BY lang, source ORDER BY doc_id) AS prev_id,
         LAG(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
             OVER (PARTITION BY lang, source ORDER BY doc_id) AS prev_toks
  FROM documents
)
SELECT doc_id, prev_id,
       ROUND(CAST(LEN(list_intersect(toks, prev_toks)) AS DOUBLE)
             / LEN(list_distinct(list_concat(toks, prev_toks))), 4) AS jaccard_sim
FROM t
WHERE prev_id IS NOT NULL
ORDER BY doc_id
"""


@query("dedup_ngram_jaccard_neighbors", oracle=JACCARD_ORACLE)
def dedup_ngram_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard between each doc and its predecessor
    within (lang, source) — the verification kernel that LSH candidate
    pairs feed at scale (blocking here is the neighbor pair, so the
    oracle stays all-SQL; the LSH query provides scalable blocking).
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    w = Window.partitionBy("lang", "source").orderBy("doc_id")
    t = docs.select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(tokens("text")).alias("toks"),
    ).select(
        "doc_id",
        F.lag("doc_id").over(w).alias("prev_id"),
        "toks",
        F.lag("toks").over(w).alias("prev_toks"),
    )
    return (
        t.filter(F.col("prev_id").isNotNull())
        .select(
            "doc_id",
            "prev_id",
            F.round(jaccard(F.col("toks"), F.col("prev_toks")), 4).alias("jaccard_sim"),
        )
        .orderBy("doc_id")
    )


LSH_VERIFIED_ORACLE = """
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
sig AS (
  SELECT doc_id, s.seed, MIN(MD5(CAST(s.seed AS VARCHAR) || '|' || tok)) AS mh
  FROM tok
  CROSS JOIN (SELECT unnest(range(8)) AS seed) s
  GROUP BY doc_id, s.seed
),
bands AS (
  SELECT doc_id, seed // 2 AS band, STRING_AGG(mh, '|' ORDER BY seed) AS band_sig
  FROM sig
  GROUP BY doc_id, seed // 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
tsets AS (
  SELECT doc_id, list_sort(list_distinct(list_transform(list_distinct(regexp_split_to_array(trim(text), '\\s+')), t -> ('0x' || SUBSTR(MD5(t), 1, 15))::BIGINT))) AS toks
  FROM documents
),
verified AS MATERIALIZED (
  -- MATERIALIZED: j is consumed by both the filter and two aggregates
  -- below; inlined, DuckDB re-evaluates the list-intersection lambda
  -- per consumer (measured 146 s -> 46 s at sf0.1 with this hint).
  SELECT doc_a, doc_b,
         CAST(LEN(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
           / (LEN(ta.toks) + LEN(tb.toks) - LEN(list_intersect(ta.toks, tb.toks))) AS j
  FROM cand
  JOIN tsets ta ON ta.doc_id = doc_a
  JOIN tsets tb ON tb.doc_id = doc_b
)
SELECT doc_a, COUNT(*) AS n_dups, MIN(doc_b) AS first_dup,
       ROUND(MAX(j), 4) AS best_jaccard
FROM verified
WHERE j >= 0.5
GROUP BY doc_a
ORDER BY doc_a
"""


@query("dedup_lsh_verified_pairs", oracle=LSH_VERIFIED_ORACLE)
def dedup_lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE near-duplicate pipeline in one query: MinHash
    signatures -> LSH band buckets -> candidate pairs -> exact
    token-set Jaccard verification (>= 0.5) -> per-doc dup stats —
    generation and verification composed exactly as a 100 TB dedup
    job runs them.

    The expensive stage runs CONDENSED (_condensed_prelude): Jaccard
    is verified once per distinct-token-set GROUP pair and the scores
    fan back out to doc pairs as pure scalars (_fan_out_doc_pairs).
    Measured at sf0.1: 9.9M doc-pair intersections -> 5.3M group-pair
    intersections, 50.3 s -> 28.4 s. The oracle stays the doc-level
    pair enumeration, independently proving the condensed rewrite;
    the md5 hash family keeps every stage reproducible in it. Per-doc
    rollup output stays linear in docs.
    """
    prelude = _lsh_prelude(spark, sf_dir)
    gscored = _verified_scores(prelude, 0.5)
    return (
        _fan_out_doc_pairs(prelude[0], gscored.filter(F.col("j") >= 0.5))
        .groupBy("doc_a")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_b").alias("first_dup"),
            F.round(F.max("j"), 4).alias("best_jaccard"),
        )
        .orderBy("doc_a")
    )


CC_ORACLE = """
WITH RECURSIVE tok AS (
  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
-- CONDENSATION (exact, not an approximation): docs with an identical
-- token set have identical minhash signatures (same LSH buckets, so
-- they are always direct candidate neighbors) and Jaccard 1 >= 0.9 —
-- they provably land in one component. Running candidate generation,
-- verification, and the transitive closure on the DISTINCT-token-SET
-- groups and fanning member counts back out yields byte-identical
-- components while the closure sees ~16k group nodes / ~29k edges
-- instead of ~1M doc-pair edges (doc-level closure: >150 s timeout at
-- sf0.1; this form: ~25 s, equivalence pinned at sf0.01).
rsets AS MATERIALIZED (
  SELECT doc_id, list_sort(list(DISTINCT tok)) AS rtoks
  FROM tok GROUP BY doc_id
),
grp AS MATERIALIZED (
  SELECT rtoks, MIN(doc_id) AS gid, MAX(doc_id) AS gmax, COUNT(*) AS n_docs
  FROM rsets GROUP BY rtoks
),
gtok AS (SELECT gid, unnest(rtoks) AS tok FROM grp),
gsig AS (
  SELECT gid, s.seed, MIN(MD5(CAST(s.seed AS VARCHAR) || '|' || tok)) AS mh
  FROM gtok
  CROSS JOIN (SELECT unnest(range(8)) AS seed) s
  GROUP BY gid, s.seed
),
gbands AS MATERIALIZED (
  SELECT gid, seed // 2 AS band, STRING_AGG(mh, '|' ORDER BY seed) AS band_sig
  FROM gsig GROUP BY gid, seed // 2
),
gcand AS (
  SELECT DISTINCT a.gid AS src, b.gid AS dst
  FROM gbands a JOIN gbands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.gid < b.gid
),
ghash AS MATERIALIZED (
  -- Spark verifies on md5-prefix-hashed token sets; reproduce that
  -- family exactly (including the within-set list_distinct).
  SELECT gid, list_sort(list_distinct(list_transform(rtoks, t -> ('0x' || SUBSTR(MD5(t), 1, 15))::BIGINT))) AS toks
  FROM grp
),
gedges AS MATERIALIZED (
  -- Lossless size-ratio prefilter (J <= min/max, so J >= 0.9 needs
  -- 10|A| >= 9|B| and 10|B| >= 9|A|) — same prefilter as the Spark
  -- side; spares size-mismatched pairs the intersection lambdas.
  SELECT src, dst FROM gcand
  JOIN ghash ta ON ta.gid = src
  JOIN ghash tb ON tb.gid = dst
  WHERE 10 * LEN(ta.toks) >= 9 * LEN(tb.toks)
    AND 10 * LEN(tb.toks) >= 9 * LEN(ta.toks)
    AND CAST(LEN(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
        / (LEN(ta.toks) + LEN(tb.toks) - LEN(list_intersect(ta.toks, tb.toks))) >= 0.9
),
gsym AS (
  SELECT src AS a, dst AS b FROM gedges
  UNION ALL SELECT dst, src FROM gedges
),
greach AS (
  SELECT a, b FROM gsym
  UNION
  SELECT r.a, s.b FROM greach r JOIN gsym s ON r.b = s.a
),
gcomp AS (
  SELECT a AS g, LEAST(a, MIN(b)) AS comp
  FROM greach GROUP BY a
),
-- A multi-doc group with no cross-group edge is still a component on
-- its own (its members are mutual neighbors); single-doc groups with
-- no edges have no edges at all and are excluded, exactly as in the
-- doc-level formulation.
gassign AS (
  SELECT g, comp FROM gcomp
  UNION ALL
  SELECT gid, gid FROM grp
  WHERE n_docs >= 2 AND gid NOT IN (SELECT g FROM gcomp)
)
SELECT comp              AS component,
       CAST(SUM(n_docs) AS BIGINT) AS n_members,
       MAX(gmax)         AS max_member
FROM gassign JOIN grp ON grp.gid = gassign.g
GROUP BY comp
ORDER BY component
"""


#: LSH family parameters shared by every condensed near-dup pipeline
#: in this module (_condensed_prelude, _lsh_probe_scores) — 8 MinHash
#: permutations banded 2 rows × 4 bands. Single source of truth: the
#: band count feeds band_bucket_scalars AND earlier_band_collision AND
#: the scalar-column renames (s{i} count = n_bands - 1), which MUST
#: agree or the first-collision predicate silently re-emits pairs.
LSH_NUM_HASHES = 8
LSH_ROWS_PER_BAND = 2
LSH_N_BANDS = 4


def _token_sets(docs: DataFrame) -> DataFrame:
    """DataFrame[doc_id, rtoks]: each doc's sorted distinct token set.

    NULL-text docs are excluded — `size(rtoks) > 0` drops NULL arrays
    (size = NULL) and, defensively, empty ones. This matches the
    doc-level formulation (exploding a NULL token array yields no
    rows, so such docs never sign or pair) and the DuckDB oracles
    (unnest of NULL emits no rows). The condensed groupBy would
    otherwise collapse ALL NULL-text docs into ONE group (groupBy
    treats NULL keys as equal) and report them as Jaccard-1
    duplicates of each other — phantom pairs neither formulation
    produces. Whitespace-only text is NOT excluded: split(trim(x))
    yields [''] in Spark and DuckDB alike, so those docs carry the
    {''} token set identically in both engines."""
    return docs.select(
        "doc_id", F.array_sort(F.array_distinct(tokens("text"))).alias("rtoks")
    ).filter(F.size("rtoks") > 0)


def _group_band_sides(grp: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Sign → band → bucket-scalarize a condensed group frame and
    return the two RENAMED join sides for first-collision candidate
    generation: (a[src, band, bid, x0..], b[dst, band, bid, y0..]).
    One definition of the LSH_* wiring for all consumers — the s{i}
    scalar count is derived from LSH_N_BANDS so the rename blocks
    cannot drift from the band count."""
    from taps_spark.operators.dedup import (
        band_bucket_scalars,
        minhash_signatures_from_tokens,
    )

    sigs = minhash_signatures_from_tokens(
        grp, "gid", "rtoks", num_hashes=LSH_NUM_HASHES
    )
    bands = band_signatures(sigs, "gid", rows_per_band=LSH_ROWS_PER_BAND)
    bw = band_bucket_scalars(bands, "gid", n_bands=LSH_N_BANDS)
    scalars = range(LSH_N_BANDS - 1)
    a = bw.select(
        F.col("gid").alias("src"),
        "band",
        "bid",
        *[F.col(f"s{i}").alias(f"x{i}") for i in scalars],
    )
    b = bw.select(
        F.col("gid").alias("dst"),
        "band",
        "bid",
        *[F.col(f"s{i}").alias(f"y{i}") for i in scalars],
    )
    return a, b


def _condensed_prelude(
    docs: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """EXACT condensation prelude shared by the near-dup graph family
    (component queries, verified-pairs rollup, threshold sweep):
    collapse docs with an identical distinct-token SET into one group
    node (identical sets ⇒ identical MinHash signatures ⇒ always
    direct LSH candidates, and Jaccard 1 ≥ any threshold — so members
    of a group provably belong together), then sign / band / generate
    candidates ONCE per group instead of once per doc.

    This is the shape a 100 TB dedup pipeline runs: exact-dedup first
    (cheap fingerprint shuffle), near-dup machinery only over DISTINCT
    content — pair-verify work becomes quadratic in distinct-content
    bucket sizes, not raw-row bucket sizes. Measured at sf0.1 (a
    LOW-duplication fixture: 5,000 docs → 3,935 distinct sets, 1.27×):
    candidate pairs drop 9.9M → 5.7M and the consumers run 20-50 %
    faster; the win scales with the duplication rate squared, so
    boilerplate-heavy real corpora (commonly 2-5× exact-duplicated)
    condense the expensive verify stage 4-25×. The DuckDB CC oracle
    performs the identical condensation.

    Returns (grp, cand, ta, tb):
      grp[rtoks, gid, gmax, n_docs, members] — checkpointed (several
        consumers follow; without it each re-tokenizes the corpus),
        gid = min member doc_id (the group's node id), members sorted;
      cand[src, dst] — distinct LSH candidate group pairs (src < dst);
      ta/tb — hashed-token-set verify sides keyed src / dst.
    """
    from taps_spark.operators.dedup import earlier_band_collision, hashed_token_set

    grp = (
        _token_sets(docs)
        .groupBy("rtoks")
        .agg(
            F.min("doc_id").alias("gid"),
            F.max("doc_id").alias("gmax"),
            F.count("*").alias("n_docs"),
            F.sort_array(F.collect_list("doc_id")).alias("members"),
        )
        .transform(materialize)
    )
    # First-collision-band pair generation: identical pair SET to
    # `self-join → distinct`, but duplicate-free at the source — no
    # 10M-row distinct shuffle (measured at sf0.1: 7.5 s → 0.7 s; see
    # band_bucket_scalars).
    a, b = _group_band_sides(grp)
    cand = (
        a.join(b, ["band", "bid"])
        .filter(F.col("src") < F.col("dst"))
        .filter(~earlier_band_collision(LSH_N_BANDS))
        .select("src", "dst")
    )
    ghash = grp.select("gid", hashed_token_set(F.col("rtoks")).alias("toks"))
    ta = ghash.select(F.col("gid").alias("src"), F.col("toks").alias("toks_a"))
    tb = ghash.select(F.col("gid").alias("dst"), F.col("toks").alias("toks_b"))
    return grp, cand, ta, tb


def _lsh_prelude(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """_condensed_prelude over the standard documents load. Each
    consumer builds it once per invocation and passes it down; nothing
    outlives the call, so a documents.parquet rewritten in place is
    always read afresh. Reuse of the signature frame across queries
    is dedup_lsh_incremental's explicit state."""
    docs = parallelize_cpu(load_tables(spark, sf_dir, ("documents",))["documents"])
    return _condensed_prelude(docs)


def _ratio_prefilter(threshold: float):
    """Lossless size-ratio prefilter: J <= min/max ⇒ J >= t needs
    10|A| >= k·|B| both ways with k = floor(10t) — an integer compare
    that spares size-mismatched candidates the set intersection.
    FLOOR keeps the bound at or below the threshold for ANY t (a
    rounded k overstates the bound for t like 0.75 — round(7.5) = 8
    would silently drop pairs with ratio in [0.75, 0.8) that can
    still reach J >= t). The 1e-9 nudge only counters float dust on
    exact tenths (0.7 * 10 = 6.999…), never lifts k past 10t."""
    import math

    k = math.floor(threshold * 10 + 1e-9)
    return (10 * F.size("toks_a") >= k * F.size("toks_b")) & (
        10 * F.size("toks_b") >= k * F.size("toks_a")
    )


def _verified_scores(
    prelude: tuple[DataFrame, DataFrame, DataFrame, DataFrame], threshold: float
) -> DataFrame:
    """Verify stage: gscored[src, dst, j] — exact token-set Jaccard for
    every candidate group pair passing the (lossless) size-ratio
    prefilter at `threshold`, MATERIALIZED (`materialize`). Callers
    filter `j >= t` for any t >= threshold.

    The Jaccard is computed in a projection and the threshold filter
    runs on the materialized scalar — NOT filtered inline. Filtering
    the raw expression lets Catalyst fold `j >= t` into the verify
    join's residual CONDITION, where (a) it sits AHEAD of the cheap
    size-ratio conjuncts, so the intersect runs for every candidate
    pair instead of only ratio-passed ones, and (b) join-condition
    expressions get no subexpression elimination, so the intersect
    evaluates TWICE per pair (numerator + union denominator).
    Measured at sf0.1: 11.4M intersect evaluations instead of 1.9M —
    materializing the same verify 18.9 s vs 5.5 s. The checkpoint is
    that pushdown barrier, and it pins single evaluation for the
    consumers that read the scores more than once (CC, fan-out)."""
    from taps_spark.operators.dedup import jaccard_hashed

    _, cand, ta, tb = prelude
    return (
        cand.join(ta, "src")
        .join(tb, "dst")
        .filter(_ratio_prefilter(threshold))
        .select(
            "src", "dst", jaccard_hashed(F.col("toks_a"), F.col("toks_b")).alias("j")
        )
        .transform(materialize)
    )


def _fan_out_doc_pairs(grp: DataFrame, gscored: DataFrame) -> DataFrame:
    """Fan group-pair scores back out to doc pairs as PURE SCALARS —
    no per-doc-pair set intersection ever happens. Cross pairs take
    the group pair's j; within-group pairs (identical sets) carry
    j = 1 by construction. Returns DataFrame[doc_a, doc_b, j] with
    doc_a < doc_b — exactly the doc-level candidate-pair set."""
    gm = grp.select("gid", "members")
    cross = (
        gscored.join(
            gm.select(F.col("gid").alias("src"), F.col("members").alias("ma")), "src"
        )
        .join(gm.select(F.col("gid").alias("dst"), F.col("members").alias("mb")), "dst")
        .select("j", F.explode("ma").alias("x"), "mb")
        .select("j", "x", F.explode("mb").alias("y"))
        .select(
            F.least("x", "y").alias("doc_a"),
            F.greatest("x", "y").alias("doc_b"),
            "j",
        )
    )
    within = (
        grp.filter(F.col("n_docs") >= 2)
        .select(F.explode("members").alias("doc_a"), "members")
        .select("doc_a", F.explode("members").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("j", F.lit(1.0))
    )
    return cross.unionByName(within)


def _condensed_rollup(grp: DataFrame, comp: DataFrame) -> DataFrame:
    """Fan group components back out to doc-level component stats:
    component id = min doc_id (= min gid over the group component),
    n_members = Σ group sizes, max_member = max over group maxes.
    Multi-doc groups with no cross-group edge are components of their
    own (members are mutual Jaccard-1 neighbors); single-doc groups
    without edges have no edges at all and are excluded — exactly the
    doc-level formulation's node set."""
    lone = (
        grp.filter(F.col("n_docs") >= 2)
        .join(comp, grp["gid"] == comp["node"], "left_anti")
        .select(F.col("gid").alias("node"), F.col("gid").alias("component"))
    )
    assign = comp.unionByName(lone)
    return (
        assign.join(grp, assign["node"] == grp["gid"])
        .groupBy("component")
        .agg(
            F.sum("n_docs").alias("n_members"),
            F.max("gmax").alias("max_member"),
        )
        .orderBy("component")
    )


@query("dedup_connected_components", oracle=CC_ORACLE)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: MinHash-LSH candidate pairs as a graph,
    verified at Jaccard ≥ 0.9, resolved to connected components by
    alternating large-star/small-star contraction
    (operators/dedup.connected_components_star) — O(log² n) rounds
    INDEPENDENT of graph diameter, the algorithm you actually run on a
    web-scale duplicate graph where min-label propagation's
    O(diameter) loop on chained near-dups would never finish. This is
    the step that turns pairwise candidates into dedup groups (keep
    component id = min doc, drop the rest). The DuckDB oracle computes
    the same components via WITH RECURSIVE transitive closure — viable
    at fixture scale, quadratic blowup at real scale, which is exactly
    why the Spark side iterates instead.

    Both the query and the oracle condense docs with identical token
    sets into group nodes first (_condensed_prelude — exact, and the
    contraction then runs on the far smaller group graph).

    ROUTING (r10 VERDICT task #1): this query previously ran the
    pedagogical min-label propagation variant and a separate
    `dedup_connected_components_star` entry ran contraction — same
    condensed graph, same rollup, same oracle, but propagation cost
    45.3 s at sf0.1 (6% of the whole 352-query sweep) vs star's
    10.0 s because its rounds scale with cluster diameter. One
    registered query now rides the star machinery; propagation stays
    in operators/dedup.connected_components as the baseline, with
    star ≡ propagation pinned byte-identical in
    tests/test_operators.py::test_connected_components_star_matches_propagation
    and on the real fixture graph in
    tests/test_operators.py::test_cc_query_equals_propagation_on_fixture.
    """
    from taps_spark.operators.dedup import connected_components_star

    prelude = _lsh_prelude(spark, sf_dir)
    gedges = _verified_scores(prelude, 0.9).filter(F.col("j") >= 0.9).select("src", "dst")
    return _condensed_rollup(prelude[0], connected_components_star(gedges))


SIMHASH_PORTABLE_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS tok
  FROM documents
),
h AS (
  SELECT doc_id, ('0x' || SUBSTR(MD5(tok), 1, 15))::BIGINT AS h FROM toks
),
bits AS (
  SELECT doc_id, i.pos, (h >> i.pos) & 1 AS bit
  FROM h CROSS JOIN (SELECT unnest(range(60)) AS pos) i
),
votes AS (
  SELECT doc_id, pos, 2 * SUM(bit) - COUNT(*) AS vote FROM bits GROUP BY 1, 2
),
sh AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << pos) ELSE 0 END) AS BIGINT)
           AS simhash
  FROM votes GROUP BY 1
)
SELECT doc_id, simhash,
       CAST((simhash >> 0)  & 32767 AS INT) AS band0,
       CAST((simhash >> 15) & 32767 AS INT) AS band1,
       CAST((simhash >> 30) & 32767 AS INT) AS band2,
       CAST((simhash >> 45) & 32767 AS INT) AS band3
FROM sh
ORDER BY doc_id
"""


@query("dedup_simhash_portable", oracle=SIMHASH_PORTABLE_ORACLE)
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gated SimHash: md5-derived 60-bit hash family so DuckDB
    reproduces every fingerprint and band bit-for-bit — the
    correctness gate for the SimHash math that the fast xxhash64
    variant (dedup_simhash) shares. See operators/dedup.simhash_portable."""
    from taps_spark.operators.dedup import simhash_portable

    docs = parallelize_cpu(load_tables(spark, sf_dir, ("documents",))["documents"])
    return simhash_portable(docs, "doc_id", "text").orderBy("doc_id")


INCREMENTAL_ORACLE = """
WITH fp AS (
  SELECT doc_id, source,
         MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))) AS fp
  FROM documents
),
existing AS (SELECT fp FROM fp WHERE doc_id % 2 = 0),
incoming AS (SELECT doc_id, source, fp FROM fp WHERE doc_id % 2 = 1)
SELECT i.doc_id, i.source
FROM incoming i
WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.fp = i.fp)
ORDER BY i.doc_id
"""


@query("dedup_incremental", oracle=INCREMENTAL_ORACLE)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: a new batch (odd doc_ids stand in for
    the incoming crawl) is anti-joined by content fingerprint against
    the already-ingested corpus (even doc_ids) — the op every
    continuously-crawling pipeline runs before appending.

    Scale: fingerprints are 16-byte hashes, so the anti-join shuffles
    hashes, never text; at 100 TB the 'existing' side is a bucketed
    fingerprint table so only the incoming batch shuffles."""
    from taps_spark.operators.text import fingerprint

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    fp = docs.select("doc_id", "source", fingerprint("text").alias("fp"))
    existing = fp.filter(F.col("doc_id") % 2 == 0).select("fp")
    incoming = fp.filter(F.col("doc_id") % 2 == 1)
    return (
        incoming.join(existing, "fp", "left_anti")
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


EMB_NN_ORACLE = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         [CAST(ROUND(x * 1000) AS BIGINT) FOR x IN embedding::DOUBLE[]] AS q
  FROM embeddings
),
w AS (
  SELECT b.band, p.plane, i.pos,
         CASE WHEN ('0x' || SUBSTR(MD5(b.band || '_' || p.plane || '_' || i.pos), 1, 15))::BIGINT % 2 = 1
              THEN 1 ELSE -1 END AS wgt
  FROM (SELECT unnest(range(4)) AS band) b
  CROSS JOIN (SELECT unnest(range(COALESCE(
       (SELECT MIN(pp) FROM (SELECT unnest(range(4, 17)) AS pp)
        WHERE 125 * (CAST(1 AS BIGINT) << pp)
              >= (SELECT COUNT(*) FROM embeddings)), 16)))
       AS plane) p
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
pairs AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bucketed a
  JOIN bucketed b ON a.band = b.band AND a.bucket = b.bucket
                 AND a.vec_id <> b.vec_id
),
s AS (
  SELECT p.id_a, p.id_b,
         list_dot_product(va.e, vb.e)
           / SQRT(list_dot_product(va.e, va.e) * list_dot_product(vb.e, vb.e)) AS c
  FROM pairs p
  JOIN v va ON va.vec_id = p.id_a
  JOIN v vb ON vb.vec_id = p.id_b
),
nn AS (
  SELECT id_a, id_b, c,
         ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY c DESC, id_b) AS rn
  FROM s
),
low AS (
  SELECT id_a, MAX(c) FILTER (id_b < id_a) AS maxlow FROM s GROUP BY id_a
)
SELECT av.vec_id, nn.id_b AS nn_id, ROUND(nn.c, 4) AS nn_cos,
       COALESCE(low.maxlow >= 0.4, FALSE) AS dropped
FROM (SELECT vec_id FROM embeddings) av
LEFT JOIN nn ON nn.id_a = av.vec_id AND nn.rn = 1
LEFT JOIN low ON low.id_a = av.vec_id
ORDER BY av.vec_id
"""


@query("dedup_embedding_cosine", oracle=EMB_NN_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, BLOCKED by default: exact cosine
    scored only within banded hyperplane-LSH (band, bucket) blocks;
    per vector its best candidate neighbor + keep-min `dropped` flag
    at cosine ≥ 0.4 — the semantic-dedup pass run after lexical dedup
    in LLM corpus prep. A vector with no co-bucketed neighbor emits
    NULL nn and dropped=FALSE.

    Scale: candidate generation is an equi-join on (band, bucket) —
    never all-pairs (the r3 verdict's `weak` finding, fixed). The
    unblocked exact kernel (operators/dedup.embedding_nn_dedup) stays
    as the pytest soundness/recall baseline; the oracle reproduces
    the identical md5-parity integer bucket math, so candidates (and
    hence NN/dropped) match bit-for-bit."""
    from taps_spark.operators.dedup import adaptive_planes, embedding_nn_dedup_blocked

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    # Corpus-sized plane count (operators/dedup.adaptive_planes): the
    # one-scalar count() is a parquet-metadata read; a fixed 4-plane
    # band measured alpha=1.57 at the r8 10x-scale experiment.
    planes = adaptive_planes(emb.count())
    return embedding_nn_dedup_blocked(emb, threshold=0.4, bands=4, planes=planes)


EMB_LSH_ORACLE = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         [CAST(ROUND(x * 1000) AS BIGINT) FOR x IN embedding::DOUBLE[]] AS q
  FROM embeddings
),
w AS (
  SELECT b.band, p.plane, i.pos,
         CASE WHEN ('0x' || SUBSTR(MD5(b.band || '_' || p.plane || '_' || i.pos), 1, 15))::BIGINT % 2 = 1
              THEN 1 ELSE -1 END AS wgt
  FROM (SELECT unnest(range(4)) AS band) b
  CROSS JOIN (SELECT unnest(range(COALESCE(
       (SELECT MIN(pp) FROM (SELECT unnest(range(4, 17)) AS pp)
        WHERE 125 * (CAST(1 AS BIGINT) << pp)
              >= (SELECT COUNT(*) FROM embeddings)), 16)))
       AS plane) p
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
sizes AS (
  SELECT band, bucket, COUNT(*) AS n FROM bucketed GROUP BY 1, 2
),
stats AS (
  SELECT band, COUNT(*) AS n_buckets, MAX(n) AS max_bucket,
         CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS n_candidate_pairs
  FROM sizes GROUP BY band
),
verified AS (
  SELECT a.band, COUNT(*) AS n_verified_pairs
  FROM bucketed a
  JOIN bucketed b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
  JOIN v va ON va.vec_id = a.vec_id
  JOIN v vb ON vb.vec_id = b.vec_id
  WHERE list_dot_product(va.e, vb.e)
          / SQRT(list_dot_product(va.e, va.e) * list_dot_product(vb.e, vb.e)) >= 0.4
  GROUP BY 1
)
SELECT CAST(stats.band AS INT) AS band, n_buckets, max_bucket, n_candidate_pairs,
       COALESCE(n_verified_pairs, 0) AS n_verified_pairs
FROM stats LEFT JOIN verified ON stats.band = verified.band
ORDER BY band
"""


@query("dedup_embedding_lsh", oracle=EMB_LSH_ORACLE)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded hyperplane-LSH blocking for embedding near-dup — the
    100 TB path: candidates exist only inside (band, bucket) groups,
    verified at cosine ≥ 0.4; output is per-band stats (linear).

    Bucket math runs on 1e3-quantized integer components with
    md5-parity weights so the oracle reproduces every bucket exactly
    (no float-sum-order divergence); see
    operators/dedup.embedding_lsh_band_stats."""
    from taps_spark.operators.dedup import adaptive_planes, embedding_lsh_band_stats

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    planes = adaptive_planes(emb.count())
    return embedding_lsh_band_stats(emb, bands=4, planes=planes, threshold=0.4)


CROSS_SOURCE_ORACLE = """
WITH t AS (
  SELECT source, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
g AS (
  SELECT DISTINCT source, MD5(array_to_string(toks[i:i+4], ' ')) AS fp
  FROM t, UNNEST(generate_series(1, GREATEST(LEN(toks) - 4, 0))) AS u(i)
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(COUNT(*) AS BIGINT) AS shared_shingles
FROM g a JOIN g b ON a.fp = b.fp AND a.source < b.source
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("dedup_cross_source_overlap", oracle=CROSS_SOURCE_ORACLE)
def dedup_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources,
    how many distinct word 5-gram shingles appear in both — the
    curation signal for which crawls/dumps mirror each other before
    choosing what to drop or down-weight in a training mix (shingle
    granularity catches partial mirrors that exact-content dedup
    misses).

    Scale: shingles are built and md5-hashed map-side, so the one
    shuffle is keyed by the 32-byte gram fingerprint (collect_set of
    the low-cardinality source label combines map-side; document text
    never shuffles). Unordered source pairs are then expanded
    JVM-side from each fingerprint's sorted source set — no gram
    self-join, no second scan. The final pair rollup is |sources|^2
    rows at most.
    """
    from taps_spark.operators.text import with_word_ngrams

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    grams = with_word_ngrams(docs, "text", 5).select(
        "source", F.explode(F.array_distinct("grams")).alias("gram")
    )
    srcs_per_fp = (
        grams.select(F.md5("gram").alias("fp"), "source")
        .groupBy("fp")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .where(F.size("srcs") >= 2)
    )
    pairs = srcs_per_fp.select(
        F.explode(
            F.expr(
                "flatten(transform(srcs, (x, i) -> "
                "transform(slice(srcs, i + 2, size(srcs)), "
                "y -> struct(x AS source_a, y AS source_b))))"
            )
        ).alias("p")
    )
    return (
        pairs.select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("shared_shingles"))
        .orderBy("source_a", "source_b")
    )


LSH_INCREMENTAL_ORACLE = """
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
sig AS (
  SELECT doc_id, s.seed, MIN(MD5(CAST(s.seed AS VARCHAR) || '|' || tok)) AS mh
  FROM tok
  CROSS JOIN (SELECT unnest(range(8)) AS seed) s
  GROUP BY doc_id, s.seed
),
bands AS (
  SELECT doc_id, seed // 2 AS band, STRING_AGG(mh, '|' ORDER BY seed) AS band_sig
  FROM sig
  GROUP BY doc_id, seed // 2
),
newb AS (SELECT doc_id FROM documents WHERE source = 'src19'),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
  FROM bands n
  JOIN newb ON n.doc_id = newb.doc_id
  JOIN bands c ON n.band = c.band AND n.band_sig = c.band_sig
  WHERE c.doc_id NOT IN (SELECT doc_id FROM newb)
),
tsets AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks
  FROM documents
),
verified AS (
  SELECT new_id, corpus_id,
         CAST(LEN(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
           / LEN(list_distinct(list_concat(ta.toks, tb.toks))) AS j
  FROM cand
  JOIN tsets ta ON ta.doc_id = new_id
  JOIN tsets tb ON tb.doc_id = corpus_id
)
SELECT new_id,
       COUNT(*) AS n_candidates,
       COUNT(*) FILTER (WHERE j >= 0.5) AS n_dups,
       MIN(corpus_id) FILTER (WHERE j >= 0.5) AS first_dup,
       ROUND(MAX(j), 4) AS best_jaccard
FROM verified
GROUP BY new_id
ORDER BY new_id
"""


def _lsh_probe_scores(docs: DataFrame, new_ids: DataFrame) -> DataFrame:
    """Batch-vs-corpus LSH probe: (new_id, corpus_id, j) for every
    candidate pair bucketed by MinHash band collision, scored with
    exact token-set Jaccard. Shared by the incremental near-dup query
    and the composite ingest pipeline.

    Condensed like the near-dup graph family (_condensed_prelude):
    docs with an identical distinct-token SET share signatures, bands,
    and Jaccard scores, so sign / band / verify run once per token-set
    GROUP and the (new_id, corpus_id, j) rows fan back out as scalars.
    A batch doc and a corpus doc in the SAME group agree on every band
    (always candidates) with Jaccard exactly 1 — emitted directly,
    never verified. Cross-group pairs verify once per group pair on
    int64 hashed token sets. Byte-identical to the per-doc
    formulation; verify work drops with the duplication rate squared
    (sf0.1: ~20 s of string-array Jaccard → ~4 s)."""
    from taps_spark.operators.dedup import (
        earlier_band_collision,
        hashed_token_set,
        jaccard_hashed,
    )

    flagged = _token_sets(docs).join(
        F.broadcast(new_ids.withColumn("_new", F.lit(True))), "doc_id", "left"
    )
    # collect_list drops the NULLs the unmatched WHEN branches produce,
    # so the two member lists partition each group by batch membership.
    grp = (
        flagged.groupBy("rtoks")
        .agg(
            F.min("doc_id").alias("gid"),
            F.sort_array(
                F.collect_list(F.when(F.col("_new"), F.col("doc_id")))
            ).alias("new_members"),
            F.sort_array(
                F.collect_list(F.when(F.col("_new").isNull(), F.col("doc_id")))
            ).alias("corpus_members"),
        )
        .transform(materialize)
    )
    # First-collision-band candidates (no distinct shuffle — see
    # band_bucket_scalars); a group present on both sides collides
    # with itself on every band, so band 0 alone emits the (g, g) row
    # the old distinct kept once.
    a, b = _group_band_sides(grp)
    ng = grp.filter(F.size("new_members") > 0).select(F.col("gid").alias("src"))
    cg = grp.filter(F.size("corpus_members") > 0).select(F.col("gid").alias("dst"))
    nb = a.join(F.broadcast(ng), "src")
    cb = b.join(F.broadcast(cg), "dst")
    cand = (
        nb.join(cb, ["band", "bid"])
        .filter(~earlier_band_collision(LSH_N_BANDS))
        .select("src", "dst")
    )
    ghash = grp.select("gid", hashed_token_set(F.col("rtoks")).alias("toks"))
    # Checkpoint = pushdown barrier: callers filter the returned `j`
    # (>= 0.5 / 0.8), and without the barrier that filter folds into
    # the verify join's residual condition where the intersect
    # evaluates twice per pair for every candidate (see
    # _verified_scores). Group-level pairs, so the frame is
    # small.
    cross = (
        cand.filter(F.col("src") != F.col("dst"))
        .join(ghash.select(F.col("gid").alias("src"), F.col("toks").alias("toks_a")), "src")
        .join(ghash.select(F.col("gid").alias("dst"), F.col("toks").alias("toks_b")), "dst")
        .select(
            "src", "dst", jaccard_hashed(F.col("toks_a"), F.col("toks_b")).alias("j")
        )
        .transform(materialize)
    )
    same = cand.filter(F.col("src") == F.col("dst")).select(
        "src", "dst", F.lit(1.0).alias("j")
    )
    nm = grp.select(F.col("gid").alias("src"), F.col("new_members").alias("nm"))
    cm = grp.select(F.col("gid").alias("dst"), F.col("corpus_members").alias("cm"))
    return (
        cross.unionByName(same)
        .join(nm, "src")
        .join(cm, "dst")
        .select("j", F.explode("nm").alias("new_id"), "cm")
        .select("new_id", F.explode("cm").alias("corpus_id"), "j")
    )


@query("dedup_lsh_incremental", oracle=LSH_INCREMENTAL_ORACLE)
def dedup_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: probe an incoming batch (source src19)
    against the already-ingested corpus via LSH band buckets, then
    verify candidates with exact token-set Jaccard — the daily-ingest
    operation of a training-data pipeline (never re-clusters the
    corpus, never compares batch docs to each other).

    Scale: corpus band signatures are a precomputable artifact (one
    wide-agg pass, reusable across batches); the batch id-set is tiny
    and broadcast, so candidate generation is a bucketed equi-join on
    (band, band_sig) — linear in bucket occupancy, no all-pairs.
    Verification touches candidate pairs only.
    """
    docs = parallelize_cpu(load_tables(spark, sf_dir, ("documents",))["documents"])
    new_ids = docs.filter(F.col("source") == "src19").select("doc_id")
    ver = _lsh_probe_scores(docs, new_ids)
    dup = F.col("j") >= 0.5
    return (
        ver.groupBy("new_id")
        .agg(
            F.count("*").alias("n_candidates"),
            F.count(F.when(dup, F.lit(1))).alias("n_dups"),
            F.min(F.when(dup, F.col("corpus_id"))).alias("first_dup"),
            F.round(F.max("j"), 4).alias("best_jaccard"),
        )
        .orderBy("new_id")
    )


CONTAINMENT_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks,
         LAG(doc_id) OVER (PARTITION BY lang, source ORDER BY doc_id) AS prev_id,
         LAG(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
             OVER (PARTITION BY lang, source ORDER BY doc_id) AS prev_toks
  FROM documents
)
SELECT doc_id, prev_id,
       ROUND(CAST(LEN(list_intersect(toks, prev_toks)) AS DOUBLE)
             / LEN(toks), 4) AS contain_this,
       ROUND(CAST(LEN(list_intersect(toks, prev_toks)) AS DOUBLE)
             / LEN(prev_toks), 4) AS contain_prev,
       CAST(LEN(list_intersect(toks, prev_toks)) AS DOUBLE)
         / LEAST(LEN(toks), LEN(prev_toks)) >= 0.9 AS superset_like
FROM t
WHERE prev_id IS NOT NULL
ORDER BY doc_id
"""


@query("dedup_containment_pairs", oracle=CONTAINMENT_ORACLE)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided containment |A∩B|/|A| between each doc and its
    (lang, source) predecessor — the measure that catches near-SUPERSET
    duplication (boilerplate wrapping, quote-and-extend) which
    symmetric Jaccard under-scores: a doc fully contained in a 10×
    larger one has Jaccard ≤ 0.1 but containment 1.0.

    Blocking here is the neighbor pair (keeps the oracle all-SQL); the
    LSH queries provide scalable blocking for the same kernel.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    w = Window.partitionBy("lang", "source").orderBy("doc_id")
    t = docs.select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(tokens("text")).alias("toks"),
    ).select(
        "doc_id",
        F.lag("doc_id").over(w).alias("prev_id"),
        "toks",
        F.lag("toks").over(w).alias("prev_toks"),
    )
    inter = F.size(F.array_intersect("toks", "prev_toks")).cast("double")
    return (
        t.filter(F.col("prev_id").isNotNull())
        .select(
            "doc_id",
            "prev_id",
            F.round(inter / F.size("toks"), 4).alias("contain_this"),
            F.round(inter / F.size("prev_toks"), 4).alias("contain_prev"),
            (
                inter / F.least(F.size("toks"), F.size("prev_toks")) >= 0.9
            ).alias("superset_like"),
        )
        .orderBy("doc_id")
    )


INGEST_INCREMENT_ORACLE = """
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
sig AS (
  SELECT doc_id, s.seed, MIN(MD5(CAST(s.seed AS VARCHAR) || '|' || tok)) AS mh
  FROM tok
  CROSS JOIN (SELECT unnest(range(8)) AS seed) s
  GROUP BY doc_id, s.seed
),
bands AS (
  SELECT doc_id, seed // 2 AS band, STRING_AGG(mh, '|' ORDER BY seed) AS band_sig
  FROM sig
  GROUP BY doc_id, seed // 2
),
newb AS (SELECT doc_id FROM documents WHERE source = 'src19'),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
  FROM bands n
  JOIN newb ON n.doc_id = newb.doc_id
  JOIN bands c ON n.band = c.band AND n.band_sig = c.band_sig
  WHERE c.doc_id NOT IN (SELECT doc_id FROM newb)
),
tsets AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks
  FROM documents
),
neardup AS (
  SELECT DISTINCT new_id
  FROM cand
  JOIN tsets ta ON ta.doc_id = new_id
  JOIN tsets tb ON tb.doc_id = corpus_id
  WHERE CAST(LEN(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
        / LEN(list_distinct(list_concat(ta.toks, tb.toks))) >= 0.8
),
q AS (
  SELECT doc_id, lang,
         LEN(regexp_split_to_array(trim(text), '\\s+')) AS token_ct,
         CAST(LEN(LIST_FILTER(regexp_split_to_array(trim(text), '\\s+'),
                              s -> s IN ('the','a','of','and','to','in','is')))
              AS DOUBLE)
           / GREATEST(LEN(regexp_split_to_array(trim(text), '\\s+')), 1) AS stop_ratio,
         MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))) AS fp
  FROM documents
  WHERE source = 'src19'
),
corpus_fp AS (
  SELECT DISTINCT MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))) AS fp
  FROM documents
  WHERE source <> 'src19'
),
bf AS (SELECT fp, MIN(doc_id) AS keep_id FROM q GROUP BY fp)
SELECT q.doc_id, q.lang,
       CASE WHEN q.token_ct < 20
                 OR (q.lang = 'en' AND q.stop_ratio < 0.08) THEN 'drop_quality'
            WHEN q.fp IN (SELECT fp FROM corpus_fp)
                 OR q.doc_id <> bf.keep_id THEN 'drop_exact'
            WHEN q.doc_id IN (SELECT new_id FROM neardup) THEN 'drop_neardup'
            ELSE 'kept' END AS verdict
FROM q JOIN bf ON q.fp = bf.fp
ORDER BY q.doc_id
"""


@query("pipeline_ingest_increment", oracle=INGEST_INCREMENT_ORACLE)
def pipeline_ingest_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-ingest job as ONE Catalyst plan: an incoming batch
    (source src19) is routed per-document to
    kept / drop_quality / drop_exact / drop_neardup —
      1. quality gate (length floor for all; stopword fluency only
         for English — an anglocentric stopword list must not judge
         zh/de/fr docs; map-only),
      2. exact dedup against the corpus fingerprint set AND keep-first
         within the batch,
      3. LSH near-dup probe against the corpus (band-bucketed
         candidates, exact-Jaccard-verified ≥ 0.8 — the strict
         retrain-dedup threshold; looser exploration lives in
         dedup_lsh_incremental at 0.5),
    first failing rule wins. In production the verdict column drives a
    partitioned write (kept → corpus, rest → quarantine) in the same
    pass.

    Scale: every stage is the already-proven shape — scan-speed gates,
    32-byte fingerprint anti-join, broadcast batch id-set, bucketed
    band equi-join. Nothing here is new physics; the point is that the
    composition stays one shuffle-efficient plan, no orchestration
    glue between steps.
    """
    from taps_spark.operators.text import (
        fingerprint,
        stopword_count,
        token_count,
    )

    docs = parallelize_cpu(load_tables(spark, sf_dir, ("documents",))["documents"])
    is_new = F.col("source") == "src19"
    new = docs.filter(is_new)
    tc = token_count("text")
    sr = stopword_count("text") / F.greatest(tc, F.lit(1))
    q = new.select(
        "doc_id",
        "lang",
        fingerprint("text").alias("fp"),
        (
            (tc < 20) | ((F.col("lang") == "en") & (sr < 0.08))
        ).alias("bad_quality"),
    )
    corpus_fp = (
        docs.filter(~is_new).select(fingerprint("text").alias("fp")).distinct()
    )
    q = q.join(
        corpus_fp.withColumn("in_corpus", F.lit(True)), "fp", "left"
    ).withColumn("keep_id", F.min("doc_id").over(Window.partitionBy("fp")))
    neardup = (
        _lsh_probe_scores(docs, new.select("doc_id"))
        .filter(F.col("j") >= 0.8)
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
        .withColumn("is_neardup", F.lit(True))
    )
    q = q.join(neardup, "doc_id", "left")
    verdict = (
        F.when(F.col("bad_quality"), "drop_quality")
        .when(
            F.col("in_corpus").isNotNull() | (F.col("doc_id") != F.col("keep_id")),
            "drop_exact",
        )
        .when(F.col("is_neardup").isNotNull(), "drop_neardup")
        .otherwise("kept")
    )
    return q.select("doc_id", "lang", verdict.alias("verdict")).orderBy("doc_id")


BLOOM_INCREMENTAL_ORACLE = """
WITH fp AS (
  SELECT doc_id, source,
         MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))) AS fp
  FROM documents
),
existing AS (SELECT fp FROM fp WHERE doc_id % 2 = 0),
incoming AS (SELECT doc_id, source, fp FROM fp WHERE doc_id % 2 = 1)
SELECT i.doc_id, i.source,
       EXISTS (SELECT 1 FROM existing e WHERE e.fp = i.fp) AS is_dup
FROM incoming i
ORDER BY i.doc_id
"""


@query("dedup_bloom_incremental", oracle=BLOOM_INCREMENTAL_ORACLE)
def dedup_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental-ingest dedup: the ingested
    corpus's fingerprints (even doc_ids) compress into a Bloom bitmap
    (operators/dedup.bloom_build — num_bits/8 bytes total, broadcast);
    the incoming batch (odd doc_ids) probes it map-side. Probe-miss ⇒
    definitely new, NO join. Probe-hit ⇒ candidate, exact-verified by
    one semi-join that only candidates reach — so the final verdict is
    exact (bloom false positives cost a join row, never a wrong
    answer) and the DuckDB oracle is a plain EXISTS.

    Scale: this is how a 100 TB continuously-crawling pipeline avoids
    shuffling the whole ingested key set against every new batch —
    the bitmap is O(corpus)/8 bits once, and per batch only the ~1%
    false-positive candidates plus true dups reach the verify join.
    tests/test_operators.py pins the no-false-negative guarantee and
    the FP bound.
    """
    from taps_spark.operators.dedup import bloom_build, bloom_probe
    from taps_spark.operators.text import fingerprint

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    fp = docs.select("doc_id", "source", fingerprint("text").alias("fp"))
    existing = fp.filter(F.col("doc_id") % 2 == 0).select("fp")
    incoming = fp.filter(F.col("doc_id") % 2 == 1)

    bloom = bloom_build(existing, "fp")
    # The two union branches below both read the probed frame, and
    # Spark does not common-subexpression-eliminate across Union
    # branches — without a materialization the bitmap build would run
    # once per branch.
    probed = bloom_probe(incoming, bloom, "fp").transform(materialize)
    misses = probed.filter(~F.col("bloom_maybe")).withColumn("is_dup", F.lit(False))
    # One LEFT join verifies candidates: present → dup, absent → the
    # bloom false positive, still correctly 'new'.
    verified = (
        probed.filter(F.col("bloom_maybe"))
        .join(
            existing.distinct().withColumn("_in", F.lit(True)),
            "fp",
            "left",
        )
        .withColumn("is_dup", F.coalesce(F.col("_in"), F.lit(False)))
    )
    return (
        misses.select("doc_id", "source", "is_dup")
        .unionByName(verified.select("doc_id", "source", "is_dup"))
        .orderBy("doc_id")
    )


@query("dedup_semantic_clusters")  # rows-only: k-means blocking is iterative
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shape semantic dedup over the embeddings: k-means
    blocks (the IVF coarse quantizer reused), exact cosine only
    within a cluster, keep-min survivor per ≥0.4-cosine pair (the
    fixture corpus's near-dup band, matching dedup_embedding_cosine).
    Complements the text-hash family (exact/minhash/simhash) with
    meaning-level duplication the token hashes can't see, and
    `dedup_embedding_lsh` with a data-adaptive blocker.

    Rows-only (iterative blocker); tests/test_operators.py proves
    soundness exactly — every dropped vector's flagged neighbor
    really has cosine ≥ threshold — and cross-pins blocked recall
    against the exact all-pairs answer.
    """
    from taps_spark.operators.similarity import semantic_dedup

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return semantic_dedup(emb, threshold=0.4, nlist=16, iters=2).orderBy("vec_id")


DUP_SPANS_ORACLE = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
spans AS (
  SELECT doc_id,
         MD5(array_to_string(list_slice(toks, CAST(i + 1 AS INT), CAST(i + 8 AS INT)), ' ')) AS span_h
  FROM t, UNNEST(range(len(toks) - 7)) AS u(i)
  WHERE len(toks) >= 8
),
dup AS (
  SELECT span_h FROM spans GROUP BY span_h HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN d.span_h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
       ROUND(CAST(SUM(CASE WHEN d.span_h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac
FROM spans s
LEFT JOIN dup d USING (span_h)
GROUP BY s.doc_id
ORDER BY s.doc_id
"""


@query("dedup_duplicated_spans", oracle=DUP_SPANS_ORACLE)
def dedup_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level (8-token sliding-span) cross-document dedup
    profile: per doc, how many of its spans also occur verbatim in
    another document (the exact-substring-dedup signal of Lee et al.
    2022 — catches boilerplate shared across otherwise-distinct docs
    that whole-document fingerprints miss entirely).

    Engine-portable md5 span hashes → the DuckDB oracle computes the
    identical spans. See operators/dedup.span_hashes for the 100 TB
    plan shape (span enumeration is expression-only; the only shuffle
    key is the 32-byte hash).
    """
    from taps_spark.operators.dedup import duplicated_span_stats

    docs = parallelize_cpu(load_tables(spark, sf_dir, ("documents",))["documents"])
    return duplicated_span_stats(docs, "doc_id", "text", width=8).orderBy("doc_id")


THRESHOLD_SWEEP_ORACLE = """
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
sig AS (
  SELECT doc_id, s.seed, MIN(MD5(CAST(s.seed AS VARCHAR) || '|' || tok)) AS mh
  FROM tok
  CROSS JOIN (SELECT unnest(range(8)) AS seed) s
  GROUP BY doc_id, s.seed
),
bands AS (
  SELECT doc_id, seed // 2 AS band, STRING_AGG(mh, '|' ORDER BY seed) AS band_sig
  FROM sig
  GROUP BY doc_id, seed // 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
tsets AS (
  SELECT doc_id, list_sort(list_distinct(list_transform(list_distinct(regexp_split_to_array(trim(text), '\\s+')), t -> ('0x' || SUBSTR(MD5(t), 1, 15))::BIGINT))) AS toks
  FROM documents
),
scored AS (
  SELECT doc_a, doc_b,
         CAST(LEN(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
           / (LEN(ta.toks) + LEN(tb.toks) - LEN(list_intersect(ta.toks, tb.toks))) AS j
  FROM cand
  JOIN tsets ta ON ta.doc_id = doc_a
  JOIN tsets tb ON tb.doc_id = doc_b
),
th AS (SELECT UNNEST([0.7, 0.8, 0.9]) AS threshold)
SELECT th.threshold,
       CAST(COALESCE(SUM(CASE WHEN s.j >= th.threshold THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_pairs,
       CAST(COUNT(DISTINCT CASE WHEN s.j >= th.threshold THEN s.doc_a END)
            + COUNT(DISTINCT CASE WHEN s.j >= th.threshold THEN s.doc_b END) AS BIGINT)
         AS n_doc_slots
FROM th CROSS JOIN scored s
GROUP BY th.threshold
ORDER BY th.threshold
"""


@query("dedup_threshold_sweep", oracle=THRESHOLD_SWEEP_ORACLE)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold SENSITIVITY analysis: how many verified
    pairs (and how many left/right document slots) survive at Jaccard
    >= 0.7 / 0.8 / 0.9 — the audit you run before committing a dedup
    threshold at corpus scale, where each 0.05 of threshold can mean
    billions of documents kept or dropped.

    Same condensed shape as dedup_lsh_verified_pairs (verify per
    GROUP pair, scalar fan-out via _fan_out_doc_pairs), then ONE
    conditional aggregation over the swept thresholds — thresholds
    add zero scans. (A fully closed-form variant with NO doc-pair
    fan-out measured SLOWER here — its three-consumer plan
    re-shuffles what this single linear pipeline streams; see
    SCALE.md round-5 notes.) Measured at sf0.1: 30.3 s -> 27.2 s.
    Prefilter at 0.7, the smallest swept threshold, is lossless.
    """
    prelude = _lsh_prelude(spark, sf_dir)
    gscored = _verified_scores(prelude, 0.7)
    swept = _fan_out_doc_pairs(prelude[0], gscored).select(
        "doc_a", "doc_b", "j",
        F.explode(F.array(F.lit(0.7), F.lit(0.8), F.lit(0.9))).alias("threshold"),
    )
    return (
        swept.groupBy("threshold")
        .agg(
            F.sum(F.when(F.col("j") >= F.col("threshold"), 1).otherwise(0))
            .cast("long")
            .alias("n_pairs"),
            (
                F.countDistinct(F.when(F.col("j") >= F.col("threshold"), F.col("doc_a")))
                + F.countDistinct(F.when(F.col("j") >= F.col("threshold"), F.col("doc_b")))
            )
            .cast("long")
            .alias("n_doc_slots"),
        )
        .orderBy("threshold")
    )


CANONICAL_PICK_ORACLE = """
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
sig AS (
  SELECT doc_id, s.seed, MIN(MD5(CAST(s.seed AS VARCHAR) || '|' || tok)) AS mh
  FROM tok
  CROSS JOIN (SELECT unnest(range(8)) AS seed) s
  GROUP BY doc_id, s.seed
),
bands AS (
  SELECT doc_id, seed // 2 AS band, STRING_AGG(mh, '|' ORDER BY seed) AS band_sig
  FROM sig
  GROUP BY doc_id, seed // 2
),
m AS (
  SELECT b.band, b.band_sig, b.doc_id, d.n_chars
  FROM bands b JOIN documents d USING (doc_id)
),
c AS (
  SELECT band, band_sig, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY band, band_sig
                            ORDER BY n_chars DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY band, band_sig) AS n_docs
  FROM m
)
SELECT CAST(band AS BIGINT) AS band, band_sig,
       CAST(n_docs AS BIGINT) AS n_docs,
       doc_id AS canonical_id,
       CAST(n_chars AS BIGINT) AS canonical_chars,
       CAST(n_docs - 1 AS BIGINT) AS n_removed
FROM c
WHERE rn = 1 AND n_docs > 1
ORDER BY band, band_sig
"""


@query("dedup_canonical_pick", oracle=CANONICAL_PICK_ORACLE)
def dedup_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection over near-dup clusters: for
    every MinHash-LSH bucket with more than one member, KEEP the
    highest-quality document (longest text, doc_id tiebreak) and count
    the rest as removable — the 'pick the best copy' step that follows
    candidate clustering in every production dedup pipeline (plain
    keep-first throws away the better-formatted duplicate).

    Scale: reuses the banded signature path (never all-pairs); the
    argmax is a single map-side-combinable MAX_BY per bucket — no
    window, no second shuffle beyond the bucket agg, and output stays
    linear in the number of collided buckets.

    Determinism: the selection key struct(n_chars, -doc_id) is unique
    per doc, so MAX_BY cannot tie — identical pick on any engine,
    any partitioning.
    """
    docs = parallelize_cpu(load_tables(spark, sf_dir, ("documents",))["documents"])
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=8)
    from taps_spark.operators.dedup import band_signatures

    m = band_signatures(sigs, "doc_id", rows_per_band=2).join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    pick = F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))
    return (
        m.groupBy("band", "band_sig")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max_by("doc_id", pick).alias("canonical_id"),
            F.max("n_chars").alias("canonical_chars"),
        )
        .filter(F.col("n_docs") > 1)
        .select(
            "band",
            "band_sig",
            "n_docs",
            "canonical_id",
            "canonical_chars",
            (F.col("n_docs") - 1).alias("n_removed"),
        )
        .orderBy("band", "band_sig")
    )


MINHASH_ESTIMATE_ORACLE = """
WITH docs_s AS (
  SELECT doc_id, lang, text FROM documents WHERE doc_id < 150
),
tok AS (
  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM docs_s
),
sig AS (
  SELECT doc_id, s.seed, MIN(MD5(CAST(s.seed AS VARCHAR) || '|' || tok)) AS mh
  FROM tok
  CROSS JOIN (SELECT unnest(range(8)) AS seed) s
  GROUP BY doc_id, s.seed
),
sv AS (
  SELECT doc_id, LIST(mh ORDER BY seed) AS sg FROM sig GROUP BY doc_id
),
ts AS (
  SELECT doc_id, LIST(DISTINCT tok) AS t FROM tok GROUP BY doc_id
),
pairs AS (
  SELECT a.lang,
         LEN(LIST_FILTER(range(1, 9), i -> sa.sg[CAST(i AS INT)] = sb.sg[CAST(i AS INT)]))
           AS matches,
         LEN(LIST_INTERSECT(ta.t, tb.t)) AS i,
         LEN(ta.t) + LEN(tb.t) - LEN(LIST_INTERSECT(ta.t, tb.t)) AS u
  FROM docs_s a
  JOIN docs_s b ON a.lang = b.lang AND a.doc_id < b.doc_id
  JOIN sv sa ON sa.doc_id = a.doc_id
  JOIN sv sb ON sb.doc_id = b.doc_id
  JOIN ts ta ON ta.doc_id = a.doc_id
  JOIN ts tb ON tb.doc_id = b.doc_id
),
err AS (
  SELECT lang,
         CAST(matches AS DOUBLE) / 8 - CAST(i AS DOUBLE) / u AS e
  FROM pairs
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CAST(FLOOR(ABS(e) * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_abs_err_micros,
       CAST(SUM(CASE WHEN e >= 0
                     THEN CAST(FLOOR(e * 1000000 + 0.5) AS BIGINT)
                     ELSE -CAST(FLOOR(-e * 1000000 + 0.5) AS BIGINT) END) AS BIGINT)
         AS bias_micros
FROM err
GROUP BY lang
ORDER BY lang
"""


@query("dedup_minhash_estimate_quality", oracle=MINHASH_ESTIMATE_ORACLE)
def dedup_minhash_estimate_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality audit for the MinHash(8) family every LSH query
    rides on: over a sampled doc block (doc_id < 150, paired within
    language), compare the signature-agreement ESTIMATE of Jaccard
    (matching rows / 8) against the EXACT token-set Jaccard, and roll
    up per-language absolute error and signed bias. This is the dial
    a 100 TB operator reads before trusting a banding threshold — if
    8 hashes estimate J with 0.12 MAE, a 0.5 band cut is really
    0.38–0.62.

    Exactness: the estimate is an exact eighth, the error terms are
    folded to integer micros with FLOOR(x + 0.5) on BOTH engines
    (identical IEEE steps, no engine ROUND-half divergence), so the
    sums are order-free integers.

    Scale: pairs come from an equi-join on (lang) over an explicitly
    sampled block — the sample cap is the knob, never the corpus; at
    production scale the same audit runs over a hash-sampled pair
    stream (see sample_hash_10pct) with identical arithmetic.
    """
    from taps_spark.operators.dedup import jaccard

    docs = load_tables(spark, sf_dir, ("documents",))["documents"].filter(
        F.col("doc_id") < 150
    )
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=8)
    sv = sigs.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("seed", "mh"))), lambda s: s["mh"]
        ).alias("sg")
    )
    from taps_spark.operators.text import tokens

    ts = docs.select(
        "doc_id", "lang", F.array_distinct(tokens("text")).alias("t")
    )
    a = ts.select(
        F.col("doc_id").alias("ida"), F.col("lang"), F.col("t").alias("ta")
    ).join(sv.select(F.col("doc_id").alias("ida"), F.col("sg").alias("sa")), "ida")
    b = ts.select(
        F.col("doc_id").alias("idb"), F.col("lang"), F.col("t").alias("tb")
    ).join(sv.select(F.col("doc_id").alias("idb"), F.col("sg").alias("sb")), "idb")
    pairs = a.join(b, ["lang"]).filter(F.col("ida") < F.col("idb"))
    e = pairs.select(
        "lang",
        (
            F.aggregate(
                F.zip_with(
                    "sa", "sb", lambda x, y: F.when(x == y, 1).otherwise(0)
                ),
                F.lit(0),
                lambda acc, v: acc + v,
            ).cast("double")
            / 8
            - jaccard(F.col("ta"), F.col("tb"))
        ).alias("e"),
    )
    micros = lambda c: F.floor(c * 1000000 + 0.5).cast("long")  # noqa: E731
    return (
        e.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(micros(F.abs(F.col("e")))).cast("long").alias("sum_abs_err_micros"),
            F.sum(
                F.when(F.col("e") >= 0, micros(F.col("e"))).otherwise(
                    -micros(-F.col("e"))
                )
            )
            .cast("long")
            .alias("bias_micros"),
        )
        .orderBy("lang")
    )


LSH_SAMPLED_ORACLE = """
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
sig AS (
  SELECT doc_id, s.seed, MIN(MD5(CAST(s.seed AS VARCHAR) || '|' || tok)) AS mh
  FROM tok
  CROSS JOIN (SELECT unnest(range(8)) AS seed) s
  GROUP BY doc_id, s.seed
),
bands AS (
  SELECT doc_id, seed // 2 AS band, STRING_AGG(mh, '|' ORDER BY seed) AS band_sig
  FROM sig
  GROUP BY doc_id, seed // 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
samp AS (
  SELECT doc_a, doc_b FROM cand
  WHERE SUBSTRING(MD5(CAST(doc_a AS VARCHAR) || '|' || CAST(doc_b AS VARCHAR)), 1, 1)
        IN ('0', '3', '6', '9', 'c', 'f')
),
tsets AS (
  SELECT doc_id, list_sort(list_distinct(list_transform(list_distinct(regexp_split_to_array(trim(text), '\\s+')), t -> ('0x' || SUBSTR(MD5(t), 1, 15))::BIGINT))) AS toks
  FROM documents
),
verified AS MATERIALIZED (
  SELECT doc_a, doc_b,
         CAST(LEN(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
           / (LEN(ta.toks) + LEN(tb.toks) - LEN(list_intersect(ta.toks, tb.toks))) AS j
  FROM samp
  JOIN tsets ta ON ta.doc_id = doc_a
  JOIN tsets tb ON tb.doc_id = doc_b
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
       CAST(COUNT(*) AS BIGINT) AS n_sampled,
       CAST(SUM(CASE WHEN j >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups_sampled,
       CASE WHEN COUNT(*) = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(FLOOR((CAST(SUM(CASE WHEN j >= 0.8 THEN 1 ELSE 0 END) AS DOUBLE)
                             / COUNT(*)) * 1000000 + 0.5) AS BIGINT) END
         AS est_dup_ppm
FROM verified
"""


@query("dedup_lsh_sampled_verify", oracle=LSH_SAMPLED_ORACLE)
def dedup_lsh_sampled_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLED verification of the LSH candidate stream: enumerate
    candidates exactly as dedup_lsh_verified_pairs does, but run the
    expensive token-set Jaccard only on a deterministic 6-in-16
    (37.5%) pair-hash sample and report the estimated duplicate rate — the
    knob a 100 TB dedup pipeline turns when the full verify pass is
    the budget bottleneck and it only needs the RATE (to pick a
    banding threshold or decide whether dedup pays at all) rather
    than the pair list. The VERIFY stage's cost drops by the sample
    factor; signature/banding generation is shared with every other
    LSH query and dominates at the fixtures' low duplication — on a
    boilerplate-heavy corpus (real crawls: verify >> generate because
    candidates grow quadratically in bucket sizes) the sample factor
    approaches the whole-query speedup.

    The sample is md5(doc_a|doc_b)-keyed (first hex digit in a fixed
    6-element set) — deterministic on any cluster and unbiased w.r.t.
    content (the hash never sees text) — so this stays oracle-exact:
    the estimate itself is reproducible, unlike an RNG sample.
    Within-group pairs (identical token sets) are known Jaccard-1
    without any set intersection; sampled cross pairs verify once per
    GROUP pair (_condensed_prelude) and only for groups the sample
    actually touches.

    Determinism: exact integer counts and one ppm fold.

    Cost anatomy (r10 VERDICT task #7, sf0.1 profile): beyond the
    prelude build (grp build 16.8 s), the query's own ~14 s was
    (a) counting n_candidates by a SECOND pass over the exploded
    doc-pair stream, (b) verifying via a distinct+re-join
    that recomputed the explode subtree again, and (c) a sampling key
    whose conv(hex,16,10) radix parse doubled the md5's own cost over
    9.9M pairs. All three fixed below: group-size arithmetic for the
    total, group-pair-grain count-weighted verify, digit-set key.
    """
    from taps_spark.operators.dedup import jaccard_hashed

    grp, cand, ta, tb = _lsh_prelude(spark, sf_dir)
    # Fan group-pair candidates to doc pairs CARRYING (src, dst): the
    # sampled pairs then need zero doc->group re-joins to find their
    # verify key (an earlier draft re-joined a members-exploded map
    # twice — two extra shuffles of every sampled pair; warm sf0.1
    # profile: 19.3 s old vs 15.8 s carried, with the full verify at
    # 18.4 s — candidate GENERATION dominates both, the sampled
    # verify JOIN itself is ~3x cheaper as intended).
    gm = grp.select("gid", "members")
    cross = (
        cand.join(
            gm.select(F.col("gid").alias("src"), F.col("members").alias("ma")), "src"
        )
        .join(gm.select(F.col("gid").alias("dst"), F.col("members").alias("mb")), "dst")
        .select("src", "dst", F.explode("ma").alias("x"), "mb")
        .select("src", "dst", "x", F.explode("mb").alias("y"))
        .select(
            "src",
            "dst",
            F.least("x", "y").alias("doc_a"),
            F.greatest("x", "y").alias("doc_b"),
            F.lit(False).alias("known_dup"),
        )
    )
    within = (
        grp.filter(F.col("n_docs") >= 2)
        .select(F.explode("members").alias("doc_a"), "members")
        .select("doc_a", F.explode("members").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            F.lit(None).cast("long").alias("src"),
            F.lit(None).cast("long").alias("dst"),
            "doc_a",
            "doc_b",
            F.lit(True).alias("known_dup"),
        )
    )
    pairs = cross.unionByName(within)
    # Hex-digit membership instead of conv(hex, 16, 10) % 3: the key
    # evaluates once per fanned-out doc pair, and conv's radix parse
    # measurably doubled the key cost over the md5 itself (warm sf0.1
    # A/B over the 9.9M-pair stream: md5+conv 8.3 s vs md5+digit-set
    # 5.7 s). First md5 hex digit ∈ {0,3,6,9,c,f} = a deterministic
    # 6-in-16 (37.5%) sample — same md5-keyed content-blind design,
    # mirrored exactly by the DuckDB oracle.
    key = F.substring(
        F.md5(
            F.concat(
                F.col("doc_a").cast("string"),
                F.lit("|"),
                F.col("doc_b").cast("string"),
            )
        ),
        1,
        1,
    )
    sampled = pairs.filter(key.isin("0", "3", "6", "9", "c", "f"))
    sc = sampled.filter(~F.col("known_dup")).select("src", "dst", "doc_a", "doc_b")
    # ONE fan-out pass: fold the sampled cross pairs to (src, dst)
    # grain counts FIRST, then verify each touched group pair once and
    # weight its verdict by its sampled-pair count. The earlier shape
    # (gj = sc.distinct→verify, then sc JOIN gj) made Catalyst compute
    # the whole ~10M-row explode+md5 subtree twice — once under the
    # distinct, once under the join probe.
    scnt = sc.groupBy("src", "dst").agg(F.count("*").alias("n_pairs"))
    # n_candidates arithmetically from GROUP sizes — Σ |ma|·|mb| over
    # candidate group pairs plus Σ C(n,2) within multi-doc groups —
    # instead of counting the exploded doc-pair stream: `pairs` feeds
    # two aggregates in one plan (this total and the sampled verify),
    # and Catalyst computes the explode subtree once per consumer, so
    # the count-by-explode path paid the full ~10M-row fan-out TWICE.
    # Identical integer. Combined with the count-weighted verify and
    # the digit-set key below, warm-prelude sf0.1 min-of-3 fell
    # 14.1 s → 7.9 s; the remaining cost is the one sampled-side
    # fan-out + md5 keying, the honest floor of a doc-pair sample.
    sizes = grp.select("gid", "n_docs")
    tot_cross = (
        cand.join(
            F.broadcast(
                sizes.select(F.col("gid").alias("src"), F.col("n_docs").alias("na"))
            ),
            "src",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("gid").alias("dst"), F.col("n_docs").alias("nb"))
            ),
            "dst",
        )
        .agg(
            F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0))
            .cast("long")
            .alias("nc_cross")
        )
    )
    tot_within = grp.filter(F.col("n_docs") >= 2).agg(
        F.coalesce(
            F.sum(F.expr("n_docs * (n_docs - 1) div 2")), F.lit(0)
        )
        .cast("long")
        .alias("nc_within")
    )
    gj = scnt.join(ta, "src").join(tb, "dst").select(
        "n_pairs",
        (jaccard_hashed(F.col("toks_a"), F.col("toks_b")) >= 0.8).alias("is_dup"),
    )
    scored = gj.unionByName(
        sampled.filter(F.col("known_dup")).select(
            F.lit(1).cast("long").alias("n_pairs"), F.lit(True).alias("is_dup")
        )
    )
    tot = tot_cross.crossJoin(tot_within).select(
        (F.col("nc_cross") + F.col("nc_within")).alias("n_candidates")
    )
    s = scored.agg(
        F.coalesce(F.sum("n_pairs"), F.lit(0)).cast("long").alias("n_sampled"),
        F.coalesce(
            F.sum(F.when(F.col("is_dup"), F.col("n_pairs")).otherwise(0))
        , F.lit(0))
        .cast("long")
        .alias("n_dups_sampled"),
    )
    return tot.crossJoin(s).select(
        "n_candidates",
        "n_sampled",
        "n_dups_sampled",
        F.when(F.col("n_sampled") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.floor(
                (F.col("n_dups_sampled").cast("double") / F.col("n_sampled")) * 1000000
                + F.lit(0.5)
            ).cast("long")
        )
        .alias("est_dup_ppm"),
    )


PREFIX_DEDUP_ORACLE = """
WITH fp AS (
  SELECT doc_id,
         MD5(array_to_string(regexp_split_to_array(trim(text), '\\s+')[1 : 64], ' '))
           AS pfp,
         MD5(text) AS ffp
  FROM documents
),
grp AS (
  SELECT pfp,
         CAST(MIN(doc_id) AS BIGINT) AS group_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT ffp) AS BIGINT) AS n_variants
  FROM fp
  GROUP BY pfp
  HAVING COUNT(*) >= 2
)
SELECT group_id, n_docs, n_variants,
       n_variants > 1 AS is_truncation_family
FROM grp
ORDER BY group_id
"""


@query("dedup_exact_prefix", oracle=PREFIX_DEDUP_ORACLE)
def dedup_exact_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-fingerprint dedup: group documents by the md5 of their
    FIRST 64 tokens — the cheap pass that catches truncation
    duplicates (same page scraped to different depths, same article
    with/without a footer) that whole-text fingerprints treat as
    distinct. Groups whose members differ in FULL text
    (n_variants > 1) are exactly those truncation families; groups
    with one variant are ordinary exact duplicates the prefix also
    sees.

    Scale: one md5-fingerprint shuffle, identical cost profile to
    dedup_exact; the 64-token prefix bounds hashing work per row no
    matter how long documents get.

    Determinism: md5 + exact counts only.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    fp = docs.select(
        "doc_id",
        F.md5(F.array_join(F.slice(tokens("text"), 1, 64), " ")).alias("pfp"),
        F.md5("text").alias("ffp"),
    )
    return (
        fp.groupBy("pfp")
        .agg(
            F.min("doc_id").alias("group_id"),
            F.count("*").alias("n_docs"),
            F.countDistinct("ffp").alias("n_variants"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            "group_id",
            "n_docs",
            "n_variants",
            (F.col("n_variants") > 1).alias("is_truncation_family"),
        )
        .orderBy("group_id")
    )


NEAR_DUP_PURGE_ORACLE = """
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
sig AS (
  SELECT doc_id, s.seed, MIN(MD5(CAST(s.seed AS VARCHAR) || '|' || tok)) AS mh
  FROM tok
  CROSS JOIN (SELECT unnest(range(8)) AS seed) s
  GROUP BY doc_id, s.seed
),
bands AS (
  SELECT doc_id, seed // 2 AS band, STRING_AGG(mh, '|' ORDER BY seed) AS band_sig
  FROM sig
  GROUP BY doc_id, seed // 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
tsets AS (
  SELECT doc_id, list_sort(list_distinct(list_transform(list_distinct(regexp_split_to_array(trim(text), '\\s+')), t -> ('0x' || SUBSTR(MD5(t), 1, 15))::BIGINT))) AS toks
  FROM documents
),
verified AS MATERIALIZED (
  SELECT doc_a, doc_b,
         CAST(LEN(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
           / (LEN(ta.toks) + LEN(tb.toks) - LEN(list_intersect(ta.toks, tb.toks))) AS j
  FROM cand
  JOIN tsets ta ON ta.doc_id = doc_a
  JOIN tsets tb ON tb.doc_id = doc_b
),
dropped AS (SELECT DISTINCT doc_b AS doc_id FROM verified WHERE j >= 0.9)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST(FLOOR((CAST(SUM(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*)) * 1000000 + 0.5) AS BIGINT) AS drop_ppm
FROM documents d LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
GROUP BY d.source
ORDER BY d.source
"""


@query("pipeline_near_dup_purge", oracle=NEAR_DUP_PURGE_ORACLE)
def pipeline_near_dup_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the near-dup verdicts as a purge: keep-first over
    verified pairs (any document with a Jaccard >= 0.9 duplicate of
    SMALLER doc_id is dropped), reported as per-source kept/dropped
    counts — the actual corpus-reduction step a training pipeline
    runs after dedup_lsh_verified_pairs diagnoses, wired end to end
    in one plan.

    Scale: the verified group graph comes from the condensed prelude
    (_verified_scores — Jaccard once per distinct-content group
    pair); the drop set fans out as pure scalars, stays doc-linear,
    and applies as one broadcast-able anti-join against the corpus.

    Determinism: exact counts and one ppm fold; the keep-first rule
    needs no tie-breaking randomness (doc_id is the canonical order).
    """
    docs = parallelize_cpu(load_tables(spark, sf_dir, ("documents",))["documents"])
    prelude = _condensed_prelude(docs)
    gedges = _verified_scores(prelude, 0.9).filter(F.col("j") >= 0.9).select("src", "dst")
    dropped = (
        _fan_out_doc_pairs(prelude[0], gedges.withColumn("j", F.lit(1.0)))
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    flagged = docs.select("source", "doc_id").join(
        dropped.withColumn("is_dropped", F.lit(1)), "doc_id", "left"
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce(F.col("is_dropped"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
        .select(
            "source",
            "n_docs",
            "n_dropped",
            F.floor(
                (F.col("n_dropped").cast("double") / F.col("n_docs")) * 1000000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("drop_ppm"),
        )
        .orderBy("source")
    )


BAND_TUNING_ORACLE = """
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
sig AS (
  SELECT doc_id, s.seed, MIN(MD5(CAST(s.seed AS VARCHAR) || '|' || tok)) AS mh
  FROM tok
  CROSS JOIN (SELECT unnest(range(8)) AS seed) s
  GROUP BY doc_id, s.seed
),
bands AS (
  SELECT doc_id, seed // 2 AS band, STRING_AGG(mh, '|' ORDER BY seed) AS band_sig
  FROM sig
  GROUP BY doc_id, seed // 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
tsets AS (
  SELECT doc_id, list_sort(list_distinct(list_transform(list_distinct(regexp_split_to_array(trim(text), '\\s+')), t -> ('0x' || SUBSTR(MD5(t), 1, 15))::BIGINT))) AS toks
  FROM documents
),
verified AS MATERIALIZED (
  SELECT doc_a, doc_b,
         CAST(LEN(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
           / (LEN(ta.toks) + LEN(tb.toks) - LEN(list_intersect(ta.toks, tb.toks))) AS j
  FROM cand
  JOIN tsets ta ON ta.doc_id = doc_a
  JOIN tsets tb ON tb.doc_id = doc_b
),
p AS MATERIALIZED (
  -- collision probability per (bands b x rows r) config over the
  -- OBSERVED candidate Jaccard spectrum at j >= 0.5, p = 1-(1-j^r)^b
  -- written as explicit squaring chains (identical IEEE parse tree
  -- on both engines; POWER() libm implementations may differ by ulp)
  SELECT j >= 0.8 AS is_dup,
         1.0 - ((1.0-j)*(1.0-j))*((1.0-j)*(1.0-j))
             * ((1.0-j)*(1.0-j))*((1.0-j)*(1.0-j))           AS p_b8r1,
         1.0 - ((1.0-j*j)*(1.0-j*j))*((1.0-j*j)*(1.0-j*j))   AS p_b4r2,
         1.0 - (1.0-(j*j)*(j*j))*(1.0-(j*j)*(j*j))           AS p_b2r4,
         ((j*j)*(j*j))*((j*j)*(j*j))                         AS p_b1r8
  FROM verified WHERE j >= 0.5
),
q AS (
  SELECT config, is_dup, CAST(FLOOR(pc * 1000000000 + 0.5) AS BIGINT) AS qp
  FROM (
    SELECT is_dup, 'b8r1' AS config, p_b8r1 AS pc FROM p
    UNION ALL SELECT is_dup, 'b4r2', p_b4r2 FROM p
    UNION ALL SELECT is_dup, 'b2r4', p_b2r4 FROM p
    UNION ALL SELECT is_dup, 'b1r8', p_b1r8 FROM p
  )
)
SELECT config,
       CAST(COUNT(*) AS BIGINT)                       AS n_pairs,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_pairs,
       CAST(SUM(CASE WHEN is_dup THEN qp ELSE 0 END) AS BIGINT) AS exp_dup_caught_gig,
       CAST(SUM(CASE WHEN is_dup THEN 0 ELSE qp END) AS BIGINT) AS exp_fp_gig,
       CASE WHEN SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) = 0 THEN NULL
            ELSE CAST(SUM(CASE WHEN is_dup THEN qp ELSE 0 END)
                      // (SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) * 1000) AS BIGINT)
       END AS recall_ppm
FROM q
GROUP BY config
ORDER BY config
"""


@query("dedup_minhash_band_tuning", oracle=BAND_TUNING_ORACLE)
def dedup_minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-parameter selection audit: for each (bands b × rows r)
    layout of the 8-hash MinHash signature, the expected collision
    probability p = 1−(1−j^r)^b evaluated over the OBSERVED candidate
    Jaccard spectrum (j ≥ 0.5, doc-pair grain) — expected duplicates
    caught, expected false-positive verify load, and expected recall
    at the 0.8 dup threshold. This is the analysis run before
    committing a banding config at corpus scale, where r trades
    verify volume against recall.

    Scale: the signature/score stages are the family's shared
    definitions (_lsh_prelude / _verified_scores) — the only new
    work is four scalar probability columns over the verified
    pair stream and a 4-config rollup.

    Determinism: p is computed with explicit squaring chains
    (identical IEEE parse tree on both engines — POWER()'s libm may
    differ by an ulp), quantized to an integer 1e-9 grid per pair,
    then summed exactly.
    """
    prelude = _lsh_prelude(spark, sf_dir)
    gscored = _verified_scores(prelude, 0.5)
    pairs = _fan_out_doc_pairs(prelude[0], gscored.filter(F.col("j") >= 0.5)).filter(
        F.col("j") >= 0.5
    )
    j = F.col("j")
    m = F.lit(1.0) - j
    j2 = j * j
    p_b8r1 = F.lit(1.0) - ((m * m) * (m * m)) * ((m * m) * (m * m))
    mb = F.lit(1.0) - j2
    p_b4r2 = F.lit(1.0) - ((mb * mb) * (mb * mb))
    mc = F.lit(1.0) - (j2 * j2)
    p_b2r4 = F.lit(1.0) - (mc * mc)
    p_b1r8 = (j2 * j2) * (j2 * j2)
    base = pairs.select(
        (j >= 0.8).alias("is_dup"),
        p_b8r1.alias("b8r1"),
        p_b4r2.alias("b4r2"),
        p_b2r4.alias("b2r4"),
        p_b1r8.alias("b1r8"),
    )
    stacked = base.select(
        "is_dup",
        F.expr(
            "stack(4, 'b8r1', b8r1, 'b4r2', b4r2, 'b2r4', b2r4, 'b1r8', b1r8)"
        ).alias("config", "pc"),
    ).select(
        "config",
        "is_dup",
        F.floor(F.col("pc") * 1000000000 + F.lit(0.5)).cast("long").alias("qp"),
    )
    dup_qp = F.when(F.col("is_dup"), F.col("qp")).otherwise(F.lit(0))
    n_dup = F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("long")
    return (
        stacked.groupBy("config")
        .agg(
            F.count("*").alias("n_pairs"),
            n_dup.alias("n_dup_pairs"),
            F.sum(dup_qp).cast("long").alias("exp_dup_caught_gig"),
            F.sum(F.when(F.col("is_dup"), 0).otherwise(F.col("qp")))
            .cast("long")
            .alias("exp_fp_gig"),
        )
        .select(
            "config",
            "n_pairs",
            "n_dup_pairs",
            "exp_dup_caught_gig",
            "exp_fp_gig",
            F.when(
                F.col("n_dup_pairs") == 0, F.lit(None).cast("long")
            )
            .otherwise(
                F.expr("exp_dup_caught_gig div (n_dup_pairs * 1000)")
            )
            .alias("recall_ppm"),
        )
        .orderBy("config")
    )


CAP_COPIES_ORACLE = """
WITH fp AS (
  SELECT doc_id, source, md5(text) AS f,
         len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tok
  FROM documents
),
ranked AS (
  SELECT source, n_tok,
         ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) AS copy_rank
  FROM fp
)
SELECT source,
       COUNT(*)::BIGINT AS n_docs,
       SUM(CASE WHEN copy_rank <= 2 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       SUM(CASE WHEN copy_rank > 2 THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
       SUM(CASE WHEN copy_rank > 2 THEN n_tok ELSE 0 END)::BIGINT AS tokens_dropped
FROM ranked
GROUP BY source
ORDER BY source
"""


@query("dedup_cap_copies", oracle=CAP_COPIES_ORACLE)
def dedup_cap_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-capped exact dedup: keep at most K=2 copies of each exact
    duplicate group instead of collapsing to one — the data-repetition
    policy LLM corpus work actually ships (a few epochs of a duplicated
    page help; hundreds hurt), generalizing dedup_exact_keep_first from
    K=1 to K. Reports per source how many docs the cap keeps/drops and
    the token volume removed, i.e. the corpus-size delta the policy
    buys.

    The keep choice is deterministic: lowest doc_id wins (doc_id is
    unique by fixture construction, FIXTURES.md) — row_number over
    (fingerprint, doc_id) is a total order, guard-checked by
    tests/test_total_order.py.

    Scale: one shuffle at fingerprint grain (md5(text), never the text
    itself after the map stage); the window partitions by fingerprint
    so group size bounds per-task state; the report is a source-grain
    re-aggregation with map-side combine. At 100 TB this is the same
    fingerprint-partitioned pass dedup_exact runs, plus an O(1)
    per-row rank compare. Reference parity: the cap generalizes
    dup-PK handling (lib/taps/data_stream.rb verify/repair semantics)
    from keys to content.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    fp = docs.select(
        "doc_id",
        "source",
        F.md5(F.col("text")).alias("f"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
    )
    w = Window.partitionBy("f").orderBy("doc_id")
    ranked = fp.select(
        "source", "n_tok", F.row_number().over(w).alias("copy_rank")
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("copy_rank") <= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(F.col("copy_rank") > 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
            F.sum(
                F.when(F.col("copy_rank") > 2, F.col("n_tok")).otherwise(
                    F.lit(0).cast("long")
                )
            )
            .cast("long")
            .alias("tokens_dropped"),
        )
        .orderBy("source")
    )


DEDUP_IMPACT_ORACLE = """
WITH fp AS (
  SELECT doc_id,
         MD5(text) AS ffp,
         MD5(array_to_string(regexp_split_to_array(trim(text), '\\s+')[1 : 64], ' '))
           AS pfp,
         len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tok
  FROM documents
),
ranked AS (
  SELECT n_tok,
         ROW_NUMBER() OVER (PARTITION BY ffp ORDER BY doc_id) AS full_rank,
         ROW_NUMBER() OVER (PARTITION BY pfp ORDER BY doc_id) AS prefix_rank
  FROM fp
),
tot AS (SELECT COUNT(*) AS n_docs, SUM(n_tok) AS n_tokens FROM fp),
methods AS (
  SELECT 'exact_keep_first' AS method,
         SUM(CASE WHEN full_rank > 1 THEN 1 ELSE 0 END)::BIGINT AS docs_removed,
         SUM(CASE WHEN full_rank > 1 THEN n_tok ELSE 0 END)::BIGINT AS tokens_removed
  FROM ranked
  UNION ALL
  SELECT 'exact_cap_2',
         SUM(CASE WHEN full_rank > 2 THEN 1 ELSE 0 END)::BIGINT,
         SUM(CASE WHEN full_rank > 2 THEN n_tok ELSE 0 END)::BIGINT
  FROM ranked
  UNION ALL
  SELECT 'prefix_64_keep_first',
         SUM(CASE WHEN prefix_rank > 1 THEN 1 ELSE 0 END)::BIGINT,
         SUM(CASE WHEN prefix_rank > 1 THEN n_tok ELSE 0 END)::BIGINT
  FROM ranked
)
SELECT method, docs_removed, tokens_removed,
       (tokens_removed::HUGEINT * 1000000 // (SELECT n_tokens FROM tot))::BIGINT
         AS tokens_removed_ppm
FROM methods
ORDER BY method
"""


@query("pipeline_dedup_impact_report", oracle=DEDUP_IMPACT_ORACLE)
def pipeline_dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Side-by-side corpus-size impact of three dedup policies — the
    one-page answer to "what does each dedup pass actually buy us?"
    that gates a 100 TB cleaning run before it is launched: exact
    keep-first (dedup_exact_keep_first), exact capped at 2 copies
    (dedup_cap_copies), and prefix-64 keep-first (dedup_exact_prefix,
    which also collapses truncation families). Reported as docs and
    tokens removed plus tokens_removed_ppm of the whole corpus
    (integer-exact per-million via HUGEINT/DECIMAL division).

    Scale: ONE scan computes both fingerprints and the token count;
    the two rank windows shuffle at their fingerprint grains (the
    same two passes the underlying dedup queries run); the report is
    a 3-row fold. Keep choice is deterministic (lowest doc_id —
    unique, FIXTURES.md; total-order guard green).
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    fp = docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("ffp"),
        F.md5(F.array_join(F.slice(tokens("text"), 1, 64), " ")).alias("pfp"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
    )
    wf = Window.partitionBy("ffp").orderBy("doc_id")
    wp = Window.partitionBy("pfp").orderBy("doc_id")
    ranked = fp.select(
        "n_tok",
        F.row_number().over(wf).alias("full_rank"),
        F.row_number().over(wp).alias("prefix_rank"),
    )

    def _method(name: str, cond) -> DataFrame:
        return ranked.agg(
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias("docs_removed"),
            F.sum(F.when(cond, F.col("n_tok")).otherwise(F.lit(0).cast("long")))
            .cast("long")
            .alias("tokens_removed"),
        ).select(F.lit(name).alias("method"), "docs_removed", "tokens_removed")

    methods = (
        _method("exact_keep_first", F.col("full_rank") > 1)
        .unionAll(_method("exact_cap_2", F.col("full_rank") > 2))
        .unionAll(_method("prefix_64_keep_first", F.col("prefix_rank") > 1))
    )
    tot = fp.agg(F.sum("n_tok").alias("n_tokens"))
    return (
        methods.crossJoin(F.broadcast(tot))
        .select(
            "method",
            "docs_removed",
            "tokens_removed",
            F.expr(
                "CAST((CAST(tokens_removed AS DECIMAL(38,0)) * 1000000)"
                " div n_tokens AS BIGINT)"
            ).alias("tokens_removed_ppm"),
        )
        .orderBy("method")
    )
