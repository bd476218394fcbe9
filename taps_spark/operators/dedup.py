"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard.

Design for 100 TB:
- exact dedup = one hash-shuffle on the fingerprint (never on raw
  text; the md5 is 32 bytes regardless of doc size).
- MinHash/LSH = explode→min-agg per (doc, seed) then ONE shuffle on
  the band signature; candidate verification only touches bucket
  members — all-pairs never materializes.
- SimHash = bit-posexploded votes with map-side combine (63 rows per
  doc after partial agg); linear doc-side pass, candidate recall via
  16-bit band buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from taps_spark.io.tables import materialize
from taps_spark.operators.text import fingerprint, tokens


def exact_dedup_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-distinct-content stats: fingerprint, copy count, kept id
    (min id — the survivor under keep-first policy)."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_copies"), F.min(id_col).alias("keep_id"))
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Return the deduplicated rows (keep-first by id per content
    fingerprint). Implemented as min-id-per-group + semi-join back —
    unlike dropDuplicates this is deterministic about WHICH row
    survives."""
    keep = exact_dedup_stats(df, id_col, text_col).select(F.col("keep_id").alias(id_col))
    return df.join(keep, id_col, "left_semi")


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 8
) -> DataFrame:
    """MinHash signatures over whitespace-token sets.

    Hash family: h_s(tok) = md5(s || '|' || tok) compared as strings —
    the lexicographic min of a cryptographic hash is a valid MinHash
    permutation and, unlike xxhash64, is reproducible in any engine
    (the DuckDB oracle computes the identical signature).

    Output: one row per (id, seed) with the min hash.

    Scale/plan shape: one explode of distinct tokens, then ALL K mins
    as a single wide aggregation (K min columns, map-side combined,
    ONE shuffle on doc id, no seed join, no K× row blow-up), unstacked
    to (id, seed, mh) afterwards. 2-3× faster than the
    explode×seed-join formulation it replaced, with identical output.
    """
    return minhash_signatures_from_tokens(
        df.select(F.col(id_col), F.array_distinct(tokens(text_col)).alias("__toks")),
        id_col,
        "__toks",
        num_hashes=num_hashes,
    )


def minhash_signatures_from_tokens(
    df: DataFrame, id_col: str, tokens_col: str, num_hashes: int = 8
) -> DataFrame:
    """minhash_signatures over a pre-built token-ARRAY column — the
    entry point for condensed pipelines that group docs by distinct
    token set first and sign each group once (signatures depend only
    on the token set, so signing per group instead of per doc is
    exact). Same hash family, same output shape (id, seed, mh)."""
    toks = df.select(F.col(id_col), F.explode(F.array_distinct(F.col(tokens_col))).alias("tok"))
    wide = toks.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat_ws("|", F.lit(str(s)), F.col("tok")))).alias(f"mh{s}")
            for s in range(num_hashes)
        ]
    )
    stack_expr = ", ".join(f"{s}L, mh{s}" for s in range(num_hashes))
    return wide.select(
        F.col(id_col),
        F.expr(f"stack({num_hashes}, {stack_expr}) as (seed, mh)"),
    )


def band_signatures(
    signatures: DataFrame, id_col: str, rows_per_band: int = 2
) -> DataFrame:
    """Per-doc LSH band signatures: (id, band, band_sig) where band_sig
    concatenates the band's MinHash rows in seed order. Two docs agree
    on a band iff their band_sig strings are equal — the equi-join key
    every LSH consumer (clustering, pair generation, incremental probe)
    buckets on."""
    banded = signatures.withColumn("band", F.expr(f"seed div {rows_per_band}"))
    return banded.groupBy(id_col, "band").agg(
        F.concat_ws(
            "|",
            F.transform(
                F.array_sort(F.collect_list(F.struct("seed", "mh"))), lambda s: s["mh"]
            ),
        ).alias("band_sig")
    )


def band_bucket_scalars(
    bands: DataFrame, id_col: str, n_bands: int
) -> DataFrame:
    """Rewrite an LSH band table for DUPLICATE-FREE candidate
    generation: (id, band, bid, s0..s{n_bands-2}), where `bid` is an
    exact integer dictionary code for (band, band_sig) — the min id in
    the bucket, unique within a band because buckets partition ids —
    and s{i} is the id's bucket code in band i, scalarized so the
    first-collision predicate (`earlier_band_collision`) stays a pure
    boolean expression inside WholeStageCodegen.

    Why: the classic `self-join on (band, band_sig) → distinct` pays a
    full shuffle + hash-aggregate over the PRE-distinct pair stream
    (pairs colliding in k bands appear k times, and cross-band
    duplicates land in different join partitions, so map-side partial
    aggregation removes nothing — measured at sf0.1: 10.5M raw pairs,
    ~6 s just for the distinct). Emitting each pair only from the
    FIRST band the two ids share yields the identical pair SET with
    zero duplicates — no distinct, no pair shuffle at all (measured:
    candidate generation 7.5 s → 0.7 s). The string band_sigs are
    dictionary-coded to ints first so the join key compare and the
    s{i} equality checks never touch the 65-char signature strings.

    Output is materialized: it is tiny (one row per
    (id, band)) and every caller self-joins it, which would otherwise
    recompute the signature pipeline per side.
    """
    bmin = bands.groupBy("band", "band_sig").agg(F.min(id_col).alias("_bmin"))
    # Guard: an understated n_bands would silently re-emit pairs whose
    # only shared bands fall outside the scalarized prefix (the
    # earlier-collision predicate can't see them) — raise instead.
    band_ok = (
        F.when(F.col("band") < n_bands, F.col("band"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"band_bucket_scalars: band id >= n_bands={n_bands}: "),
                    F.col("band").cast("string"),
                )
            ).cast("bigint")
        )
    )
    bint = bands.join(bmin, ["band", "band_sig"]).select(
        F.col(id_col), band_ok.alias("band"), F.col("_bmin").alias("bid")
    )
    # MAX, not FIRST: each (id, band) group is a single row (one
    # bucket id per band), but first() is contractually
    # non-deterministic — max() is deterministic by construction.
    wide = bint.groupBy(id_col).pivot("band", list(range(n_bands))).agg(F.max("bid"))
    return (
        bint.join(wide, id_col)
        .select(
            F.col(id_col),
            "band",
            "bid",
            *[F.col(str(i)).alias(f"s{i}") for i in range(n_bands - 1)],
        )
        .transform(materialize)
    )


def earlier_band_collision(n_bands: int) -> Column:
    """Predicate over a `band_bucket_scalars` self-join (sides renamed
    x{i} / y{i}): true iff the two ids already collided in a band
    BEFORE the joined one. Filtering it out keeps exactly one
    occurrence of every colliding pair — the first — making the join
    output duplicate-free without a distinct. Unrolled per band (no
    array lambdas: exists/zip_with don't codegen and measured 20×
    slower than these scalar compares at sf0.1)."""
    if n_bands <= 1:
        return F.lit(False)
    pred = None
    for i in range(n_bands - 1):
        clause = (F.col("band") > i) & (F.col(f"x{i}") == F.col(f"y{i}"))
        pred = clause if pred is None else (pred | clause)
    return pred


def lsh_band_clusters(
    signatures: DataFrame, id_col: str, rows_per_band: int = 2
) -> DataFrame:
    """LSH banding over MinHash signatures → candidate clusters.

    Docs whose signatures agree on ALL rows of a band land in the same
    bucket; any bucket with >1 doc is a near-duplicate candidate set.
    Returns per-bucket stats (band, band_sig, n_docs, min/max doc id)
    rather than exploded pairs — pair output is quadratic in cluster
    size and melts at scale; cluster stats stay linear.
    """
    band_sigs = band_signatures(signatures, id_col, rows_per_band)
    return (
        band_sigs.groupBy("band", "band_sig")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("min_id"),
            F.max(id_col).alias("max_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity between two array columns (as sets).

    |A∪B| comes from |A| + |B| − |A∩B| instead of materializing the
    union array — one hash-probe pass per pair instead of two plus an
    allocation. Same integers, so the quotient is bit-identical to
    the union formulation (and to the oracle's)."""
    da, db = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(da, db))
    return inter / (F.size(da) + F.size(db) - inter)


def _hash_bit_votes(hashed: DataFrame, id_col: str, nbits: int) -> DataFrame:
    """(id, h) → per-(id, pos) SimHash majority votes (2·popcountᵦ − n)
    via an Arrow-batched NumPy kernel: unpackbits turns each batch's
    64-bit hashes into a bit matrix and a C-speed groupby sums per-id
    partials, so the JVM never materializes the nbits× (id, pos, bit)
    row explosion the previous posexplode shape pushed through a hash
    aggregate (~250M rows at sf0.1 for 63 bits; guide §4.2 — batch
    native vectorization beats row-granular JVM work for bulk bit
    math). Partial votes are exact integers (2·Σbit − n per batch
    slice, additive across batches), summed per (id, pos) JVM-side —
    bit-identical to the exploded form (equivalence checked in the
    r12 A/B and pinned by the portable-simhash DuckDB oracle).
    The little-endian uint8 view matches SQL shiftright semantics for
    bits 0..62 (two's-complement raw bits; & 1 discards sign fill)."""
    import sys

    import numpy as np
    import pandas as pd_

    # The uint8 view + bitorder='little' equivalence with SQL
    # shiftright holds only on a little-endian host; fail loudly
    # instead of corrupting fingerprints on an exotic platform
    # (r12 ADVICE).
    assert sys.byteorder == "little", (
        "_hash_bit_votes requires a little-endian host (uint8 view of "
        "int64 must yield LSB-first bytes)"
    )

    def kernel(it):
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            h = pdf["h"].to_numpy().astype(np.int64, copy=False)
            bits = np.unpackbits(
                h.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            )[:, :nbits]
            g = pd_.DataFrame(bits).groupby(ids, sort=False)
            s = g.sum()
            cnt = g.size().to_numpy()
            v = (2 * s.to_numpy() - cnt[:, None]).astype(np.int64)
            yield pd_.DataFrame(
                {
                    id_col: np.repeat(s.index.to_numpy(), nbits),
                    "pos": np.tile(np.arange(nbits, dtype=np.int32), v.shape[0]),
                    "v": v.ravel(),
                }
            )

    # Derive the id field's DDL type from the input schema so the
    # operator keeps working for non-bigint id columns (a hardcoded
    # `long` made string-keyed callers fail with an opaque Arrow cast
    # error — r12 ADVICE; both in-repo callers use bigint doc_id).
    id_ddl = hashed.schema[id_col].dataType.simpleString()
    part = hashed.mapInPandas(kernel, f"{id_col} {id_ddl}, pos int, v long")
    return part.groupBy(id_col, "pos").agg(F.sum("v").alias("vote"))


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document from xxhash64 token hashes.

    For each bit position b, sum ±1 votes across the doc's distinct
    tokens (+1 if the token hash has bit b set); the fingerprint sets
    bit b when the vote is positive. Per-bit vote partials come from
    the Arrow/NumPy kernel (_hash_bit_votes), so one (id, pos)-grain
    shuffle of 63 rows per doc is all that moves.

    Spark-only (xxhash64 is engine-specific) → rows-only correctness
    check; near-dup candidates come from matching any of the four
    16-bit sub-bands (hamming-distance recall trick).
    """
    # Shape: hash each distinct token ONCE (JVM xxhash64), count the
    # per-bit votes through the NumPy kernel (_hash_bit_votes — the
    # JVM never materializes the nbits× (id, pos, bit) explosion),
    # then reassemble the fingerprint with one shifted sum.
    # 63 bits, not 64: bit 63 of a SQL BIGINT is the sign bit and
    # shiftleft(1L, 63) overflows it; one bit costs nothing for recall.
    toks = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("tok")
    ).select(F.col(id_col), F.xxhash64("tok").alias("h"))
    votes = _hash_bit_votes(toks, id_col, 63)
    out = votes.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("vote") > 0, F.expr("shiftleft(1L, pos)")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("simhash")
    )
    return out.select(
        id_col,
        "simhash",
        *[
            F.expr(f"shiftright(simhash, {16 * i}) & 65535").cast("int").alias(f"band{i}")
            for i in range(4)
        ],
    )


def simhash_candidates(sim: DataFrame, id_col: str) -> DataFrame:
    """Candidate near-dup clusters: docs sharing any 16-bit SimHash
    band. Returns per-(band index, band value) cluster stats."""
    stacked = None
    for i in range(4):
        part = sim.select(
            F.col(id_col), F.lit(i).alias("band_idx"), F.col(f"band{i}").alias("band_val")
        )
        stacked = part if stacked is None else stacked.unionByName(part)
    return (
        stacked.groupBy("band_idx", "band_val")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("min_id"))
        .filter(F.col("n_docs") > 1)
    )


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iters: int = 20
) -> DataFrame:
    """Connected components by iterative min-label propagation: every
    node starts as its own component; each round, a node adopts the
    smallest label among itself and its neighbors; converged when no
    label changes. Returns DataFrame[node, component] with component =
    the smallest node id in the component.

    This is the cluster step that turns near-dup candidate PAIRS into
    dedup GROUPS (keep min-id per component, drop the rest).

    Scale: each round is one self-join-shaped aggregation (edges ⋈
    labels → min per node) — O(diameter) rounds, and dedup-cluster
    graphs have tiny diameters (near-cliques from LSH buckets), so
    2-4 rounds in practice. materialize() truncates the lineage
    each round or the plan doubles per iteration. For web-scale graphs
    switch to the large-star/small-star variant; the driver loop is
    identical.
    """
    # Materialize the edge list ONCE. `edges` is usually the tail of
    # an expensive pipeline (LSH candidate generation + exact verify);
    # without this checkpoint every propagation round — and every
    # convergence check — re-executes that whole pipeline (measured:
    # 1529 s for the sf0.1 near-dup graph vs ~176 s for one pass).
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .transform(materialize)
    )
    nodes = sym.select(F.col("a").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("component"))
    for _ in range(max_iters):
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("component").alias("nbr_min"))
        )
        # Convergence detection rides the checkpoint job as an
        # `observe` metric (the new label sits next to the old one in
        # this very plan, so "did anything change" is a flag column) —
        # one job per round instead of checkpoint + a separate
        # join-and-count comparison pass.
        obs = Observation()
        new_labels = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["a"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("new_component"),
                (
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("nbr_min"), F.col("component")),
                    )
                    != F.col("component")
                ).alias("_chg"),
            )
            .observe(
                obs,
                F.coalesce(F.sum(F.col("_chg").cast("long")), F.lit(0)).alias(
                    "changed"
                ),
            )
            .select("node", F.col("new_component").alias("component"))
            .transform(materialize, eager=True)  # truncate lineage; plan doubles otherwise
        )
        labels = new_labels
        if obs.get["changed"] == 0:
            break
    else:
        # Loop exhausted max_iters with labels still moving: the
        # result is NOT a fixed point, so returning it silently would
        # hand back wrong component ids.
        raise RuntimeError(
            f"connected_components: not converged after {max_iters} iterations "
            "(labels still changing) — raise max_iters or use large-star/small-star"
        )
    return labels


def connected_components_star(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iters: int = 30
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", 2014) — the web-scale alternative to min-label
    propagation. Returns DataFrame[node, component], component = the
    smallest node id, identical semantics to `connected_components`.

    large-star: every node points its LARGER neighbors at the minimum
    of its closed neighborhood; small-star: every node folds its
    smaller neighbors (and itself) onto their minimum. The edge set
    contracts to per-component stars in O(log² n) rounds REGARDLESS
    of graph diameter — min-label propagation needs O(diameter)
    rounds, which melts on chain-shaped duplicate graphs (doc A ~ B ~
    C ~ ... chains from sliding near-dup windows).

    Scale: each half-round is one groupBy-min plus a join back on the
    SAME key (co-partitioned, single exchange feeds both), and edges
    only ever shrink. Convergence is an exact set comparison via
    count + order-independent hash-sum aggregate (one tiny job per
    round). materialize() truncates lineage per round.
    """
    def _sig_metrics():
        # Order-independent exact edge-set signature (count + xor +
        # decimal sum of row hashes), expressed as `observe` metrics so
        # it rides the round's checkpoint job — no separate aggregation
        # pass per round.
        return (
            F.coalesce(F.count(F.lit(1)), F.lit(0)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("x"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("s"),
        )

    # Materialize the caller's edge pipeline BEFORE the distinct:
    # `edges` is usually the tail of the LSH candidate+verify chain,
    # and running that chain THROUGH a distinct's partial aggregate
    # measured 2.7× slower than running it bare (sf0.1: 18.9 s vs
    # 7.0 s for the identical verify work — the aggregate boundary
    # defeats the single codegen'd join stage). Checkpointing the
    # narrow (u, v) stream first costs one trivial job, then the
    # distinct runs on materialized rows. No-op-cheap when the caller
    # already passes materialized edges.
    raw = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .transform(materialize)
    )
    obs0 = Observation()
    e = raw.distinct().observe(obs0, *_sig_metrics()).transform(materialize, eager=True)

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        return (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        return (
            oriented.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    m = obs0.get
    sig = (m["n"], m["x"], m["s"])
    for _ in range(max_iters):
        obs = Observation()
        e = (
            _small_star(_large_star(e))
            .observe(obs, *_sig_metrics())
            .transform(materialize, eager=True)
        )
        m = obs.get
        new_sig = (m["n"], m["x"], m["s"])
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components_star: not converged after {max_iters} rounds "
            "(edge set still changing)"
        )
    # Converged edge set is a forest of stars: v is always the
    # component root (minimum id); roots label themselves.
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .unionByName(e.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .distinct()
    )


def simhash_portable(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash from an md5-derived token hash family — same
    vote/assemble pipeline as simhash64 but ENGINE-PORTABLE (md5 of
    the token, first 15 hex chars → 60-bit int), so a SQL oracle can
    reproduce the fingerprints bit-for-bit. Production keeps
    simhash64 (xxhash64 is ~5× cheaper than md5); this variant exists
    to correctness-gate the SimHash math itself.

    Same scale shape: distinct tokens hashed once, per-bit votes via
    the shared Arrow/NumPy kernel (_hash_bit_votes), one shifted sum —
    and the DuckDB oracle reproducing every fingerprint bit-for-bit is
    what pins the kernel's exactness for the fast variant too.
    """
    toks = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("tok")
    ).select(
        F.col(id_col),
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long").alias("h"),
    )
    votes = _hash_bit_votes(toks, id_col, 60)
    out = votes.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("vote") > 0, F.expr("shiftleft(1L, pos)")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("simhash")
    )
    return out.select(
        id_col,
        "simhash",
        *[
            F.expr(f"shiftright(simhash, {15 * i}) & 32767").cast("int").alias(f"band{i}")
            for i in range(4)
        ],
    )


# --------------------------------------------------------------- embeddings


def embedding_nn_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection, exact baseline:
    for every vector, its nearest neighbor by cosine plus a `dropped`
    flag — dropped iff some SMALLER-id vector is within `threshold`
    (the keep-min rule, applied per vector so output stays linear in
    corpus size even when a near-dup cluster is large).

    Scale: this is the verification kernel; it scores all pairs, so
    run it only behind a blocking stage — embedding_lsh_band_stats
    holds the banded-LSH blocking that bounds candidates at 100 TB.
    The per-query reduction rides WindowGroupLimit(Partial) exactly
    like similarity.topk_bruteforce.
    """
    from pyspark.sql import types as T

    from taps_spark.operators.similarity import as_double, dot

    id_type = emb.schema[id_col].dataType
    if not isinstance(id_type, T.NumericType):
        # The one-pass argmax below breaks ties via max(struct(c,
        # -id_b)); negating a string id silently casts to NULL and
        # corrupts the tiebreak, so refuse loudly instead.
        raise ValueError(
            f"embedding_nn_dedup: id column {id_col!r} has type "
            f"{id_type.simpleString()}; the (cos DESC, id ASC) tiebreak "
            "requires a numeric id — assign a surrogate key first "
            "(operators.keys.assign_surrogate_keys)"
        )

    # Hoist each vector's self-dot out of the pair loop: dot(a,a) is
    # computed once per VECTOR instead of once per PAIR, with the
    # identical fold the oracle uses, so the cosine doubles are
    # bit-unchanged — only the work moves. (Measured 142 s → the pair
    # kernel now does one dot + one sqrt per pair, and the whole
    # all-pairs frame is scanned ONCE: nearest-neighbor and keep-min
    # both come out of a single map-side-combined max aggregation
    # rather than a window pass plus a second aggregation pass.)
    a = emb.select(
        F.col(id_col).alias("id_a"), as_double(F.col(vec_col)).alias("va")
    ).withColumn("na2", dot(F.col("va"), F.col("va")))
    b = emb.select(
        F.col(id_col).alias("id_b"), as_double(F.col(vec_col)).alias("vb")
    ).withColumn("nb2", dot(F.col("vb"), F.col("vb")))
    scored = (
        a.join(F.broadcast(b))
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (dot(F.col("va"), F.col("vb")) / F.sqrt(F.col("na2") * F.col("nb2"))).alias("c"),
        )
    )
    agg = scored.groupBy("id_a").agg(
        # max over (c, -id_b) == the (c DESC, id_b ASC) rank-1 row
        F.max(F.struct(F.col("c"), (-F.col("id_b")).alias("neg"), F.col("id_b"))).alias(
            "best"
        ),
        F.max(F.when(F.col("id_b") < F.col("id_a"), F.col("c"))).alias("maxlow"),
    )
    return agg.select(
        F.col("id_a").alias("vec_id"),
        F.col("best.id_b").alias("nn_id"),
        F.round(F.col("best.c"), 4).alias("nn_cos"),
        F.coalesce(F.col("maxlow") >= F.lit(threshold), F.lit(False)).alias("dropped"),
    ).orderBy("vec_id")


def embedding_nn_dedup_blocked(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    bands: int = 4,
    planes: int = 4,
) -> DataFrame:
    """Blocked embedding near-dup: exact cosine scored ONLY within
    banded hyperplane-LSH (band, bucket) blocks — the production
    default for the semantic-dedup pass. Same output contract as
    embedding_nn_dedup but NN/dropped are computed over LSH candidate
    pairs instead of all pairs, so a vector with no co-bucketed
    neighbor emits NULL nn_id/nn_cos and dropped=FALSE.

    Scale: candidate generation is an equi-join on (band, bucket) —
    pair cost is Σ|bucket|² per band, never n². Narrow (id_a, id_b)
    rows are distinct'd BEFORE the vectors are attached (pair dedup
    shuffles 16 bytes/row, not 2×dim doubles). Soundness vs the exact
    kernel: candidates ⊆ all pairs, so dropped=TRUE here implies
    dropped=TRUE exactly (pinned in tests); recall is what LSH trades.
    The unblocked embedding_nn_dedup stays as the test-only baseline.
    """
    from pyspark.sql import types as T

    from taps_spark.operators.similarity import as_double, dot

    id_type = emb.schema[id_col].dataType
    if not isinstance(id_type, T.NumericType):
        raise ValueError(
            f"embedding_nn_dedup_blocked: id column {id_col!r} has type "
            f"{id_type.simpleString()}; the (cos DESC, id ASC) tiebreak "
            "requires a numeric id"
        )

    buckets = portable_band_buckets(emb, id_col, vec_col, bands, planes)
    a_ids = buckets.select("band", "bucket", F.col("id").alias("id_a"))
    b_ids = buckets.select("band", "bucket", F.col("id").alias("id_b"))
    pairs = (
        a_ids.join(b_ids, ["band", "bucket"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    vecs = emb.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v")
    ).withColumn("n2", dot(F.col("v"), F.col("v")))
    scored = (
        pairs.join(
            vecs.select(
                F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n2").alias("na2")
            ),
            "id_a",
        )
        .join(
            vecs.select(
                F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n2").alias("nb2")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (dot(F.col("va"), F.col("vb")) / F.sqrt(F.col("na2") * F.col("nb2"))).alias("c"),
        )
    )
    agg = scored.groupBy("id_a").agg(
        F.max(F.struct(F.col("c"), (-F.col("id_b")).alias("neg"), F.col("id_b"))).alias(
            "best"
        ),
        F.max(F.when(F.col("id_b") < F.col("id_a"), F.col("c"))).alias("maxlow"),
    )
    every = emb.select(F.col(id_col).alias("vec_id"))
    return (
        every.join(agg.withColumnRenamed("id_a", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.col("best.id_b").alias("nn_id"),
            F.round(F.col("best.c"), 4).alias("nn_cos"),
            F.coalesce(F.col("maxlow") >= F.lit(threshold), F.lit(False)).alias("dropped"),
        )
        .orderBy("vec_id")
    )


def adaptive_planes(
    n: int, target_bucket: int = 125, lo: int = 4, hi: int = 16
) -> int:
    """Hyperplane count per LSH band sized to the CORPUS: planes =
    ⌈log₂(n / target_bucket)⌉ clamped to [lo, hi], so expected bucket
    occupancy stays ~target_bucket as n grows. A FIXED plane count is
    a measured scale-killer: with 4 planes (16 buckets/band), pair
    work Σ|bucket|² grows quadratically in corpus size — the r8
    10×-scale experiment clocked dedup_embedding_cosine at α=1.57
    (5.6 s → 207 s for 10× vectors) before this fix.

    INTEGER-EXACT cross-engine agreement (r8 ADVICE): the count is
    the smallest p in [lo, hi] with target_bucket · 2^p ≥ n —
    equivalent to max(lo, min(hi, ⌈log₂(n/target)⌉)) but computed in
    pure integer comparisons, never through libm log2 (whose rounding
    is not IEEE-specified, so a one-ulp disagreement near an integer
    boundary could flip CEIL and change every LSH bucket). The DuckDB
    oracles run the same integer scan:
    COALESCE((SELECT MIN(p) FROM range(lo, hi+1) WHERE
    target * (1 << p) >= n), hi)."""
    n = max(int(n), 1)
    p = lo
    while p < hi and target_bucket * (1 << p) < n:
        p += 1
    return p


def _portable_sign_weights(band: int, plane: int, dim: int) -> list[int]:
    """Deterministic ±1 hyperplane weights from md5 parity of
    "band_plane_pos" — reproducible in any engine with md5 (the
    portable twin of similarity.hyperplane_bucket's xxhash64 weights).

    Every input is a PLAN-TIME constant, so the parities are computed
    here in Python (bit-identical to the SQL
    `conv(substring(md5(key),1,15),16,10) % 2` the oracle runs — both
    read the parity of the 60-bit md5 prefix) and baked into the plan
    as literal weight arrays. The previous formulation evaluated md5
    per vector COMPONENT per (band, plane) at runtime —
    bands×planes×dim hashes per row dwarfing the actual projection
    math."""
    import hashlib

    out = []
    for pos in range(dim):
        h = int(hashlib.md5(f"{band}_{plane}_{pos}".encode()).hexdigest()[:15], 16)
        out.append(1 if h % 2 == 1 else -1)
    return out


def portable_band_buckets(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 4,
    planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Engine-portable banded hyperplane buckets: DataFrame[band,
    bucket, id, v]. Projections run on 1e3-quantized integer
    components with md5-parity ±1 weights (_portable_sign_weights,
    baked into the plan as literal arrays — zero runtime hashing), so
    bucket ids are exact integer math a SQL oracle reproduces
    bit-for-bit. Shared by embedding_lsh_band_stats (per-band dedup
    stats) and the similarity recall report.

    `dim` must equal the embedding width: the weight arrays are plan-
    time literals of that length, and a mismatched vector raises
    rather than silently projecting a prefix."""
    from functools import reduce

    from taps_spark.operators.similarity import as_double

    qexpr = F.expr(
        f"transform({vec_col}, x -> cast(round(cast(x as double) * 1000) as bigint))"
    )
    base = emb.select(
        F.col(id_col).alias("id"),
        as_double(F.col(vec_col)).alias("v"),
        # NULL embeddings flow through as NULL projections (dropped by
        # the downstream equi-joins, as before the dim guard existed) —
        # without this branch the otherwise() fires with size(NULL)
        # and the whole query dies on a message-less raise_error.
        F.when(F.col(vec_col).isNull(), F.lit(None).cast("array<bigint>"))
        .when(F.size(vec_col) == dim, qexpr)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"portable_band_buckets: expected dim={dim}, got "),
                    F.size(vec_col).cast("string"),
                )
            ).cast("array<bigint>")
        )
        .alias("q"),
    )

    per_band = []
    for band in range(bands):
        bucket = F.lit(0).cast("long")
        for plane in range(planes):
            w = F.array(
                *[F.lit(x) for x in _portable_sign_weights(band, plane, dim)]
            )
            proj = F.aggregate(
                F.zip_with(F.col("q"), w, lambda x, s: x * s),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            bucket = bucket + F.when(proj > 0, F.lit(1 << plane)).otherwise(F.lit(0))
        # NULL q must yield a NULL bucket — the per-plane otherwise(0)
        # would silently file NULL vectors into bucket 0 of every band
        # (phantom candidates with NULL scores); NULL buckets instead
        # drop out of every downstream equi-join.
        bucket = F.when(F.col("q").isNotNull(), bucket)
        per_band.append(base.select(F.lit(band).alias("band"), bucket.alias("bucket"), "id", "v"))
    return reduce(lambda x, y: x.unionByName(y), per_band)


def embedding_lsh_band_stats(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 4,
    planes: int = 4,
    threshold: float = 0.4,
) -> DataFrame:
    """Banded hyperplane-LSH blocking for embedding near-dup at scale,
    reported as per-band statistics: bucket counts, the largest
    bucket, candidate-pair volume, and how many candidates verify at
    cosine ≥ threshold. OR-amplification across `bands` bands of
    `planes` sign bits each is the recall dial (more bands → higher
    recall, more candidates).

    Engine-portable on purpose: projections run on 1e3-QUANTIZED
    integer components with md5-parity ±1 weights, so the bucket
    assignment is exact integer math — no float-summation-order
    divergence between engines — and a SQL oracle reproduces every
    bucket bit-for-bit. (Production would precompute the weight
    matrix and use xxhash64, as hyperplane_bucket does.)

    Scale: pair enumeration happens per (band, bucket) equi-join —
    quadratic only in bucket size, linear overall; stats aggregate
    per band, so output size is O(bands).
    """
    from taps_spark.operators.similarity import dot

    # Materialize the banded buckets once (three consumers below:
    # bucket sizes plus both sides of the verify self-join — without
    # this the projection pipeline runs three times) and hoist the
    # squared norm to a per-ROW column: the pair verify then computes
    # ONE dot per pair instead of cosine()'s three (the same hoisted
    # value, so the quotient is bit-identical).
    allb = portable_band_buckets(
        emb, id_col=id_col, vec_col=vec_col, bands=bands, planes=planes
    ).withColumn("n2", dot(F.col("v"), F.col("v"))).transform(materialize)

    sizes = allb.groupBy("band", "bucket").agg(F.count("*").alias("n"))
    stats = sizes.groupBy("band").agg(
        F.count("*").alias("n_buckets"),
        F.max("n").alias("max_bucket"),
        F.sum(F.expr("n * (n - 1) div 2")).alias("n_candidate_pairs"),
    )
    left = allb.select(
        "band", "bucket", F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("n2").alias("na2"),
    )
    right = allb.select(
        "band", "bucket", F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("n2").alias("nb2"),
    )
    verified = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            dot(F.col("va"), F.col("vb"))
            / F.sqrt(F.col("na2") * F.col("nb2"))
            >= F.lit(threshold)
        )
        .groupBy("band")
        .agg(F.count("*").alias("n_verified_pairs"))
    )
    return (
        stats.join(verified, "band", "left")
        .select(
            "band",
            "n_buckets",
            "max_bucket",
            "n_candidate_pairs",
            F.coalesce("n_verified_pairs", F.lit(0)).alias("n_verified_pairs"),
        )
        .orderBy("band")
    )


def bloom_build(
    fps: DataFrame, fp_col: str = "fp", num_bits: int = 1 << 17, num_hashes: int = 5
) -> DataFrame:
    """Distributed Bloom-filter build over a fingerprint column, pure
    column expressions (Spark's BloomFilterAggregate is not exposed to
    the public function registry, and hand-rolling it keeps the bit
    layout engine-portable anyway).

    Each fingerprint sets `num_hashes` bits (seeded xxhash64 mod
    num_bits); bits pack into 64-bit words via bit_or so the shuffle
    carries at most num_bits/64 rows regardless of input size, and the
    result is a ONE-ROW DataFrame holding map<word_idx, bits> — a few
    KB, broadcast-able next to any incoming batch.

    Scale: this is the O(1)-memory membership primitive for 100 TB
    incremental ingest — the 10-billion-row ingested-corpus key set
    reduces to num_bits/8 bytes; sizing num_bits ≈ 10× expected items
    keeps the false-positive rate ≈ 1%; false positives are corrected
    by an exact verify join that only candidates reach (bloom_probe),
    so growing FP rate degrades speed, never correctness.
    """
    positions = fps.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.lit(seed), F.col(fp_col)), F.lit(num_bits))
                    for seed in range(num_hashes)
                ]
            )
        ).alias("pos")
    )
    words = (
        positions.select(
            (F.col("pos") / 64).cast("int").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    return words.agg(
        F.map_from_entries(F.array_sort(F.collect_list(F.struct("word", "bits")))).alias(
            "bitmap"
        )
    )


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    fp_col: str = "fp",
    num_bits: int = 1 << 17,
    num_hashes: int = 5,
    out_col: str = "bloom_maybe",
) -> DataFrame:
    """Probe a bloom_build bitmap: adds `out_col` — False means the
    fingerprint is DEFINITELY absent from the built set (no false
    negatives, so 'new' verdicts need no join at all); True means
    'maybe present' and routes the row to the exact verify join.

    The one-row bitmap joins in by broadcast; the k bit tests are
    map-side integer ops inside whole-stage codegen.
    """
    tests = []
    for seed in range(num_hashes):
        pos = F.pmod(F.xxhash64(F.lit(seed), F.col(fp_col)), F.lit(num_bits))
        word = (pos / 64).cast("int")
        # Seed literal must be INT here exactly as in bloom_build
        # (F.lit(int) and a bare SQL int literal both hash as INT;
        # a BIGINT seed would change every xxhash64 value).
        mask = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(xxhash64({seed}, {fp_col}), "
            f"{num_bits}) % 64 AS INT))"
        )
        tests.append(
            F.coalesce(F.element_at(F.col("bitmap"), word), F.lit(0)).bitwiseAND(mask) != 0
        )
    maybe = tests[0]
    for t in tests[1:]:
        maybe = maybe & t
    return df.join(F.broadcast(bloom)).withColumn(out_col, maybe).drop("bitmap")


def span_hashes(
    df: DataFrame, id_col: str, text_col: str, width: int = 8
) -> DataFrame:
    """Sliding token-span hashes — the unit of substring-level dedup
    (the "duplicated 50-token span" operator from exact-substring
    training-data dedup, à la Lee et al. 2022, at token granularity).

    One row per (doc, span start): md5 of the `width` consecutive
    whitespace tokens starting there. The span enumeration is a pure
    column expression (transform over sequence + slice — no explode of
    single tokens, no window), so the only shuffle any consumer pays
    is on the 32-byte span hash itself.

    Scale: rows out = Σ(tokens_d − width + 1) ≈ token count; each row
    is (id, int, 32-byte hash) regardless of document size. Docs
    shorter than `width` contribute no spans (guarded — sequence()
    would otherwise run backwards and slice would throw).
    """
    t = tokens(text_col)
    spans = F.when(
        F.size(t) >= width,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - width),
            lambda i: F.md5(F.array_join(F.slice(t, i + F.lit(1), width), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(
        F.col(id_col), F.posexplode(spans).alias("start", "span_h")
    )


def duplicated_span_stats(
    df: DataFrame, id_col: str, text_col: str, width: int = 8
) -> DataFrame:
    """Per-document duplicated-span profile: how much of each doc is
    covered by `width`-token spans that also appear in ANOTHER doc.

    Two-shuffle plan: (1) span hashes aggregate to the set of hashes
    seen in ≥2 distinct docs (map-side partial distinct-count); (2)
    the span relation left-joins that (small — only duplicated
    hashes; AQE broadcasts it when it fits) and rolls up per doc.
    All-pairs never materializes; result size = |docs|.
    """
    spans = span_hashes(df, id_col, text_col, width)
    dup = (
        spans.groupBy("span_h")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("span_h", F.lit(True).alias("is_dup"))
    )
    return (
        spans.join(dup, "span_h", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("long").alias("dup_spans"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("dup_spans").cast("double") / F.col("n_spans").cast("double"), 6),
        )
    )


def hashed_token_set(col: Column) -> Column:
    """Distinct tokens as SORTED int64 hashes (md5-prefix, the
    engine-portable family): the pair-verification representation.

    Verifying millions of candidate pairs intersects the same per-doc
    token sets over and over; doing it on 8-byte ints instead of
    ~60-char strings cuts the per-pair hash-set probe cost several-
    fold (measured at sf0.1), and the md5-prefix hash reproduces in
    DuckDB so oracles stay exact. Hash collisions (≈2⁻⁶⁰ per token
    pair) would be IDENTICAL in both engines — determinism is
    unconditional.
    """
    return F.array_sort(
        F.array_distinct(
            F.transform(
                F.array_distinct(col),
                lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
            )
        )
    )


def jaccard_hashed(a: Column, b: Column) -> Column:
    """Jaccard over two pre-distinct hashed token-set columns — no
    per-pair re-distinct, |A∪B| from |A|+|B|−|A∩B|."""
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)
