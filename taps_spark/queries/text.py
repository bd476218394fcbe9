"""Text-analysis + multimodal query inventory (SURVEY.md §2c) over
the documents fixture."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taps_spark.io.tables import load_tables, materialize
from taps_spark.operators.multimodal import extract_features, synthesize_assets
from taps_spark.operators.text import language_id, quality_features, tokens
from taps_spark.queries import query

TOKEN_STATS_ORACLE = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(LEN(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS total_tokens,
       ROUND(AVG(LEN(regexp_split_to_array(trim(text), '\\s+'))), 4)       AS avg_tokens,
       ROUND(AVG(n_chars), 4)                                             AS avg_chars
FROM documents
GROUP BY lang
ORDER BY lang
"""


@query("text_token_stats", oracle=TOKEN_STATS_ORACLE)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus token statistics (token counting over
    whitespace tokens). Map-only tokenize + tiny grouped agg."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    from taps_spark.operators.text import token_count

    tc = token_count("text")
    return (
        docs.select("lang", tc.alias("tc"), "n_chars")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tc").cast("long").alias("total_tokens"),
            F.round(F.avg("tc"), 4).alias("avg_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("lang")
    )


QUALITY_ORACLE = """
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), '\\s+') AS toks,
         CAST(LENGTH(text) AS INT) AS char_ct,
         CAST(LEN(regexp_extract_all(text, '[.,;:!?]')) AS INT) AS punct_ct
  FROM documents
)
SELECT doc_id,
       CAST(LEN(toks) AS INT) AS token_ct,
       char_ct,
       ROUND(CAST(LEN(ARRAY_TO_STRING(toks, '')) AS DOUBLE) / GREATEST(LEN(toks), 1), 4)
         AS avg_token_len,
       ROUND(CAST(LEN(LIST_FILTER(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
             / GREATEST(LEN(toks), 1), 4) AS stopword_ratio,
       punct_ct
FROM t
ORDER BY doc_id
"""


@query("text_quality", oracle=QUALITY_ORACLE)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: token/char counts, mean token
    length, stopword ratio, punctuation count — the standard cheap
    fluency filters for pretraining corpora. Map-only, no shuffle."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return quality_features(docs, "text").select(
        "doc_id", "token_ct", "char_ct", "avg_token_len", "stopword_ratio", "punct_ct"
    ).orderBy("doc_id")


LANG_ID_ORACLE = """
WITH tok AS (
  SELECT doc_id, lang, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
lang_tok AS (SELECT lang AS m_lang, tok, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
lang_tot AS (SELECT lang AS m_lang, COUNT(*) AS tot FROM tok GROUP BY 1),
vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM tok),
scored AS (
  SELECT t.doc_id, l.m_lang,
         SUM(LN(COALESCE(
           CAST(m.cnt + 1 AS DOUBLE) / (l.tot + vocab.v),
           CAST(1.0 AS DOUBLE) / (l.tot + vocab.v)))) AS score
  FROM (SELECT doc_id, tok FROM tok) t
  CROSS JOIN lang_tot l
  CROSS JOIN vocab
  LEFT JOIN lang_tok m ON m.m_lang = l.m_lang AND m.tok = t.tok
  GROUP BY t.doc_id, l.m_lang
)
SELECT doc_id, m_lang AS predicted_lang, ROUND(score, 4) AS score
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, m_lang) AS rn
  FROM scored
)
WHERE rn = 1
ORDER BY doc_id
"""


@query("text_lang_id", oracle=LANG_ID_ORACLE)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained unigram language-ID (smoothed Naive Bayes, trained on
    the labeled corpus and applied back to it) — train + inference
    entirely as DataFrame aggregations, no MLlib, no UDFs. See
    operators/text.language_id for the 100 TB plan."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return language_id(docs).orderBy("doc_id")


FINGERPRINT_ORACLE = """
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))))) AS n_distinct
FROM documents
GROUP BY source
ORDER BY source
"""


@query("text_fingerprint_rollup", oracle=FINGERPRINT_ORACLE)
def text_fingerprint_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-content counts via document fingerprints —
    the duplication-rate dashboard query."""
    from taps_spark.operators.text import fingerprint

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return (
        docs.select("source", fingerprint("text").alias("fp"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.countDistinct("fp").alias("n_distinct"))
        .orderBy("source")
    )


MULTIMODAL_ORACLE = """
WITH a AS (
  SELECT doc_id AS asset_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS modality,
         OCTET_LENGTH(ENCODE(text)) AS n_bytes,
         MD5(text) AS checksum
  FROM documents
)
SELECT asset_id, modality, n_bytes, checksum,
       CASE WHEN modality = 'image' THEN CAST(64 + n_bytes % 512 AS INT)
            WHEN modality = 'video' THEN 320 END                          AS width,
       CASE WHEN modality = 'image' THEN CAST(64 + (n_bytes * 7) % 512 AS INT)
            WHEN modality = 'video' THEN 240 END                          AS height,
       CASE WHEN modality = 'audio' THEN 1000 + (n_bytes * 13) % 60000
            WHEN modality = 'video' THEN 1000 + (n_bytes * 17) % 600000 END AS duration_ms
FROM a
ORDER BY asset_id
"""


@query("multimodal_features", oracle=MULTIMODAL_ORACLE)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal asset pipeline: binary payload column + typed
    metadata → Arrow-batched mapInPandas feature extraction (decode
    kernels stubbed — operators/multimodal.py; the Spark plumbing is
    real and the stub math is mirrored in the oracle, so the
    mapInPandas path itself is correctness-gated)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    assets = synthesize_assets(docs)
    return extract_features(assets).orderBy("asset_id")


FRAMES_ORACLE = """
WITH v AS (
  SELECT doc_id AS asset_id,
         OCTET_LENGTH(ENCODE(text)) AS n,
         MD5(text) AS base
  FROM documents WHERE doc_id % 3 = 2
),
d AS (SELECT asset_id, base, 1000 + (n * 17) % 600000 AS dur FROM v),
f AS (
  SELECT asset_id, base,
         unnest(range(LEAST(5, GREATEST(1, dur // 2000)))) AS frame_idx
  FROM d
)
SELECT asset_id,
       CAST(frame_idx AS INT) AS frame_idx,
       CAST(frame_idx * 2000 AS BIGINT) AS ts_ms,
       MD5(base || '-' || CAST(frame_idx AS VARCHAR)) AS frame_checksum
FROM f
ORDER BY asset_id, frame_idx
"""


@query("multimodal_frame_sample", oracle=FRAMES_ORACLE)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling through mapInPandas (1 asset row → N frame
    rows): every 2 s up to 5 frames, deterministic stubbed decode so
    the oracle reproduces frame count, timestamps, and chained
    checksums exactly. See operators/multimodal.sample_frames."""
    from taps_spark.operators.multimodal import sample_frames

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    assets = synthesize_assets(docs).filter(F.col("modality") == "video")
    return sample_frames(assets, every_ms=2000, max_frames=5).orderBy(
        "asset_id", "frame_idx"
    )


AUDIO_WINDOWS_ORACLE = """
WITH a AS (
  SELECT doc_id AS asset_id,
         OCTET_LENGTH(ENCODE(text)) AS n,
         MD5(text) AS base
  FROM documents WHERE doc_id % 3 = 1
),
d AS (SELECT asset_id, base, 1000 + (n * 13) % 60000 AS dur FROM a),
w AS (
  SELECT asset_id, base,
         unnest(range(LEAST(8, GREATEST(1, dur // 1000)))) AS window_idx
  FROM d
)
SELECT asset_id,
       CAST(window_idx AS INT) AS window_idx,
       CAST(window_idx * 1000 AS BIGINT) AS start_ms,
       CAST(('0x' || SUBSTR(MD5(base || '-w' || CAST(window_idx AS VARCHAR)), 1, 8))
            AS BIGINT) % 10000 / 10000.0 AS rms
FROM w
ORDER BY asset_id, window_idx
"""


@query("multimodal_audio_windows", oracle=AUDIO_WINDOWS_ORACLE)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio windowing through mapInPandas (1 asset row → N window
    rows): 1 s windows up to 8 per asset, each with a deterministic
    stubbed per-window energy, so the oracle reproduces window count,
    offsets, and values exactly. See operators/multimodal.sample_audio_windows."""
    from taps_spark.operators.multimodal import sample_audio_windows

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # Pre-filter to the audio third so only audio payloads cross the
    # Arrow boundary (the stub kernel is cheap — a repartition here
    # measurably LOSES at local scale; real decoders would want
    # io/tables.parallelize_cpu).
    assets = synthesize_assets(docs).filter(F.col("modality") == "audio")
    return sample_audio_windows(assets, window_ms=1000, max_windows=8).orderBy(
        "asset_id", "window_idx"
    )


RESIZE_ORACLE = """
WITH a AS (
  SELECT doc_id AS asset_id,
         OCTET_LENGTH(ENCODE(text)) AS n,
         MD5(text) AS checksum
  FROM documents WHERE doc_id % 3 = 0
),
d AS (
  SELECT asset_id, checksum,
         CAST(64 + n % 512 AS INT) AS width,
         CAST(64 + (n * 7) % 512 AS INT) AS height
  FROM a
),
r AS (
  SELECT asset_id, checksum, width, height,
         CAST(CASE WHEN width >= height THEN 224
                   ELSE (width * 224) // height END AS INT) AS new_width,
         CAST(CASE WHEN width >= height THEN (height * 224) // width
                   ELSE 224 END AS INT) AS new_height
  FROM d
)
SELECT asset_id, width, height, new_width, new_height,
       MD5(checksum || '-' || CAST(new_width AS VARCHAR) || 'x'
           || CAST(new_height AS VARCHAR)) AS resized_checksum
FROM r
ORDER BY asset_id
"""


@query("multimodal_image_resize", oracle=RESIZE_ORACLE)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving image resize plumbing (long side → 224 px,
    exact integer math; pixel resample stubbed deterministically so
    dimension math + checksum chain are oracle-gated). See
    operators/multimodal.resize_images."""
    from taps_spark.operators.multimodal import resize_images

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    assets = synthesize_assets(docs).filter(F.col("modality") == "image")
    return resize_images(assets, target=224).orderBy("asset_id")


NGRAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
),
bi AS (
  SELECT lang, t[i] || ' ' || t[i+1] AS bigram
  FROM toks, UNNEST(range(1, LEN(t))) AS u(i)
)
SELECT lang, bigram, COUNT(*) AS n
FROM bi
GROUP BY lang, bigram
QUALIFY ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, bigram) <= 10
ORDER BY lang, n DESC, bigram
"""


@query("text_ngram_top", oracle=NGRAM_ORACLE)
def text_ngram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 bigrams per language: sliding n-gram generation as a
    pure column expression (transform over index sequence — no UDF,
    no ml.feature.NGram needed), grouped counts, windowed top-k with
    deterministic tiebreak.

    Scale: bigram explode ≈ token count × 1; the (lang, bigram)
    partial agg combines map-side so the shuffle carries distinct
    bigrams only."""
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # The token array MUST cross a projection boundary before the
    # transform lambda: an inlined split expression captured in the
    # lambda re-runs the regex per ELEMENT access (A/B-measured at
    # sf0.1: 5.3 s inlined vs 0.5 s hoisted — 10×).
    toks = docs.select(
        "lang", F.split(F.trim(F.col("text")), r"\s+").alias("tk")
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("tk") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("tk"), i), F.element_at(F.col("tk"), i + 1)
        ),
    )
    counts = (
        toks.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "bigram")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .drop("rn")
        .orderBy("lang", F.desc("n"), "bigram")
    )


TFIDF_ORACLE = """
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
df AS (SELECT tok, COUNT(*) AS doc_freq FROM toks GROUP BY tok),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS term_freq
  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents)
  GROUP BY doc_id, tok
),
scored AS (
  SELECT tf.doc_id, tf.tok,
         ROUND(tf.term_freq * LN((n.n_docs + 1.0) / (df.doc_freq + 1.0)), 4) AS tfidf
  FROM tf JOIN df USING (tok) CROSS JOIN n
)
SELECT doc_id, tok, tfidf
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rn
  FROM scored
)
WHERE rn <= 3 AND doc_id < 50
ORDER BY doc_id, tfidf DESC, tok
"""


@query("text_tfidf_top_terms", oracle=TFIDF_ORACLE)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf =
    ln((N+1)/(df+1))), built from two aggregations + a broadcast join
    — no MLlib, so the scoring is oracle-reproducible.

    Scale: the doc-frequency table is vocabulary-sized (broadcast);
    term frequencies shuffle once on (doc, token); per-doc top-k cuts
    in the window. ln() on identical doubles agrees across engines
    (pinned by this oracle, as with text_lang_id)."""
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    # r13: one tokenize pass — tf is (doc, token)-distinct by
    # construction, so doc_freq is a plain count over it; deriving
    # df from `toks` re-ran the whole explode + a distinct shuffle
    # (two exploded-token exchanges in the r12 plan). The checkpoint
    # stops the scored/df branches from replaying the tf aggregation
    # (§1.2; r12 VERDICT task #3).
    tf = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count("*").alias("term_freq"))
        .transform(materialize)
    )
    df_tbl = tf.groupBy("tok").agg(F.count("*").alias("doc_freq"))
    n_docs = docs.select(F.count_distinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_tbl), "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("term_freq") * F.log((F.col("n_docs") + 1.0) / (F.col("doc_freq") + 1.0)),
                4,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "tok")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") <= 3) & (F.col("doc_id") < 50))
        .drop("rn")
        .orderBy("doc_id", F.desc("tfidf"), "tok")
    )


REPETITION_ORACLE = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(LEN(toks) AS INT) AS token_ct,
       ROUND(CAST(LEN(list_distinct(toks)) AS DOUBLE) / GREATEST(LEN(toks), 1), 4)
         AS distinct_ratio,
       ROUND(CAST(LIST_MAX(LIST_TRANSFORM(LIST_DISTINCT(toks),
                                          s -> LEN(LIST_FILTER(toks, x -> x = s)))) AS DOUBLE)
             / GREATEST(LEN(toks), 1), 4) AS top_token_ratio
FROM t
ORDER BY doc_id
"""


@query("text_repetition", oracle=REPETITION_ORACLE)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition scoring — type-token ratio and
    top-token (mode) ratio, the standard cheap filters for boilerplate
    and degenerate generated text. Pure array expressions: map-only,
    zero shuffle, so the filter runs at scan speed on any corpus SF."""
    from taps_spark.operators.text import repetition_features

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return repetition_features(docs, "text").select(
        "doc_id", "token_ct", "distinct_ratio", "top_token_ratio"
    ).orderBy("doc_id")


CONTAMINATION_ORACLE = """
WITH t AS (
  SELECT doc_id,
         ('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100 AS bucket,
         regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
g AS (
  SELECT doc_id, bucket, array_to_string(toks[i:i+4], ' ') AS gram
  FROM t, UNNEST(generate_series(1, GREATEST(LEN(toks) - 4, 0))) AS u(i)
),
dg AS (SELECT DISTINCT doc_id, bucket, gram FROM g),
eval_grams AS (SELECT DISTINCT gram FROM dg WHERE bucket < 2),
scored AS (
  SELECT dg.doc_id,
         COUNT(*) AS n_grams,
         CAST(SUM(CASE WHEN eg.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
  FROM dg LEFT JOIN eval_grams eg USING (gram)
  WHERE dg.bucket >= 2
  GROUP BY dg.doc_id
)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, n_hit,
       ROUND(CAST(n_hit AS DOUBLE) / n_grams, 4) AS hit_ratio
FROM scored
WHERE n_hit > 0
ORDER BY doc_id
"""


@query("text_contamination", oracle=CONTAMINATION_ORACLE)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination scan: flags training documents sharing
    any distinct word 5-gram with a held-out eval split (the same
    deterministic md5 bucket used by `sample_hash_10pct`, rate 2%).

    Scale: per-doc distinct grams are built map-side (array_distinct
    before explode — no token-level shuffle for the dedup), and the
    eval gram set — small by construction, eval suites don't grow with
    the corpus — is BROADCAST, so the 100 TB train side never
    shuffles: scan → explode → broadcast-probe → one doc-level agg."""
    from taps_spark.operators.text import with_word_ngrams

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10).cast(
        "long"
    ) % 100
    dg = with_word_ngrams(docs, "text", 5).select(
        "doc_id",
        bucket.alias("bucket"),
        F.explode(F.array_distinct("grams")).alias("gram"),
    )
    eval_grams = dg.filter(F.col("bucket") < 2).select("gram").distinct()
    hits = (
        dg.filter(F.col("bucket") >= 2)
        .join(F.broadcast(eval_grams.withColumn("hit", F.lit(1))), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0)).cast("long").alias("n_hit"),
        )
    )
    return (
        hits.filter(F.col("n_hit") > 0)
        .select(
            "doc_id",
            "n_grams",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_grams"), 4).alias("hit_ratio"),
        )
        .orderBy("doc_id")
    )


QUALITY_GATE_ORACLE = """
WITH t AS (
  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
q AS (
  SELECT doc_id, lang, LEN(toks) AS token_ct,
         CAST(LEN(LIST_FILTER(toks, s -> s IN ('the','a','of','and','to','in','is')))
              AS DOUBLE) / GREATEST(LEN(toks), 1) AS stop_ratio
  FROM t
)
SELECT CASE WHEN token_ct < 40 THEN 'too_short'
            WHEN stop_ratio < 0.08 THEN 'low_fluency'
            ELSE 'keep' END AS verdict,
       COUNT(*) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
FROM q
GROUP BY verdict
ORDER BY verdict
"""


@query("text_quality_gate", oracle=QUALITY_GATE_ORACLE)
def text_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composable corpus quality gate: every document routed to a
    keep/drop verdict (first failing rule wins — too_short, then
    low_fluency) with per-verdict audit counts. The filter itself is
    map-only expression logic at scan speed; only the 3-row audit
    aggregate shuffles. In a real pipeline the same CASE column
    drives a partitioned write (keep/quarantine) with zero extra
    passes."""
    from taps_spark.operators.text import stopword_count, token_count

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tc = token_count("text")
    sr = stopword_count("text") / F.greatest(tc, F.lit(1))
    verdict = (
        F.when(tc < 40, "too_short")
        .when(sr < 0.08, "low_fluency")
        .otherwise("keep")
    )
    return (
        docs.select("doc_id", "lang", verdict.alias("verdict"))
        .groupBy("verdict")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.count_distinct("lang").alias("n_langs"),
        )
        .orderBy("verdict")
    )


MIX_PLAN_ORACLE = """
WITH s AS (
  SELECT source,
         CAST(SUM(LEN(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS toks,
         COUNT(*) AS n_docs
  FROM documents GROUP BY source
),
t AS (SELECT SUM(toks) AS total, COUNT(*) AS n_sources FROM s)
SELECT source, toks, n_docs,
       ROUND(CAST(toks AS DOUBLE) / (SELECT total FROM t), 4) AS current_share,
       ROUND(LEAST(1.0, (CAST((SELECT total FROM t) AS DOUBLE) / (SELECT n_sources FROM t))
                        / toks), 4) AS sample_rate
FROM s
ORDER BY source
"""


@query("text_mix_plan", oracle=MIX_PLAN_ORACLE)
def text_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix rebalancing planner: per-source token counts,
    current corpus share, and the downsampling rate that equalizes
    token share across sources (capped at 1.0 — undersized sources
    keep everything). Feed the rates to `stratified_hash_sample`
    (strata = source) for a deterministic, nested rebalance. One
    token-count aggregate; the totals are a broadcast 1-row reduce of
    the per-source frame — the plan never rescans documents."""
    from taps_spark.operators.text import token_count

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    s = docs.groupBy("source").agg(
        F.sum(token_count("text")).cast("long").alias("toks"),
        F.count("*").alias("n_docs"),
    )
    t = s.agg(F.sum("toks").alias("total"), F.count("*").alias("n_sources"))
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "source",
            "toks",
            "n_docs",
            F.round(F.col("toks") / F.col("total"), 4).alias("current_share"),
            F.round(
                F.least(F.lit(1.0), (F.col("total") / F.col("n_sources")) / F.col("toks")), 4
            ).alias("sample_rate"),
        )
        .orderBy("source")
    )


PACK_ORACLE = """
WITH tc AS (
  SELECT doc_id, lang,
         CAST(LEN(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok
  FROM documents
),
cum AS (
  SELECT doc_id, lang, n_tok,
         SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tok
  FROM tc
),
packed AS (
  SELECT lang, CAST((cum_tok - n_tok) // 2048 AS INT) AS pack_id, n_tok
  FROM cum
)
SELECT lang, pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS pack_tokens
FROM packed
GROUP BY lang, pack_id
ORDER BY lang, pack_id
"""


@query("text_pack_sequences", oracle=PACK_ORACLE)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: per language, documents
    (in stable doc_id order) are binned into ~2048-token packs by
    start-offset binning — pack_id = floor(tokens-before / budget) —
    the deterministic, shuffle-light cousin of greedy first-fit
    packing. Output = per-pack document and token counts.

    Scale: one window (partitioned by lang — re-key to (lang, shard)
    if a language dominates) + one tiny grouped agg; token counts
    travel, text never does."""
    from pyspark.sql import Window

    from taps_spark.operators.text import token_count

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tc = docs.select("doc_id", "lang", token_count("text").cast("long").alias("n_tok"))
    packed = (
        tc.withColumn("cum_tok", F.sum("n_tok").over(w))
        .select(
            "lang",
            F.expr("CAST((cum_tok - n_tok) DIV 2048 AS INT)").alias("pack_id"),
            "n_tok",
        )
    )
    return (
        packed.groupBy("lang", "pack_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("pack_tokens"))
        .orderBy("lang", "pack_id")
    )


CORPUS_PREP_ORACLE = """
WITH feat AS (
  SELECT doc_id, lang, text,
         CAST(LEN(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS token_ct,
         CAST(LEN(regexp_extract_all(text, '[.,;:!?]')) AS INT) AS punct_ct
  FROM documents
),
gated AS (
  SELECT doc_id, lang, text, CAST(token_ct AS BIGINT) AS n_tok
  FROM feat WHERE token_ct >= 5 AND punct_ct <= token_ct
),
keep_first AS (
  SELECT doc_id, lang, n_tok,
         ROW_NUMBER() OVER (
           PARTITION BY MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))))
           ORDER BY doc_id) AS rn
  FROM gated
),
cum AS (
  SELECT lang, doc_id, n_tok,
         SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tok
  FROM keep_first WHERE rn = 1
)
SELECT lang,
       CAST((cum_tok - n_tok) // 2048 AS INT) AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS pack_tokens
FROM cum
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("pipeline_corpus_prep", oracle=CORPUS_PREP_ORACLE)
def pipeline_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite corpus-prep pipeline as ONE DataFrame plan: integer
    quality gate (token_ct >= 5, punct <= tokens) → exact dedup
    keep-first by content fingerprint → per-language token-budget
    sequence packing. The chain Catalyst sees whole: the gate stays a
    pushable filter under both windows, text is dropped before any
    shuffle, and the only wide ops are the two windows + final agg —
    the shape a real pretraining prep job has.

    Scale: gate is map-only; the dedup window shuffles 16-byte
    fingerprints + token counts (never text); packing re-keys by lang
    (shard a dominant lang into (lang, hash-bucket) at 100 TB)."""
    from pyspark.sql import Window

    from taps_spark.operators.text import fingerprint, token_count

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tc = token_count("text")
    gated = docs.select(
        "doc_id", "lang",
        tc.cast("long").alias("n_tok"),
        fingerprint("text").alias("fp"),
        F.regexp_count("text", F.lit(r"[.,;:!?]")).alias("punct_ct"),
    ).filter((F.col("n_tok") >= 5) & (F.col("punct_ct") <= F.col("n_tok")))
    w_dedup = Window.partitionBy("fp").orderBy("doc_id")
    kept = (
        gated.withColumn("rn", F.row_number().over(w_dedup))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_tok")
    )
    w_pack = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    packed = kept.withColumn("cum_tok", F.sum("n_tok").over(w_pack)).select(
        "lang",
        F.expr("CAST((cum_tok - n_tok) DIV 2048 AS INT)").alias("pack_id"),
        "n_tok",
    )
    return (
        packed.groupBy("lang", "pack_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("pack_tokens"))
        .orderBy("lang", "pack_id")
    )


QUANTILE_GATE_ORACLE = """
WITH t AS (
  SELECT doc_id, lang,
         CAST(LEN(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS token_ct
  FROM documents
),
m AS (SELECT lang, quantile_cont(token_ct, 0.5) AS lang_median FROM t GROUP BY lang)
SELECT t.doc_id, t.lang, t.token_ct,
       ROUND(m.lang_median, 4) AS lang_median,
       CAST(CASE WHEN t.token_ct >= m.lang_median THEN 1 ELSE 0 END AS INT) AS keep
FROM t JOIN m ON t.lang = m.lang
ORDER BY t.doc_id
"""


@query("text_quality_quantile_gate", oracle=QUANTILE_GATE_ORACLE)
def text_quality_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quantile quality gate: keep documents at or above
    their language's exact median token count — the relative
    (distribution-aware) counterpart to `text_quality_gate`'s absolute
    thresholds, standard practice when per-language length profiles
    differ wildly in a pretraining mix.

    Scale: exact `percentile` aggregates per language with map-side
    partial buffers keyed by distinct token counts (bounded domain →
    tiny state), so there is no per-language global sort and no giant
    window; thresholds come back as a broadcast join (few-row dim).
    At 100 TB swap `percentile` for `percentile_approx` and the plan
    shape is unchanged.
    """
    from taps_spark.operators.text import token_count

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    scored = docs.select(
        "doc_id", "lang", token_count("text").cast("int").alias("token_ct")
    )
    med = scored.groupBy("lang").agg(
        F.expr("percentile(token_ct, 0.5D)").alias("lang_median")
    )
    return (
        scored.join(F.broadcast(med), "lang")
        .select(
            "doc_id",
            "lang",
            "token_ct",
            F.round("lang_median", 4).alias("lang_median"),
            (F.col("token_ct") >= F.col("lang_median")).cast("int").alias("keep"),
        )
        .orderBy("doc_id")
    )


CHAR_DIVERSITY_ORACLE = """
WITH chars AS (
  SELECT doc_id, unnest(string_split_regex(LOWER(text), '')) AS ch
  FROM documents
),
freq AS (
  SELECT doc_id, ch, COUNT(*) AS c
  FROM chars
  WHERE ch <> ''
  GROUP BY doc_id, ch
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_chars_counted,
       COUNT(*) AS n_distinct_chars,
       ROUND((CAST(SUM(c) AS DOUBLE) * SUM(c) - CAST(SUM(c * c) AS DOUBLE))
             / (CAST(SUM(c) AS DOUBLE) * SUM(c)), 6) AS char_gini
FROM freq
GROUP BY doc_id
ORDER BY doc_id
"""


@query("text_char_diversity", oracle=CHAR_DIVERSITY_ORACLE)
def text_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution diversity per doc: Gini/Simpson impurity
    1 − Σ(c/n)² over the character histogram — the log-free stand-in
    for character entropy (low values flag repeated-char spam and
    boilerplate; a standard corpus-quality signal next to
    text_repetition's token-level ratios).

    Log-free on purpose: entropy's Σ p·log p sums libm-dependent
    doubles, which can't be made bit-identical across engines; the
    Gini form needs only exact integer moments (Σc, Σc²) and one
    correctly-rounded division, so it hashes identically anywhere.

    Scale: one explode (chars) into a map-side-combined (doc, char)
    count, one doc-id reduce of exact int sums. Alphabet size bounds
    the combine fan-in; nothing is ever collected.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    freq = (
        docs.select("doc_id", F.explode(F.split(F.lower("text"), "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count("*").alias("c"))
    )
    n = F.sum("c").cast("double")
    return (
        freq.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_chars_counted"),
            F.count("*").alias("n_distinct_chars"),
            F.round((n * F.sum("c") - F.sum(F.col("c") * F.col("c")).cast("double")) / (n * F.sum("c")), 6).alias(
                "char_gini"
            ),
        )
        .orderBy("doc_id")
    )


CHUNK_ORACLE = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
),
s AS (
  SELECT doc_id, toks,
         CAST(unnest(generate_series(1, LEN(toks), 48)) AS INTEGER) AS start_tok
  FROM t
)
SELECT doc_id,
       CAST((start_tok - 1) // 48 AS INTEGER) AS chunk_id,
       start_tok,
       CAST(LEN(list_slice(toks, start_tok, start_tok + 63)) AS INTEGER) AS chunk_len,
       MD5(ARRAY_TO_STRING(list_slice(toks, start_tok, start_tok + 63), ' ')) AS chunk_md5
FROM s
ORDER BY doc_id, chunk_id
"""


@query("text_chunk_windows", oracle=CHUNK_ORACLE)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split every document into 64-token
    windows with stride 48 (16-token overlap) — the chunking pass that
    feeds embedding indexes and pretraining packers. Chunk identity
    is (doc_id, chunk_id) and content is pinned by md5, so the oracle
    verifies exact window boundaries AND exact chunk text.

    Scale: tokenize → sequence-of-starts → posexplode → slice, all in
    one map-only codegen stage (see operators/text.chunk_token_windows);
    ~tokens/stride rows out per doc, no shuffle anywhere."""
    from taps_spark.operators.text import chunk_token_windows

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return (
        chunk_token_windows(docs, "text", "doc_id", window=64, stride=48)
        .select("doc_id", "chunk_id", "start_tok", "chunk_len", "chunk_md5")
        .orderBy("doc_id", "chunk_id")
    )


UNIGRAM_LOGPROB_ORACLE = """
WITH tok AS (
  SELECT doc_id, lang, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
model AS (
  SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok
),
stats AS (
  SELECT CAST(SUM(c) AS DOUBLE) AS total,
         CAST(COUNT(*) AS DOUBLE) AS vocab
  FROM model
),
scored AS (
  SELECT t.doc_id, t.lang,
         CAST(FLOOR(LOG10((m.c + 1) / (s.total + s.vocab))
                    * 1000000000 + 0.5) AS DECIMAL(38,0)) AS q
  FROM tok t JOIN model m USING (tok) CROSS JOIN stats s
)
SELECT doc_id, lang,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(FLOOR((CAST(SUM(q) AS DOUBLE)
                   / (CAST(COUNT(*) AS DOUBLE) * 1000000000))
                  * 1000 + 0.5) AS BIGINT) AS avg_logprob_milli
FROM scored
GROUP BY doc_id, lang
ORDER BY doc_id
"""


@query("text_unigram_logprob", oracle=UNIGRAM_LOGPROB_ORACLE)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (the CCNet/perplexity-filter shape
    with a unigram LM): train token frequencies over the corpus, then
    score every document by its mean Laplace-smoothed token
    log10-probability — low scores flag gibberish / rare-token soup
    the ratio-based `text_quality` features can't see.

    Scale: the model is one map-side-combined token count (vocab ≪
    corpus), broadcast back against the exploded token stream — the
    same two-pass shape as `text_lang_id`, with exchange reuse across
    train and score subtrees. No Python touches the hot path.

    Determinism (r7 hardening, the DSIR lesson applied to the same
    shape): per-token log10 values are bit-identical cross-engine,
    but their UNORDERED sum inside AVG was not order-proof — each is
    now quantized to an integer 1e-9 grid, summed exactly in
    DECIMAL(38,0), and the mean emitted as integer millis folded from
    the exact sum (operators/numeric.py recipe).
    """
    from taps_spark.operators.numeric import exact_mean_scaled, quantize_nano

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tok = docs.select("doc_id", "lang", F.explode(tokens("text")).alias("tok"))
    model = tok.groupBy("tok").agg(F.count("*").alias("c"))
    stats = model.agg(
        F.sum("c").cast("double").alias("total"),
        F.count("*").cast("double").alias("vocab"),
    )
    scored = tok.join(F.broadcast(model), "tok").join(F.broadcast(stats)).select(
        "doc_id",
        "lang",
        quantize_nano(
            F.log10((F.col("c") + 1) / (F.col("total") + F.col("vocab")))
        ).alias("q"),
    )
    return (
        scored.groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_tokens"), F.sum("q").alias("sq"))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            exact_mean_scaled(F.col("sq"), F.col("n_tokens"), 1000).alias(
                "avg_logprob_milli"
            ),
        )
        .orderBy("doc_id")
    )


FUZZY_MATCH_ORACLE = """
WITH p AS (
  SELECT doc_id, lang,
         array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:5], ' ') AS prefix
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
       CAST(levenshtein(a.prefix, b.prefix) AS INT) AS edit_dist
FROM p a JOIN p b
  ON a.lang = b.lang
 AND split_part(a.prefix, ' ', 1) = split_part(b.prefix, ' ', 1)
 AND b.doc_id < a.doc_id
WHERE levenshtein(a.prefix, b.prefix) <= 3
ORDER BY doc_a, doc_b
"""


@query("text_fuzzy_match_pairs", oracle=FUZZY_MATCH_ORACLE)
def text_fuzzy_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage by edit distance: document title
    prefixes (first 5 tokens) compared by Levenshtein WITHIN
    (language, first-token) blocks only — the classic
    dedupe/entity-resolution shape for near-identical titles that
    token-set hashes (minhash/simhash) treat as distinct.

    Scale: blocking turns |corpus|² into Σ|block|² (1105 candidate
    pairs from 124,750 possible at sf0.01); Spark's bounded
    `levenshtein(l, r, threshold)` abandons each comparison as soon
    as the distance exceeds the bound, so cost per pair is
    O(threshold·len) not O(len²). One shuffle on the block key, AQE
    splits skewed blocks (stopword-led titles).
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    p = docs.select(
        "doc_id",
        "lang",
        F.array_join(F.slice(tokens("text"), 1, 5), " ").alias("prefix"),
    )
    a = p.select(
        F.col("doc_id").alias("doc_a"), "lang", F.col("prefix").alias("pa"),
        F.split("prefix", " ")[0].alias("tok1"),
    )
    b = p.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("prefix").alias("pb"),
        F.split("prefix", " ")[0].alias("tok1_b"),
    )
    bounded = F.levenshtein("pa", "pb", 3)  # -1 once the bound is exceeded
    return (
        a.join(b, (a.lang == b.lang_b) & (a.tok1 == b.tok1_b) & (b.doc_b < a.doc_a))
        .withColumn("edit_dist", bounded)
        .filter(F.col("edit_dist") >= 0)
        .select("doc_a", "doc_b", "lang", "edit_dist")
        .orderBy("doc_a", "doc_b")
    )


@query("text_contamination_bloom", oracle=CONTAMINATION_ORACLE)
def text_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contamination scan re-plumbed through the Bloom primitive —
    the 100 TB production shape: the eval set's distinct 5-grams
    compress into a broadcast bitmap (kilobytes instead of a
    broadcast hash relation over every gram string); the train side
    probes it MAP-SIDE, and only probe-hit grams reach the exact
    verify join that removes bloom false positives. Gated by the SAME
    oracle as `text_contamination` — the two plans must be
    indistinguishable in output, proving the prefilter is lossless.

    Scale: vs the broadcast-join form, the per-executor memory drops
    from O(|eval grams| × avg gram bytes) to num_bits/8, and the
    verify join's build side only sees grams that probably hit —
    for a clean corpus that's ~1% of the stream instead of 100%.
    """
    from taps_spark.operators.dedup import bloom_build, bloom_probe
    from taps_spark.operators.text import with_word_ngrams

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10).cast(
        "long"
    ) % 100
    dg = with_word_ngrams(docs, "text", 5).select(
        "doc_id",
        bucket.alias("bucket"),
        F.explode(F.array_distinct("grams")).alias("gram"),
    )
    eval_grams = dg.filter(F.col("bucket") < 2).select("gram").distinct()
    bloom = bloom_build(eval_grams, "gram")

    train = dg.filter(F.col("bucket") >= 2)
    probed = bloom_probe(train, bloom, "gram").transform(materialize)
    # Probe-miss grams are DEFINITELY clean (no false negatives);
    # probe-hit grams get the exact membership verdict.
    verified = (
        probed.filter(F.col("bloom_maybe"))
        .join(F.broadcast(eval_grams.withColumn("hit", F.lit(1))), "gram", "left")
        .select("doc_id", F.col("hit").isNotNull().alias("is_hit"))
    )
    clean = probed.filter(~F.col("bloom_maybe")).select(
        "doc_id", F.lit(False).alias("is_hit")
    )
    hits = (
        clean.unionByName(verified)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.col("is_hit").cast("int")).cast("long").alias("n_hit"),
        )
    )
    return (
        hits.filter(F.col("n_hit") > 0)
        .select(
            "doc_id",
            "n_grams",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_grams"), 4).alias("hit_ratio"),
        )
        .orderBy("doc_id")
    )


PHASH_ORACLE = """
WITH imgs AS (
  SELECT doc_id AS asset_id, text, len(text) AS n
  FROM documents WHERE doc_id % 3 = 0 AND len(text) > 0
),
chars AS (
  SELECT asset_id, i,
         ord(substring(text, CAST(i + 1 AS INT), 1)) AS code, n
  FROM imgs, UNNEST(range(len(text))) u(i)
),
assigned AS (
  SELECT asset_id,
         CASE WHEN i < (n % 64) * (n // 64 + 1)
              THEN i // (n // 64 + 1)
              ELSE (n % 64) + (i - (n % 64) * (n // 64 + 1)) // (n // 64)
         END AS chunk,
         code
  FROM chars
),
px AS (
  SELECT a.asset_id, s.chunk,
         CAST(COALESCE(SUM(g.code), 0) % 256 AS BIGINT) AS px
  FROM (SELECT DISTINCT asset_id FROM imgs) a
  CROSS JOIN (SELECT UNNEST(range(64)) AS chunk) s
  LEFT JOIN assigned g ON g.asset_id = a.asset_id AND g.chunk = s.chunk
  GROUP BY a.asset_id, s.chunk
),
bits AS (
  SELECT asset_id, chunk, px,
         CASE WHEN 64 * px > SUM(px) OVER (PARTITION BY asset_id) THEN 1 ELSE 0 END AS bit
  FROM px
),
halves AS (
  SELECT asset_id,
         CAST(SUM(CASE WHEN chunk < 32 THEN bit * (CAST(1 AS BIGINT) << CAST(31 - chunk AS INT)) ELSE 0 END) AS BIGINT) AS hi,
         CAST(SUM(CASE WHEN chunk >= 32 THEN bit * (CAST(1 AS BIGINT) << CAST(63 - chunk AS INT)) ELSE 0 END) AS BIGINT) AS lo
  FROM bits GROUP BY asset_id
),
phashes AS (
  SELECT asset_id,
         (CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END) * 4294967296 + lo AS phash
  FROM halves
)
SELECT a.asset_id AS id_a, b.asset_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
FROM phashes a JOIN phashes b ON a.asset_id < b.asset_id
WHERE bit_count(xor(a.phash, b.phash)) <= 6
ORDER BY id_a, id_b
"""


@query("multimodal_phash_dedup", oracle=PHASH_ORACLE)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup pairs: aHash every image asset
    (operators/multimodal.image_ahash — decode stubbed, hash math
    real and integer-exact), then find pairs within Hamming distance
    6 via 16-bit band blocking (phash_near_pairs) — candidates come
    from 4 equi-joins on band values, never an all-pairs scan; the
    oracle recomputes the identical hashes character-by-character in
    SQL and verifies by brute force (quadratic is fine oracle-side).
    """
    from taps_spark.operators.multimodal import image_ahash, phash_near_pairs

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    assets = synthesize_assets(docs)
    hashes = image_ahash(assets)
    return (
        phash_near_pairs(hashes, max_hamming=6)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


BM25_ORACLE = """
WITH d AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
dl AS (SELECT doc_id, LEN(toks) AS dl, toks FROM d),
stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
hits AS (
  SELECT doc_id, dl, unnest(toks) AS term FROM dl
),
tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf
  FROM hits WHERE term IN ('spark', 'window', 'merge')
  GROUP BY doc_id, dl, term
),
dft AS (SELECT term, COUNT(*) AS dft FROM tf GROUP BY term)
SELECT tf.doc_id,
       ROUND(SUM(
         LN((stats.n - dft.dft + 0.5) / (dft.dft + 0.5) + 1.0)
         * tf.tf * 2.2
         / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))
       ), 4) AS bm25
FROM tf JOIN dft USING (term) CROSS JOIN stats
GROUP BY tf.doc_id
ORDER BY bm25 DESC, doc_id
LIMIT 10
"""


@query("text_bm25_search", oracle=BM25_ORACLE)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 full-text retrieval (k1=1.2, b=0.75) for a fixed query
    ('spark window merge'), top-10 by score.

    Scale shape: tokens are FILTERED to query terms BEFORE the
    explode, so the shuffled relation is O(matching terms), not
    O(corpus tokens); per-term document frequencies and the corpus
    (N, avgdl) scalars are tiny aggregates broadcast back onto the
    per-doc term counts.  All math is Catalyst column expressions —
    no Python in the plan.  This is the retrieval half of a
    contamination / decontamination pass at 100 TB: one scan,
    one narrow shuffle keyed on (doc, term).
    """
    terms = ("spark", "window", "merge")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = docs.select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("toks"),
    ).select("doc_id", "toks", F.size("toks").alias("dl"))
    stats = toks.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    )
    term_list = ", ".join(f"'{t}'" for t in terms)
    hits = toks.select(
        "doc_id",
        "dl",
        F.explode(F.expr(f"filter(toks, t -> t IN ({term_list}))")).alias("term"),
    )
    tf = hits.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dft"))
    k1, b = 1.2, 0.75
    scored = (
        tf.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            F.log((F.col("n") - F.col("dft") + 0.5) / (F.col("dft") + 0.5) + 1.0)
            * F.col("tf")
            * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 4).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(10)
    )


CDC_CHUNKING_ORACLE = """
SELECT doc_id, n_chars,
       LEN(LIST_FILTER(LIST_TRANSFORM(range(1, GREATEST(LENGTH(text)-7,0)+1),
           i -> SUBSTRING(MD5(SUBSTRING(text, CAST(i AS INT), 8)), 1, 2)),
           h -> h = '00')) + 1 AS n_chunks,
       ROUND(n_chars * 1.0
             / (LEN(LIST_FILTER(LIST_TRANSFORM(range(1, GREATEST(LENGTH(text)-7,0)+1),
                    i -> SUBSTRING(MD5(SUBSTRING(text, CAST(i AS INT), 8)), 1, 2)),
                    h -> h = '00')) + 1), 2) AS avg_chunk_chars
FROM documents
ORDER BY doc_id
"""


@query("text_cdc_chunking", oracle=CDC_CHUNKING_ORACLE)
def text_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the FastCDC/rsync shape): a chunk
    boundary falls wherever the hash of the 8-char window at a
    position lands in a 1/256 target band, so chunk cuts move WITH
    the content — insert one word and only the surrounding chunk's
    hash changes, unlike fixed-width windows where every downstream
    chunk shifts.  The primitive under delta-sync and chunk-level
    dedup of revised documents.

    Map-only: boundaries come from array expressions over each doc
    (sequence → transform → filter), no explode, no shuffle until
    the final orderBy.  Production swaps the per-window md5 for a
    Gear/Rabin ROLLING hash in a pandas_udf (O(1) per position, not
    O(w)); the declarative form here pins the semantics the rolling
    version must reproduce.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # Docs shorter than the 8-char window have NO boundary positions:
    # Spark's sequence(1, 0) is [1, 0] (descending), which would test
    # the window twice where the oracle's empty range tests none —
    # guard to zero boundaries (single chunk) instead.
    n_boundaries = F.when(
        F.length("text") >= 8,
        F.expr(
            "size(filter(transform(sequence(1, length(text) - 7), "
            "i -> substring(md5(substring(text, i, 8)), 1, 2)), h -> h = '00'))"
        ),
    ).otherwise(F.lit(0))
    n_chunks = n_boundaries + 1
    return (
        docs.select("doc_id", "n_chars", n_chunks.alias("n_chunks"))
        .withColumn(
            "avg_chunk_chars",
            F.round(F.col("n_chars") * 1.0 / F.col("n_chunks"), 2),
        )
        .orderBy("doc_id")
    )


LANG_CONFUSION_ORACLE = """
WITH tok AS (
  SELECT doc_id, lang, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
lang_tok AS (SELECT lang AS m_lang, tok, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
lang_tot AS (SELECT lang AS m_lang, COUNT(*) AS tot FROM tok GROUP BY 1),
vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM tok),
scored AS (
  SELECT t.doc_id, l.m_lang,
         SUM(LN(COALESCE(
           CAST(m.cnt + 1 AS DOUBLE) / (l.tot + vocab.v),
           CAST(1.0 AS DOUBLE) / (l.tot + vocab.v)))) AS score
  FROM (SELECT doc_id, tok FROM tok) t
  CROSS JOIN lang_tot l
  CROSS JOIN vocab
  LEFT JOIN lang_tok m ON m.m_lang = l.m_lang AND m.tok = t.tok
  GROUP BY t.doc_id, l.m_lang
),
pred AS (
  SELECT doc_id, m_lang AS predicted_lang
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, m_lang) AS rn
        FROM scored)
  WHERE rn = 1
)
SELECT d.lang AS true_lang, p.predicted_lang, COUNT(*) AS n_docs
FROM documents d JOIN pred p ON d.doc_id = p.doc_id
GROUP BY d.lang, p.predicted_lang
ORDER BY true_lang, predicted_lang
"""


@query("text_lang_id_confusion", oracle=LANG_CONFUSION_ORACLE)
def text_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a first-class pipeline op: the
    language-ID confusion matrix (true label × predicted label ×
    count) — how a curation pipeline audits its own labeling stage
    before filtering on it.

    Reuses the trained NB scorer (operators/text.language_id); the
    label join keys on doc_id and the matrix rollup is a tiny
    grouped count, so the added cost over text_lang_id is one
    keyed join + a 25-cell aggregate.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pred = language_id(docs).select("doc_id", "predicted_lang")
    truth = docs.select("doc_id", F.col("lang").alias("true_lang"))
    return (
        truth.join(pred, "doc_id")
        .groupBy("true_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("true_lang", "predicted_lang")
    )


DATASET_CARD_ORACLE = """
WITH t AS (
  SELECT doc_id, lang, source, n_chars,
         LEN(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
         MD5(text) AS fp
  FROM documents
),
m AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         ROUND(AVG(n_tokens), 4) AS avg_tokens,
         ROUND(AVG(n_chars), 4) AS avg_chars,
         COUNT(DISTINCT lang) AS n_langs,
         COUNT(DISTINCT source) AS n_sources,
         COUNT(DISTINCT fp) AS n_unique,
         ROUND(AVG(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END), 4) AS en_share
  FROM t
)
SELECT 'avg_chars' AS metric, avg_chars AS value FROM m
UNION ALL SELECT 'avg_tokens', avg_tokens FROM m
UNION ALL SELECT 'dup_rate', ROUND(1.0 - n_unique * 1.0 / n_docs, 4) FROM m
UNION ALL SELECT 'en_share', en_share FROM m
UNION ALL SELECT 'n_docs', n_docs FROM m
UNION ALL SELECT 'n_langs', n_langs FROM m
UNION ALL SELECT 'n_sources', n_sources FROM m
UNION ALL SELECT 'total_tokens', total_tokens FROM m
ORDER BY metric
"""


@query("pipeline_dataset_card", oracle=DATASET_CARD_ORACLE)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card in one pass: the corpus summary a training-data
    release ships with (size, token budget, language/source spread,
    exact-dup rate) as a long-format metric relation.

    Every metric — including the dup rate via COUNT(DISTINCT md5) —
    rides ONE aggregation over one scan; the count-distincts expand
    but stay map-side partial.  At 100 TB swap the exact distincts
    for approx_count_distinct and the card generates in a single
    shuffle-light pass (documented trade, same output contract).
    """
    from taps_spark.operators.text import token_count

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    t = docs.select(
        "lang",
        "source",
        "n_chars",
        token_count("text").alias("n_tokens"),
        F.md5("text").alias("fp"),
    )
    m = t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("fp").alias("n_unique"),
        F.round(
            F.avg(F.when(F.col("lang") == "en", 1.0).otherwise(0.0)), 4
        ).alias("en_share"),
    )
    rows = [
        ("avg_chars", F.col("avg_chars")),
        ("avg_tokens", F.col("avg_tokens")),
        ("dup_rate", F.round(1.0 - F.col("n_unique") * 1.0 / F.col("n_docs"), 4)),
        ("en_share", F.col("en_share")),
        ("n_docs", F.col("n_docs").cast("double")),
        ("n_langs", F.col("n_langs").cast("double")),
        ("n_sources", F.col("n_sources").cast("double")),
        ("total_tokens", F.col("total_tokens").cast("double")),
    ]
    structs = [
        F.struct(F.lit(name).alias("metric"), expr.cast("double").alias("value"))
        for name, expr in rows
    ]
    return (
        m.select(F.explode(F.array(*structs)).alias("r"))
        .select("r.*")
        .orderBy("metric")
    )


NGRAM_NOVELTY_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
  FROM toks, UNNEST(range(1, GREATEST(LEN(t) - 2, 0) + 1)) AS r(i)
),
df AS (SELECT gram, COUNT(*) AS gram_df FROM grams GROUP BY gram)
SELECT g.doc_id,
       COUNT(*) AS n_grams,
       ROUND(AVG(CASE WHEN df.gram_df = 1 THEN 1.0 ELSE 0.0 END), 4) AS novelty
FROM grams g JOIN df USING (gram)
GROUP BY g.doc_id
ORDER BY doc_id
"""


@query("text_ngram_novelty", oracle=NGRAM_NOVELTY_ORACLE)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the share of a doc's distinct word
    3-grams that appear NOWHERE else in the corpus — high novelty is
    fresh signal, low novelty is near-boilerplate (the inverse of
    memorization risk).

    Shape: doc-distinct grams (one explode + distinct), corpus gram
    document-frequencies (one grouped count, map-side combined), one
    equi-join back on gram, per-doc average.  Shuffles key on the
    gram — the same fingerprint-only discipline as the dedup family:
    raw text never moves, only 3-gram strings.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # Tokenize ONCE per doc (a split inside the transform lambda would
    # re-run per gram position), and guard docs under 3 tokens:
    # sequence(1, 0) in Spark is the DESCENDING [1, 0], whose 0 start
    # makes slice() throw — short docs must yield an empty gram set,
    # exactly like the oracle's empty range.
    grams = (
        docs.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("toks") >= 3,
                    F.expr(
                        "transform(sequence(1, size(toks) - 2), "
                        "i -> concat_ws(' ', slice(toks, i, 3)))"
                    ),
                ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
            ).alias("gram"),
        )
        .distinct()
    )
    df = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("gram_df"))
    return (
        grams.join(df, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(
                F.avg(F.when(F.col("gram_df") == 1, 1.0).otherwise(0.0)), 4
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


INVERTED_INDEX_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM documents
),
postings AS (
  SELECT term, doc_id FROM toks GROUP BY term, doc_id
),
idx AS (
  SELECT term, COUNT(*) AS df,
         ARRAY_TO_STRING(LIST(doc_id ORDER BY doc_id)[1:10], ',') AS posting_head
  FROM postings GROUP BY term
)
SELECT term, df, posting_head
FROM idx
ORDER BY df DESC, term
LIMIT 20
"""


@query("text_inverted_index", oracle=INVERTED_INDEX_ORACLE)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction (the batch side of a search
    engine): term → document frequency + ordered postings, shown for
    the 20 highest-df terms with the first 10 doc ids as a portable
    string.

    One explode + distinct to (term, doc) grain, one grouped
    aggregation building sorted postings.  At 100 TB the full index
    writes out partitioned/bucketed BY TERM HASH so a query term's
    postings are one partition read — this relation IS that layout's
    content, and text_bm25_search is its query-side consumer.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    postings = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
        )
        .distinct()
    )
    idx = postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.concat_ws(
            ",", F.slice(F.sort_array(F.collect_list("doc_id")), 1, 10)
        ).alias("posting_head"),
    )
    return idx.orderBy(F.desc("df"), "term").limit(20)


GOPHER_RULES_ORACLE = """
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
st AS (
  SELECT doc_id,
         len(toks) AS n_tok,
         CAST(list_sum(list_transform(toks, t -> LEN(t))) AS BIGINT) AS sum_len,
         CAST(list_sum(list_transform(toks,
              t -> CASE WHEN regexp_matches(t, '[A-Za-z]') THEN 1 ELSE 0 END)) AS BIGINT) AS n_alpha,
         CAST(list_sum(list_transform(toks,
              t -> CASE WHEN t IN ('the','a','of','and','to','in','is') THEN 1 ELSE 0 END)) AS BIGINT) AS n_stop,
         CAST(list_sum(list_transform(toks,
              t -> CASE WHEN t LIKE '#%' OR t LIKE '%...%' THEN 1 ELSE 0 END)) AS BIGINT) AS n_sym
  FROM tok
),
flags AS (
  SELECT
    CASE WHEN n_tok >= 50 AND n_tok <= 100000 THEN 1 ELSE 0 END AS r_word_count,
    CASE WHEN sum_len >= 3 * n_tok AND sum_len <= 10 * n_tok THEN 1 ELSE 0 END AS r_mean_word_len,
    CASE WHEN 5 * n_alpha >= 4 * n_tok THEN 1 ELSE 0 END AS r_alpha_ratio,
    CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS r_stopword,
    CASE WHEN 10 * n_sym <= n_tok THEN 1 ELSE 0 END AS r_symbol_ratio
  FROM st
),
agg AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(r_word_count) AS BIGINT) AS p_word_count,
         CAST(SUM(r_mean_word_len) AS BIGINT) AS p_mean_word_len,
         CAST(SUM(r_alpha_ratio) AS BIGINT) AS p_alpha_ratio,
         CAST(SUM(r_stopword) AS BIGINT) AS p_stopword,
         CAST(SUM(r_symbol_ratio) AS BIGINT) AS p_symbol_ratio,
         CAST(SUM(r_word_count * r_mean_word_len * r_alpha_ratio
                  * r_stopword * r_symbol_ratio) AS BIGINT) AS p_all
  FROM flags
)
SELECT rule, n_pass, n_docs - n_pass AS n_fail,
       ROUND(CAST(n_docs - n_pass AS DOUBLE) / n_docs, 4) AS fail_rate
FROM (
  SELECT 'alpha_ratio' AS rule, p_alpha_ratio AS n_pass, n_docs FROM agg
  UNION ALL SELECT 'keep_all', p_all, n_docs FROM agg
  UNION ALL SELECT 'mean_word_len', p_mean_word_len, n_docs FROM agg
  UNION ALL SELECT 'stopword', p_stopword, n_docs FROM agg
  UNION ALL SELECT 'symbol_ratio', p_symbol_ratio, n_docs FROM agg
  UNION ALL SELECT 'word_count', p_word_count, n_docs FROM agg
)
ORDER BY rule
"""


@query("text_gopher_rules", oracle=GOPHER_RULES_ORACLE)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document-quality rule suite (Rae et al. 2021
    §A1.1, re-expressed): word-count bounds [50, 100k], mean word
    length in [3, 10], >=80% tokens containing an alphabetic char,
    >=2 stopword hits, <=10% symbol tokens (#-prefixed / ellipsis) —
    plus the conjunction (`keep_all`), reported as per-rule pass/fail
    counts over the corpus.

    Every threshold is evaluated as an INTEGER cross-multiplication
    (e.g. mean length >= 3  <=>  sum_len >= 3*n_tok), so the verdict
    is bit-exact cross-engine — no float ratios on the compare path.

    Scale: one narrow map over the text column (all counters are
    codegen'd array folds, no explode, no Python) into one 1-row
    partial-aggregated global agg, then a constant-width unpivot.
    Shuffle payload = one row of counters per task, at any corpus
    size. The reference has no text surface at all (its rows are
    opaque payloads — lib/taps/data_stream.rb serializes, never
    inspects); this is §2c extension territory.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_tok = F.size(toks).cast("long")
    sum_len = F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("long")
    n_stop = F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "to", "in", "is"))).cast("long")
    n_sym = F.size(
        F.filter(toks, lambda t: t.startswith("#") | t.contains("..."))
    ).cast("long")

    flags = docs.select(
        ((n_tok >= 50) & (n_tok <= 100000)).cast("long").alias("r_word_count"),
        ((sum_len >= 3 * n_tok) & (sum_len <= 10 * n_tok)).cast("long").alias("r_mean_word_len"),
        (5 * n_alpha >= 4 * n_tok).cast("long").alias("r_alpha_ratio"),
        (n_stop >= 2).cast("long").alias("r_stopword"),
        (10 * n_sym <= n_tok).cast("long").alias("r_symbol_ratio"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("r_word_count").alias("p_word_count"),
        F.sum("r_mean_word_len").alias("p_mean_word_len"),
        F.sum("r_alpha_ratio").alias("p_alpha_ratio"),
        F.sum("r_stopword").alias("p_stopword"),
        F.sum("r_symbol_ratio").alias("p_symbol_ratio"),
        F.sum(
            F.col("r_word_count") * F.col("r_mean_word_len") * F.col("r_alpha_ratio")
            * F.col("r_stopword") * F.col("r_symbol_ratio")
        ).alias("p_all"),
    )
    long = agg.selectExpr(
        "n_docs",
        """stack(6,
           'alpha_ratio',   p_alpha_ratio,
           'keep_all',      p_all,
           'mean_word_len', p_mean_word_len,
           'stopword',      p_stopword,
           'symbol_ratio',  p_symbol_ratio,
           'word_count',    p_word_count
        ) AS (rule, n_pass)""",
    )
    return long.select(
        "rule",
        "n_pass",
        (F.col("n_docs") - F.col("n_pass")).alias("n_fail"),
        F.round((F.col("n_docs") - F.col("n_pass")) / F.col("n_docs"), 4).alias("fail_rate"),
    ).orderBy("rule")


def _bpe_round_sql(r: int) -> str:
    """One unrolled BPE round: pair counts from s{r-1}, winning merge
    m{r}, and merged sequences s{r} via a per-position recursive fold
    (state = last symbol + emitted prefix) — the exact left-to-right
    greedy merge the Spark array fold performs."""
    return f"""
toks{r} AS (SELECT rowid_{r} AS rid, wc, string_split(seq, ' ') AS t
            FROM (SELECT ROW_NUMBER() OVER (ORDER BY seq) AS rowid_{r}, wc, seq
                  FROM s{r - 1})),
pc{r} AS (
  SELECT a, b, CAST(SUM(wc) AS BIGINT) AS c
  FROM (SELECT wc, t[i + 1] AS a, t[i + 2] AS b
        FROM (SELECT wc, t, unnest(range(len(t) - 1)) AS i FROM toks{r}))
  GROUP BY a, b
),
m{r} AS (SELECT a, b, c FROM pc{r} ORDER BY c DESC, a, b LIMIT 1),
f{r} AS (
  SELECT rid, wc, t, 1 AS pos, t[1] AS last, '' AS prefix FROM toks{r}
  UNION ALL
  SELECT f.rid, f.wc, f.t, f.pos + 1,
         CASE WHEN f.last = m.a AND f.t[f.pos + 1] = m.b
              THEN f.last || m.b ELSE f.t[f.pos + 1] END,
         CASE WHEN f.last = m.a AND f.t[f.pos + 1] = m.b THEN f.prefix
              ELSE f.prefix || CASE WHEN f.prefix = '' THEN '' ELSE ' ' END || f.last END
  FROM f{r} f, m{r} m WHERE f.pos < len(f.t)
),
s{r} AS (
  SELECT wc,
         CASE WHEN prefix = '' THEN last ELSE prefix || ' ' || last END AS seq
  FROM f{r} WHERE pos = len(t)
)"""


BPE_TRAIN_ORACLE = (
    """
WITH RECURSIVE w AS (
  SELECT tok, COUNT(*) AS wc
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents)
  WHERE regexp_matches(tok, '^[a-z]+$')
  GROUP BY tok
),
s0 AS (SELECT wc, array_to_string(string_split(tok, ''), ' ') AS seq FROM w),
"""
    + ",".join(_bpe_round_sql(r) for r in (1, 2, 3))
    + """
SELECT merge_rank, sym_a, sym_b, pair_count FROM (
  SELECT 1 AS merge_rank, a AS sym_a, b AS sym_b, c AS pair_count FROM m1
  UNION ALL SELECT 2, a, b, c FROM m2
  UNION ALL SELECT 3, a, b, c FROM m3
) ORDER BY merge_rank
"""
)


@query("text_bpe_train_merges", oracle=BPE_TRAIN_ORACLE)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING (the first 3 merge rounds): count
    adjacent symbol pairs over the word-frequency dictionary, adopt
    the most frequent pair (ties: lexicographic), greedily merge it
    left-to-right in every word, repeat — Sennrich et al. 2016, the
    algorithm behind every modern LLM vocabulary.

    Determinism: integer pair counts, total tie order (count desc,
    pair asc), and a left-to-right fold whose oracle twin is a
    per-position recursive CTE carrying (last symbol, emitted prefix)
    — the two engines produce identical merge tables.

    Scale: BPE training never touches the corpus after the first
    pass — it runs on the DISTINCT-WORD frequency dict (vocabulary-
    scale, millions of rows at 100 TB, not trillions). Each round is
    one pair-explode (bounded by word length) + one weighted count +
    a jobs-scale top-1 collect, and the merge itself is a map-only
    array fold. The driver loop is rounds-deep (3 here, ~50k for a
    production vocab — at which point you batch non-conflicting
    merges per round, same plan shape).
    """
    merges, _ = _bpe_train(spark, sf_dir, rounds=3)
    return spark.createDataFrame(
        merges, "merge_rank int, sym_a string, sym_b string, pair_count bigint"
    )


def _bpe_train(spark: SparkSession, sf_dir: str, rounds: int = 3):
    """Shared BPE trainer: returns ([(rank, a, b, count)], seqs) where
    seqs is the word-frequency dict with merges applied (wc, syms)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    words = (
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
        .filter(F.col("tok").rlike("^[a-z]+$"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    # Checkpoint the vocabulary-scale dict ONCE: without this, every
    # round's pair-count job AND merge fold re-tokenizes the corpus
    # (the iterate-over-a-checkpointed-input lesson, SCALE.md).
    seqs = words.select("wc", F.split("tok", "").alias("syms")).transform(materialize)
    merges = []
    for r in range(1, rounds + 1):
        pairs = seqs.select(
            "wc",
            F.explode(
                F.expr(
                    "transform(slice(syms, 1, size(syms) - 1),"
                    " (s, i) -> struct(s AS a, element_at(syms, i + 2) AS b))"
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("wc").cast("long").alias("c"))
            .orderBy(F.desc("c"), "a", "b")
            .limit(1)
            .collect()[0]
        )
        merges.append((r, top["a"], top["b"], top["c"]))
        a, b = top["a"], top["b"]
        seqs = seqs.withColumn(
            "syms",
            F.expr(
                "aggregate(slice(syms, 2, size(syms) - 1), array(syms[0]),"
                f" (acc, x) -> IF(element_at(acc, -1) = '{a}' AND x = '{b}',"
                f" concat(slice(acc, 1, size(acc) - 1), array('{a}{b}')),"
                " concat(acc, array(x))))"
            ),
        ).transform(materialize)  # vocabulary-scale; truncates per-round lineage
    return merges, seqs


BPE_ENCODE_ORACLE = (
    """
WITH RECURSIVE w AS (
  SELECT tok, COUNT(*) AS wc
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents)
  WHERE regexp_matches(tok, '^[a-z]+$')
  GROUP BY tok
),
s0 AS (SELECT wc, array_to_string(string_split(tok, ''), ' ') AS seq FROM w),
"""
    + ",".join(_bpe_round_sql(r) for r in (1, 2, 3))
    + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(wc * len(replace(seq, ' ', ''))) AS BIGINT) AS chars_total,
       CAST(SUM(wc * len(string_split(seq, ' '))) AS BIGINT) AS symbols_after,
       (SELECT CAST(COUNT(DISTINCT sym) AS BIGINT)
        FROM (SELECT unnest(string_split(seq, ' ')) AS sym FROM s3)) AS vocab_after,
       ROUND(CAST(SUM(wc * len(replace(seq, ' ', ''))) AS DOUBLE)
             / SUM(wc * len(string_split(seq, ' '))), 4) AS chars_per_symbol
FROM s3
"""
)


@query("text_bpe_apply_encode", oracle=BPE_ENCODE_ORACLE)
def text_bpe_apply_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE step — apply the 3 learned merges to the word dict
    and measure what the tokenizer bought: corpus-weighted symbol
    count after merging, the resulting symbol vocabulary, and the
    chars-per-symbol compression ratio (1.0 = character tokenizer;
    every merge pushes it up). With text_bpe_train_merges this
    completes the tokenizer loop: train → encode → measure.

    Same determinism contract as training (the oracle replays all
    three greedy folds); all reported quantities are exact integers
    except the final display ratio.

    Scale: identical to training — everything runs on the
    vocabulary-scale word dict; encoding a corpus afterwards is a
    broadcast-join of the (word → symbols) dict back onto the token
    stream, map-only.
    """
    _, seqs = _bpe_train(spark, sf_dir, rounds=3)
    stats = seqs.agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(
            F.col("wc")
            * F.aggregate(F.col("syms"), F.lit(0).cast("long"), lambda a, s: a + F.length(s))
        )
        .cast("long")
        .alias("chars_total"),
        F.sum(F.col("wc") * F.size("syms")).cast("long").alias("symbols_after"),
    )
    vocab = (
        seqs.select(F.explode("syms").alias("sym"))
        .agg(F.countDistinct("sym").alias("vocab_after"))
    )
    return stats.crossJoin(F.broadcast(vocab)).select(
        "n_words",
        "chars_total",
        "symbols_after",
        "vocab_after",
        F.round(F.col("chars_total").cast("double") / F.col("symbols_after"), 4).alias(
            "chars_per_symbol"
        ),
    )


MIX_APPLY_ORACLE = """
WITH tc AS (
  SELECT doc_id, source,
         CAST(LEN(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok,
         ('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 10000 AS bucket
  FROM documents
),
s AS (SELECT source, SUM(n_tok) AS toks, COUNT(*) AS n_docs FROM tc GROUP BY source),
t AS (SELECT SUM(toks) AS total, COUNT(*) AS n_sources FROM s),
plan AS (
  SELECT s.source, s.toks,
         CAST(ROUND(LEAST(1.0, (t.total / t.n_sources) / s.toks) * 10000) AS BIGINT) AS keep_bp
  FROM s CROSS JOIN t
),
kept AS (
  SELECT tc.source,
         CAST(SUM(CASE WHEN tc.bucket < p.keep_bp THEN tc.n_tok ELSE 0 END) AS BIGINT) AS toks_after,
         CAST(SUM(CASE WHEN tc.bucket < p.keep_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept
  FROM tc JOIN plan p ON p.source = tc.source
  GROUP BY tc.source
)
SELECT k.source, CAST(p.toks AS BIGINT) AS toks_before, k.toks_after, k.n_docs_kept,
       ROUND(CAST(p.toks AS DOUBLE) / t.total, 4) AS share_before,
       ROUND(CAST(k.toks_after AS DOUBLE)
             / (SELECT SUM(toks_after) FROM kept), 4) AS share_after
FROM kept k JOIN plan p ON p.source = k.source CROSS JOIN t
ORDER BY k.source
"""


@query("pipeline_mix_apply", oracle=MIX_APPLY_ORACLE)
def pipeline_mix_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE the training-mix rebalance text_mix_plan plans: convert
    each source's equalizing rate to integer basis points, keep a
    document when its content-hash bucket falls under the threshold,
    and report achieved vs original token share — planner and
    executor in one Catalyst plan, with the deterministic nested-
    sample guarantee (a lower rate keeps a subset of a higher rate's
    docs, so successive rebalances only ever shrink).

    Scale: one token-count pass to (source) grain, a broadcast of the
    few-row rate plan back onto the scan, and a second source-grain
    aggregate — the corpus is read once; no row ever shuffles.
    """
    from taps_spark.operators.text import token_count

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tc = docs.select(
        "doc_id",
        "source",
        token_count("text").cast("long").alias("n_tok"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
            .cast("long")
            % 10000
        ).alias("bucket"),
    )
    s = tc.groupBy("source").agg(F.sum("n_tok").alias("toks"), F.count("*").alias("n_docs"))
    t = s.agg(F.sum("toks").alias("total"), F.count("*").alias("n_sources"))
    plan = s.crossJoin(F.broadcast(t)).select(
        "source",
        "toks",
        "total",
        F.round(
            F.least(F.lit(1.0), (F.col("total") / F.col("n_sources")) / F.col("toks")) * 10000
        )
        .cast("long")
        .alias("keep_bp"),
    )
    kept = (
        tc.join(F.broadcast(plan), "source")
        .groupBy("source")
        .agg(
            # MAX, not FIRST: toks/total are functionally determined
            # by the group key (joined from the per-source plan);
            # max() is deterministic by construction (r11 ADVICE).
            F.max("toks").alias("toks_before"),
            F.max("total").alias("total"),
            F.sum(F.when(F.col("bucket") < F.col("keep_bp"), F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("toks_after"),
            F.sum(F.when(F.col("bucket") < F.col("keep_bp"), 1).otherwise(0))
            .cast("long")
            .alias("n_docs_kept"),
        )
    )
    after_total = kept.agg(F.sum("toks_after").alias("after_total"))
    return (
        kept.crossJoin(F.broadcast(after_total))
        .select(
            "source",
            "toks_before",
            "toks_after",
            "n_docs_kept",
            F.round(F.col("toks_before").cast("double") / F.col("total"), 4).alias(
                "share_before"
            ),
            F.round(F.col("toks_after").cast("double") / F.col("after_total"), 4).alias(
                "share_after"
            ),
        )
        .orderBy("source")
    )


SHARD_MANIFEST_ORACLE = """
WITH a AS (
  SELECT doc_id AS asset_id,
         ['image', 'audio', 'video'][(doc_id % 3) + 1] AS modality,
         CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS payload_bytes
  FROM documents
),
cum AS (
  SELECT asset_id, modality, payload_bytes,
         SUM(payload_bytes) OVER (PARTITION BY modality ORDER BY asset_id
                                  ROWS UNBOUNDED PRECEDING) AS cum_bytes
  FROM a
),
binned AS (
  SELECT modality, asset_id, payload_bytes,
         CAST((cum_bytes - payload_bytes) // 16384 AS BIGINT) AS shard_id
  FROM cum
)
SELECT modality, shard_id,
       COUNT(*) AS n_assets,
       CAST(SUM(payload_bytes) AS BIGINT) AS shard_bytes,
       MIN(asset_id) AS first_asset,
       MAX(asset_id) AS last_asset
FROM binned
GROUP BY modality, shard_id
ORDER BY modality, shard_id
"""


@query("multimodal_shard_manifest", oracle=SHARD_MANIFEST_ORACLE)
def multimodal_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard manifest: pack each modality's assets
    into ~16 KB shards by start-offset binning over the running
    payload-byte total (the same binning rule as
    text_pack_sequences), and emit the manifest a training loader
    consumes — shard id, member count, byte size, id range.

    Scale: the cumulative sum partitions by MODALITY (bounded key
    space, no global window at this grain — for a single giant
    modality the prefix_sums primitive swaps in, identical semantics)
    and shards aggregate map-side. The payload column itself never
    shuffles; only (id, modality, byte-count) rows move.
    """
    from pyspark.sql import Window

    from taps_spark.operators.multimodal import synthesize_assets

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    assets = synthesize_assets(docs).select(
        "asset_id", "modality", F.octet_length("payload").cast("long").alias("payload_bytes")
    )
    w = (
        Window.partitionBy("modality")
        .orderBy("asset_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = assets.select(
        "modality",
        "asset_id",
        "payload_bytes",
        (
            (F.sum("payload_bytes").over(w) - F.col("payload_bytes")) / 16384
        ).cast("long").alias("shard_id"),
    )
    return (
        binned.groupBy("modality", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("payload_bytes").cast("long").alias("shard_bytes"),
            F.min("asset_id").alias("first_asset"),
            F.max("asset_id").alias("last_asset"),
        )
        .orderBy("modality", "shard_id")
    )


ZIPF_ORACLE = """
WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents
),
freq AS (SELECT tok, COUNT(*) AS n FROM tok GROUP BY tok),
ranked AS (
  SELECT tok, n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rank
  FROM freq
),
top1 AS (SELECT n AS n1 FROM ranked WHERE rank = 1)
SELECT tok, CAST(rank AS INT) AS rank, n,
       ROUND(CAST(n * rank AS DOUBLE) / t.n1, 4) AS zipf_ratio
FROM ranked CROSS JOIN top1 t
WHERE rank <= 20
ORDER BY rank
"""


@query("text_zipf_check", oracle=ZIPF_ORACLE)
def text_zipf_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law conformity check on the token frequency
    distribution: under Zipf, freq(rank) ∝ 1/rank, so
    freq·rank / freq(1) ≈ 1 down the head of the distribution —
    deviations flag synthetic, templated, or boilerplate-heavy text
    (the corpus-level cousin of the Benford digit audit). Reported
    for the top-20 tokens; integer counts and one final display
    division keep it exact cross-engine.

    Scale: one token count (map-side combined); the rank window runs
    on the VOCABULARY relation, and rank<=20 reduces map-side via
    WindowGroupLimit before the single exchange.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    freq = (
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n"), "tok")
    ranked = freq.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 20)
    top1 = ranked.filter(F.col("rank") == 1).select(F.col("n").alias("n1"))
    return (
        ranked.crossJoin(F.broadcast(top1))
        .select(
            "tok",
            "rank",
            "n",
            F.round((F.col("n") * F.col("rank")).cast("double") / F.col("n1"), 4).alias(
                "zipf_ratio"
            ),
        )
        .orderBy("rank")
    )


TOKEN_BUDGET_ORACLE = """
WITH tc AS (
  SELECT doc_id, source, n_chars,
         CAST(LEN(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok
  FROM documents
),
tot AS (
  SELECT source, SUM(n_tok) AS total_tok FROM tc GROUP BY source
),
run AS (
  SELECT tc.source, tc.n_tok, t.total_tok,
         SUM(tc.n_tok) OVER (
           PARTITION BY tc.source
           ORDER BY tc.n_chars DESC, tc.doc_id
           ROWS UNBOUNDED PRECEDING
         ) AS running
  FROM tc JOIN tot t USING (source)
)
SELECT source,
       CAST(FLOOR(total_tok * 0.5) AS BIGINT) AS budget_tok,
       CAST(SUM(CASE WHEN running <= FLOOR(total_tok * 0.5) THEN 1 ELSE 0 END) AS BIGINT)
         AS picked_docs,
       CAST(SUM(CASE WHEN running <= FLOOR(total_tok * 0.5) THEN n_tok ELSE 0 END) AS BIGINT)
         AS picked_tokens,
       ROUND(CAST(SUM(CASE WHEN running <= FLOOR(total_tok * 0.5) THEN n_tok ELSE 0 END) AS DOUBLE)
             / total_tok, 4) AS picked_share
FROM run
GROUP BY source, total_tok
ORDER BY source
"""


@query("pipeline_token_budget_pick", oracle=TOKEN_BUDGET_ORACLE)
def pipeline_token_budget_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget selection: within every source, admit
    documents in quality order (longest first, doc_id tiebreak) until
    the running token total reaches 50% of the source's tokens — the
    'fill the training budget with the best data first' pass every
    mix builder runs after filtering. Deterministic: the order key is
    total, so a re-run (or a smaller budget) picks a strict subset.

    Scale: one token-count scan, a per-source total (map-side
    combined), and ONE window partitioned by source — no global sort,
    no skew pileup beyond the largest single source, and the window
    state is a single running long. At 100 TB with few sources,
    salt the order key into range-partitioned sub-budgets per source
    if a single source exceeds one executor's sort spill comfort.
    """
    from pyspark.sql import Window

    from taps_spark.operators.text import token_count

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tc = docs.select(
        "doc_id", "source", "n_chars", token_count("text").alias("n_tok")
    )
    tot = tc.groupBy("source").agg(F.sum("n_tok").alias("total_tok"))
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = tc.join(F.broadcast(tot), "source").withColumn(
        "running", F.sum("n_tok").over(w)
    )
    budget = F.floor(F.col("total_tok") * 0.5)
    kept = F.when(F.col("running") <= budget, 1).otherwise(0)
    return (
        run.groupBy("source", "total_tok")
        .agg(
            F.sum(kept).cast("long").alias("picked_docs"),
            F.sum(F.col("n_tok") * kept).cast("long").alias("picked_tokens"),
        )
        .select(
            "source",
            F.floor(F.col("total_tok") * 0.5).cast("long").alias("budget_tok"),
            "picked_docs",
            "picked_tokens",
            F.round(
                F.col("picked_tokens").cast("double") / F.col("total_tok"), 4
            ).alias("picked_share"),
        )
        .orderBy("source")
    )


#: Shared DSIR scoring CTEs — ONE definition of the token models and
#: the per-token log-importance ratio, consumed by both DSIR oracles
#: so the planner (pipeline_dsir_weights) and the executor
#: (pipeline_importance_resample) can never silently diverge. The
#: DataFrame twin is _dsir_token_scores below.
_DSIR_SCORE_CTES = """
WITH tok AS (
  SELECT doc_id, lang, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
model AS (
  SELECT tok,
         CAST(COUNT(*) AS BIGINT) AS cr,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct
  FROM tok GROUP BY tok
),
consts AS (
  SELECT CAST(SUM(cr) AS DOUBLE) AS tr,
         CAST(COUNT(*) AS DOUBLE) AS v,
         CAST(SUM(ct) AS DOUBLE)  AS tt
  FROM model
),
scored AS (
  SELECT t.doc_id, t.lang,
         LOG10((m.ct + 1) / (c.tt + c.v))
           - LOG10((m.cr + 1) / (c.tr + c.v)) AS lr
  FROM tok t
  JOIN model m USING (tok)
  CROSS JOIN consts c
),
qtok AS (
  SELECT doc_id, lang, CAST(FLOOR(lr * 1000000000 + 0.5) AS DECIMAL(38,0)) AS q
  FROM scored
),
doc_milli AS (
  SELECT doc_id, lang,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(FLOOR((CAST(SUM(q) AS DOUBLE)
                     / (CAST(COUNT(*) AS DOUBLE) * 1000000000))
                    * 1000 + 0.5) AS BIGINT) AS dsir_logweight_milli
  FROM qtok
  GROUP BY doc_id, lang
)"""

DSIR_ORACLE = _DSIR_SCORE_CTES + """
SELECT doc_id, lang, n_tokens, dsir_logweight_milli
FROM doc_milli
ORDER BY doc_id
"""


def _dsir_token_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-token DSIR log-importance ratios (doc_id, lang, lr) — ONE
    definition of the token models and the smoothed ratio, shared by
    the planner (pipeline_dsir_weights) and the executor
    (pipeline_importance_resample) so their semantics cannot diverge.
    The SQL twin is _DSIR_SCORE_CTES."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tok = docs.select("doc_id", "lang", F.explode(tokens("text")).alias("tok"))
    model = tok.groupBy("tok").agg(
        F.count("*").alias("cr"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("long").alias("ct"),
    )
    consts = model.agg(
        F.sum("cr").cast("double").alias("tr"),
        F.count("*").cast("double").alias("v"),
        F.sum("ct").cast("double").alias("tt"),
    )
    return tok.join(F.broadcast(model), "tok").join(F.broadcast(consts)).select(
        "doc_id",
        "lang",
        (
            F.log10((F.col("ct") + 1) / (F.col("tt") + F.col("v")))
            - F.log10((F.col("cr") + 1) / (F.col("tr") + F.col("v")))
        ).alias("lr"),
    )


def _dsir_doc_milli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR log-weight in integer MILLIS — the hash-proof
    fold shared by the planner and the executor (SQL twin: the
    qtok/doc_milli CTEs in _DSIR_SCORE_CTES). Recipe: quantize each
    token's lr to an integer 1e-9 grid with FLOOR(lr*1e9 + 0.5)
    (identical IEEE multiply/add/floor on both engines since the
    per-token lr is bit-identical), sum EXACTLY in DECIMAL(38,0)
    (order-independent — no float-summation-order dependence on any
    fixture generation), then fold the exact integer mean to millis
    through one correctly-rounded division. |sum(q)| stays below 2^53
    for any document under ~9e6 tokens x |lr|<=1, so the DOUBLE cast
    of the exact sum is itself exact."""
    from taps_spark.operators.numeric import exact_mean_scaled, quantize_nano

    per_doc = (
        _dsir_token_scores(spark, sf_dir)
        .select("doc_id", "lang", quantize_nano(F.col("lr")).alias("q"))
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_tokens"), F.sum("q").alias("sq"))
    )
    return per_doc.select(
        "doc_id",
        "lang",
        "n_tokens",
        exact_mean_scaled(F.col("sq"), F.col("n_tokens"), 1000).alias(
            "dsir_logweight_milli"
        ),
    )


@query("pipeline_dsir_weights", oracle=DSIR_ORACLE)
def pipeline_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, public): score every
    document by its mean token log-importance ratio between a TARGET
    unigram model (lang='en' slice) and the RAW corpus model, both
    Laplace-smoothed over the shared vocabulary — high scores mark
    documents distributionally close to the target domain, the signal
    importance resampling keeps. Same two-model shape as
    text_unigram_logprob, with the ratio replacing the single model.

    Scale: ONE map-side-combined token count builds both models (the
    target count is a conditional sum in the same agg — no second
    corpus scan, no raw-vs-target join), one broadcast of the
    vocab-sized model back onto the token stream, one per-doc agg —
    and no Python touches the path.

    Determinism (r7 hardening — the r6 driver hash-flake): the old
    ROUND(AVG(lr), 3) was an UNORDERED double sum fed to engine ROUND
    — summation order could move the mean across a rounding boundary
    on a different fixture generation. Now each token's lr is
    quantized to an integer 1e-9 grid, summed EXACTLY in
    DECIMAL(38,0), and the weight is emitted as integer millis folded
    from the exact sum (_dsir_doc_milli) — order-independent and
    integer-hashed on ANY fixture.
    """
    return _dsir_doc_milli(spark, sf_dir).orderBy("doc_id")


CURRICULUM_ORACLE = """
WITH t AS (
  SELECT source, doc_id, n_chars,
         CAST(LEN(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok,
         NTILE(4) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS phase
  FROM documents
)
SELECT source, CAST(phase AS INT) AS phase,
       CAST(COUNT(*) AS BIGINT)   AS n_docs,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       CAST(SUM(n_tok) AS BIGINT)   AS total_tokens
FROM t
GROUP BY source, phase
ORDER BY source, phase
"""


@query("pipeline_curriculum_order", oracle=CURRICULUM_ORACLE)
def pipeline_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum phasing: within each source, rank documents by a
    difficulty proxy (length, doc_id tiebreak) and cut the ranking
    into 4 equal-count phases with NTILE — the short-to-long schedule
    curriculum-learning data loaders consume, with per-phase token
    totals so the trainer can budget steps per phase.

    Determinism: the NTILE order key (n_chars, doc_id) is unique per
    document and ANSI NTILE distributes remainders to the earliest
    buckets on both engines — identical phase membership anywhere.

    Scale: ONE window partitioned by source (no global sort) feeding
    a grouped agg that reuses the same (source) exchange; output is
    sources x 4 rows. A single giant source shards the same way the
    token-budget picker does — range-split the order key first.
    """
    from pyspark.sql import Window

    from taps_spark.operators.text import token_count

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    t = docs.select(
        "source",
        "n_chars",
        token_count("text").alias("n_tok"),
        F.ntile(4).over(w).alias("phase"),
    )
    return (
        t.groupBy("source", "phase")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
        )
        .select(
            "source",
            F.col("phase").cast("int").alias("phase"),
            "n_docs",
            "min_chars",
            "max_chars",
            "total_tokens",
        )
        .orderBy("source", "phase")
    )


BIGRAM_LM_ORACLE = """
WITH tokp AS (
  SELECT doc_id, lang,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok,
         generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1) AS pos
  FROM documents
),
big AS (
  SELECT a.doc_id, a.lang, a.tok AS w1, b.tok AS w2
  FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
model AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM big GROUP BY w1, w2),
ctx AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM big GROUP BY w1),
vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v FROM tokp),
scored AS (
  SELECT g.doc_id, g.lang,
         CAST(FLOOR((-LOG10((m.c12 + 1) / (c.c1 + vb.v)) / LOG10(2))
                    * 1000000000 + 0.5) AS DECIMAL(38,0)) AS q
  FROM big g
  JOIN model m ON m.w1 = g.w1 AND m.w2 = g.w2
  JOIN ctx c ON c.w1 = g.w1
  CROSS JOIN vocab vb
)
SELECT doc_id, lang,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(FLOOR((CAST(SUM(q) AS DOUBLE)
                   / (CAST(COUNT(*) AS DOUBLE) * 1000000000))
                  * 1000 + 0.5) AS BIGINT) AS bits_per_token_milli
FROM scored
GROUP BY doc_id, lang
ORDER BY doc_id
"""


@query("text_bigram_lm_bits", oracle=BIGRAM_LM_ORACLE)
def text_bigram_lm_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM cross-entropy per document (add-one smoothing, bits
    per token) — one modeling step up from text_unigram_logprob: a
    document of common words in IMPLAUSIBLE order (shuffled text, SEO
    keyword soup) scores near the unigram filter's mean but blows up
    here, because every bigram is unseen. The standard second-stage
    perplexity gate.

    Scale: bigrams are a MAP-ONLY array zip (slice/zip per doc — no
    positional self-join on the corpus; the oracle uses the join form,
    same values); the (w1,w2) model and the w1 context counts are two
    map-side-combined aggs over bigram-vocabulary keys, broadcast back
    onto the stream. Python never touches the path.

    Determinism (r7 hardening, the DSIR lesson): per-bigram bits are
    bit-identical cross-engine (exact integer counts through log10),
    but their unordered sum inside AVG was not order-proof — each is
    now quantized to an integer 1e-9 grid, summed exactly in
    DECIMAL(38,0), and emitted as integer millis folded from the
    exact sum (operators/numeric.py recipe).
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # size(t) >= 2 guard: sequence(1, 0) DESCENDS in Spark, so an
    # unguarded single-token doc indexes t[-1]/t[1] out of bounds
    # (ANSI crash; silent count inflation otherwise). The oracle's
    # positional self-join produces no bigrams for such docs, so the
    # filter is also what keeps the two result sets identical.
    toks = docs.select("doc_id", "lang", tokens("text").alias("t")).filter(
        F.size("t") >= 2
    )
    big = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(t[i - 1] AS w1, t[i] AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "lang", "bg.w1", "bg.w2")
    model = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    ctx = big.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .agg(F.countDistinct("tok").cast("double").alias("v"))
    )
    from taps_spark.operators.numeric import exact_mean_scaled, quantize_nano

    scored = (
        big.join(F.broadcast(model), ["w1", "w2"])
        .join(F.broadcast(ctx), "w1")
        .join(F.broadcast(vocab))
        .select(
            "doc_id",
            "lang",
            quantize_nano(
                -F.log10((F.col("c12") + 1) / (F.col("c1") + F.col("v")))
                / F.log10(F.lit(2.0))
            ).alias("q"),
        )
    )
    return (
        scored.groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_bigrams"), F.sum("q").alias("sq"))
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            exact_mean_scaled(F.col("sq"), F.col("n_bigrams"), 1000).alias(
                "bits_per_token_milli"
            ),
        )
        .orderBy("doc_id")
    )


DSIR_RESAMPLE_ORACLE = _DSIR_SCORE_CTES + """,
docs_w AS (
  SELECT doc_id, lang, CAST(dsir_logweight_milli AS DOUBLE) / 1000 AS s
  FROM doc_milli
),
kept AS (
  SELECT lang,
         CASE WHEN ('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 10000
                   < LEAST(10000, CAST(FLOOR(10000 * POWER(10, s)) AS BIGINT))
              THEN 1 ELSE 0 END AS keep
  FROM docs_w
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT)  AS n_docs,
       CAST(SUM(keep) AS BIGINT) AS n_kept,
       ROUND(CAST(SUM(keep) AS DOUBLE) / COUNT(*), 4) AS share_kept
FROM kept
GROUP BY lang
ORDER BY lang
"""


@query("pipeline_importance_resample", oracle=DSIR_RESAMPLE_ORACLE)
def pipeline_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE the DSIR selection pipeline_dsir_weights plans: turn
    each document's importance log-weight into a keep rate
    (10^s basis points, capped at 1.0) and keep the document when its
    content-hash bucket falls under the rate — deterministic
    importance RESAMPLING without RNG, with the same nested-sample
    guarantee as pipeline_mix_apply (a lower weight keeps a subset of
    a higher weight's buckets). Reports achieved per-language keep
    rates — target-domain languages survive, off-domain thins out.

    Scale: identical plan shape to the weights query (one tokenized
    model agg, broadcast back, per-doc agg) plus two scalar
    expressions and a language-grain rollup — the corpus is read
    once per subtree; no extra shuffle beyond the weights plan.

    Determinism: the weight enters as the EXACT integer millis of
    _dsir_doc_milli (r7 hardening — no unordered double sum anywhere),
    so s is one correctly-rounded integer/1000 division on both
    engines; the keep decision then quantizes through POWER(10, s) and
    FLOOR — identical IEEE steps cross-engine; the hash bucket is the
    md5 idiom every sampler here uses.
    """
    docs_w = _dsir_doc_milli(spark, sf_dir).select(
        "lang",
        "doc_id",
        (F.col("dsir_logweight_milli").cast("double") / 1000).alias("s"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10).cast(
            "long"
        )
        % 10000
    )
    rate = F.least(
        F.lit(10000).cast("long"),
        F.floor(10000 * F.pow(F.lit(10.0), F.col("s"))).cast("long"),
    )
    kept = docs_w.select(
        "lang", F.when(bucket < rate, 1).otherwise(0).alias("keep")
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("keep").cast("long").alias("n_kept"),
            F.round(
                F.sum("keep").cast("double") / F.count("*"), 4
            ).alias("share_kept"),
        )
        .orderBy("lang")
    )


VOCAB_COVERAGE_ORACLE = """
WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
counts AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY tok),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS vocab FROM counts),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rnk,
         SUM(c) OVER (ORDER BY c DESC, tok
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM counts
),
ks AS (SELECT CAST(UNNEST([100, 1000, 10000]) AS BIGINT) AS k)
SELECT k.k AS vocab_size,
       t.vocab AS full_vocab,
       CAST(MAX(CASE WHEN r.rnk <= k.k THEN r.cum ELSE 0 END) AS BIGINT)
         AS covered_tokens,
       ROUND(CAST(MAX(CASE WHEN r.rnk <= k.k THEN r.cum ELSE 0 END) AS DOUBLE)
             / t.total, 4) AS coverage
FROM ranked r CROSS JOIN ks k CROSS JOIN tot t
GROUP BY k.k, t.vocab, t.total
ORDER BY vocab_size
"""


@query("text_vocab_coverage_curve", oracle=VOCAB_COVERAGE_ORACLE)
def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of all token
    OCCURRENCES does a top-k frequency vocabulary cover, for k in
    {100, 1k, 10k} — the sizing curve a tokenizer/vocab designer reads
    before committing to a vocab budget (the knee is where OOV-rate
    returns diminish).

    Scale: the corpus collapses to vocabulary grain FIRST (map-side
    combined token counts), so the ranking window runs on |vocab|
    rows, not corpus rows — the global window is bounded by the
    vocabulary, which is the quantity being designed (≤ a few M at
    any corpus size). Deterministic rank: ties break on the token.
    """
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    counts = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    tot = counts.agg(
        F.sum("c").cast("long").alias("total"),
        F.count("*").cast("long").alias("vocab"),
    )
    w = Window.orderBy(F.col("c").desc(), "tok")
    ranked = counts.select(
        "c",
        F.row_number().over(w).alias("rnk"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("cum"),
    )
    ks = F.explode(F.array(*[F.lit(k) for k in (100, 1000, 10000)])).alias("k")
    per_k = ranked.select("rnk", "cum", ks).select(
        F.col("k").cast("long").alias("k"),
        F.when(F.col("rnk") <= F.col("k"), F.col("cum")).otherwise(0).alias("cov"),
    )
    return (
        per_k.groupBy("k")
        .agg(F.max("cov").cast("long").alias("covered_tokens"))
        .join(F.broadcast(tot))
        .select(
            F.col("k").alias("vocab_size"),
            F.col("vocab").alias("full_vocab"),
            "covered_tokens",
            F.round(
                F.col("covered_tokens").cast("double") / F.col("total"), 4
            ).alias("coverage"),
        )
        .orderBy("vocab_size")
    )


ASPECT_BUCKET_ORACLE = """
WITH a AS (
  SELECT doc_id AS asset_id, OCTET_LENGTH(ENCODE(text)) AS n
  FROM documents WHERE doc_id % 3 = 0
),
d AS (
  SELECT asset_id,
         CAST(64 + n % 512 AS INT)       AS w,
         CAST(64 + (n * 7) % 512 AS INT) AS h
  FROM a
),
b AS (
  SELECT asset_id, w, h,
         CAST(w AS DOUBLE) / h AS ar,
         CASE WHEN CAST(w AS DOUBLE) / h < 0.65625    THEN '9:16'
              WHEN CAST(w AS DOUBLE) / h < 0.875      THEN '3:4'
              WHEN CAST(w AS DOUBLE) / h < 7.0 / 6.0  THEN '1:1'
              WHEN CAST(w AS DOUBLE) / h < 14.0 / 9.0 THEN '4:3'
              ELSE '16:9' END AS bucket
  FROM d
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(FLOOR((CAST(SUM(CAST(FLOOR(ar * 1000000000 + 0.5) AS DECIMAL(38,0)))
                        AS DOUBLE)
                   / (CAST(COUNT(*) AS DOUBLE) * 1000000000))
                  * 1000000 + 0.5) AS BIGINT) AS avg_ar_micros,
       CAST(CASE bucket WHEN '9:16' THEN 768 WHEN '3:4' THEN 864
                        WHEN '1:1' THEN 1024 WHEN '4:3' THEN 1152
                        ELSE 1344 END AS INT) AS target_w,
       CAST(CASE bucket WHEN '9:16' THEN 1344 WHEN '3:4' THEN 1152
                        WHEN '1:1' THEN 1024 WHEN '4:3' THEN 864
                        ELSE 768 END AS INT) AS target_h
FROM b
GROUP BY bucket
ORDER BY bucket
"""


@query("multimodal_aspect_bucket_stats", oracle=ASPECT_BUCKET_ORACLE)
def multimodal_aspect_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing for image-batch training (the SDXL
    recipe): decode each image's true dimensions, snap its aspect
    ratio to the nearest of five canonical buckets (threshold CASE on
    the midpoints — identical IEEE comparisons cross-engine), and
    report per-bucket population plus the bucket's resize target —
    the manifest a bucketed dataloader consumes so no batch ever
    mixes shapes.

    Scale: dimension extraction is the Arrow mapInPandas decode path
    (operators/multimodal.extract_features — the oracle mirrors the
    deterministic stub math, gating the plumbing); everything after
    is a 5-group map-side-combined aggregate. No shuffle carries
    pixels.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    assets = synthesize_assets(docs).filter(F.col("modality") == "image")
    feats = extract_features(assets).select("asset_id", "width", "height")
    ar = F.col("width").cast("double") / F.col("height")
    bucket = (
        F.when(ar < 0.65625, "9:16")
        .when(ar < 0.875, "3:4")
        .when(ar < 7.0 / 6.0, "1:1")
        .when(ar < 14.0 / 9.0, "4:3")
        .otherwise("16:9")
    )
    b = feats.select(ar.alias("ar"), bucket.alias("bucket"))
    tw = (
        F.when(F.col("bucket") == "9:16", 768)
        .when(F.col("bucket") == "3:4", 864)
        .when(F.col("bucket") == "1:1", 1024)
        .when(F.col("bucket") == "4:3", 1152)
        .otherwise(1344)
    )
    th = (
        F.when(F.col("bucket") == "9:16", 1344)
        .when(F.col("bucket") == "3:4", 1152)
        .when(F.col("bucket") == "1:1", 1024)
        .when(F.col("bucket") == "4:3", 864)
        .otherwise(768)
    )
    from taps_spark.operators.numeric import exact_mean_scaled, quantize_nano

    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum(quantize_nano(F.col("ar"))).alias("sq"),
        )
        .select(
            "bucket",
            "n_images",
            exact_mean_scaled(F.col("sq"), F.col("n_images"), 1000000).alias(
                "avg_ar_micros"
            ),
            tw.cast("int").alias("target_w"),
            th.cast("int").alias("target_h"),
        )
        .orderBy("bucket")
    )


MIX_KL_ORACLE = """
WITH tc AS (
  SELECT source,
         CAST(SUM(LEN(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS toks
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(SUM(toks) AS DOUBLE) AS total,
         CAST(COUNT(*) AS DOUBLE)  AS n
  FROM tc
),
terms AS (
  SELECT tc.source,
         tc.toks / t.total AS p,
         (tc.toks / t.total) * LOG10((tc.toks / t.total) * t.n) / LOG10(2) AS term
  FROM tc CROSS JOIN tot t
),
folded AS (
  SELECT LIST_REDUCE(LIST(term ORDER BY source), (a, b) -> a + b) AS kl_bits,
         MAX(p) AS max_share, MIN(p) AS min_share,
         CAST(COUNT(*) AS BIGINT) AS n_sources
  FROM terms
)
SELECT n_sources,
       (SELECT CAST(SUM(toks) AS BIGINT) FROM tc) AS total_tokens,
       ROUND(kl_bits, 6)  AS kl_from_uniform_bits,
       ROUND(max_share, 4) AS max_share,
       ROUND(min_share, 4) AS min_share
FROM folded
"""


@query("pipeline_mix_kl_report", oracle=MIX_KL_ORACLE)
def pipeline_mix_kl_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix drift monitor: KL divergence (bits) of the
    achieved per-source token distribution from the uniform target —
    the one number a mix-rebalancing loop (text_mix_plan ->
    pipeline_mix_apply) watches to decide whether another rebalance
    round is worth running; 0 bits = perfectly balanced.

    Determinism: the KL sum folds the per-source terms in SORTED
    source order on both engines (ordered-array fold — the repo's
    recipe for bit-identical float reductions), so the double is
    identical before the display rounding.

    Scale: one token-count scan to source grain (map-side combined),
    then constant-size arithmetic over #sources rows. Nothing else
    moves.
    """
    from taps_spark.operators.text import token_count

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tc = docs.groupBy("source").agg(F.sum(token_count("text")).alias("toks"))
    tot = tc.agg(
        F.sum("toks").cast("double").alias("total"),
        F.count("*").cast("double").alias("n"),
        F.sum("toks").alias("total_tokens"),
    )
    p = F.col("toks") / F.col("total")
    terms = tc.join(F.broadcast(tot)).select(
        "source",
        "total_tokens",
        p.alias("p"),
        (p * F.log10(p * F.col("n")) / F.log10(F.lit(2.0))).alias("term"),
    )
    return terms.groupBy("total_tokens").agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.aggregate(
            F.expr("transform(array_sort(collect_list(struct(source, term))), e -> e.term)"),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("kl_bits"),
        F.max("p").alias("max_share"),
        F.min("p").alias("min_share"),
    ).select(
        "n_sources",
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.round("kl_bits", 6).alias("kl_from_uniform_bits"),
        F.round("max_share", 4).alias("max_share"),
        F.round("min_share", 4).alias("min_share"),
    )


GOPHER_DUP_NGRAM_ORACLE = """
WITH tokp AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok,
         generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1) AS pos
  FROM documents
),
n AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, CAST(MAX(c) AS BIGINT) AS topc
  FROM (SELECT doc_id, tok, COUNT(*) AS c FROM tokp GROUP BY doc_id, tok)
  GROUP BY doc_id
),
bg AS (
  SELECT a.doc_id, a.tok || chr(31) || b.tok AS g
  FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
bstat AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nb, CAST(COUNT(DISTINCT g) AS BIGINT) AS db
  FROM bg GROUP BY doc_id
),
tg AS (
  SELECT a.doc_id, a.tok || chr(31) || b.tok || chr(31) || c.tok AS g
  FROM tokp a
  JOIN tokp b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN tokp c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
),
tstat AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt, CAST(COUNT(DISTINCT g) AS BIGINT) AS dt
  FROM tg GROUP BY doc_id
)
SELECT n.doc_id,
       n.n_tokens,
       CAST(FLOOR((CAST(n.topc AS DOUBLE) / n.n_tokens) * 1000000 + 0.5) AS BIGINT)
         AS top_word_ppm,
       CASE WHEN COALESCE(b.nb, 0) = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(FLOOR((CAST(b.nb - b.db AS DOUBLE) / b.nb) * 1000000 + 0.5)
                      AS BIGINT) END AS dup_bigram_ppm,
       CASE WHEN COALESCE(t.nt, 0) = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(FLOOR((CAST(t.nt - t.dt AS DOUBLE) / t.nt) * 1000000 + 0.5)
                      AS BIGINT) END AS dup_trigram_ppm
FROM n
LEFT JOIN bstat b ON b.doc_id = n.doc_id
LEFT JOIN tstat t ON t.doc_id = n.doc_id
ORDER BY n.doc_id
"""


@query("text_gopher_dup_ngrams", oracle=GOPHER_DUP_NGRAM_ORACLE)
def text_gopher_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021,
    public): the share of the top word among all tokens, and the
    duplicate-bigram / duplicate-trigram excess (occurrences beyond
    each n-gram's first, over total n-grams) — the three cheapest
    filters against keyword-stuffed or loop-generated text, emitted
    as exact integer ppm.

    Scale: ENTIRELY map-only — n-grams, their distinct counts and the
    longest-run top-word count are per-row HOFs over the token array
    (no corpus-grain n-gram shuffle; the oracle's positional
    self-joins are the SQL spelling of the same per-doc math). At
    100 TB this runs at scan speed with zero exchanges.

    Determinism: every output is an integer count ratio folded with
    FLOOR(x*1e6 + 0.5) from exact per-doc integers.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    t = docs.select(
        "doc_id", tokens("text").alias("t")
    ).withColumn("st", F.array_sort("t"))
    expr = t.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.expr(
            "aggregate("
            "  CASE WHEN size(t) >= 2 THEN sequence(1, size(t) - 1)"
            "       ELSE CAST(array() AS array<int>) END,"
            "  named_struct('run', 1L, 'best', 1L),"
            "  (acc, i) -> IF(element_at(st, i + 1) = element_at(st, i),"
            "                 named_struct('run', acc.run + 1L,"
            "                              'best', GREATEST(acc.best, acc.run + 1L)),"
            "                 named_struct('run', 1L, 'best', acc.best)),"
            "  acc -> acc.best)"
        ).alias("topc"),
        F.expr(
            "CASE WHEN size(t) >= 2 THEN"
            "  transform(sequence(1, size(t) - 1),"
            "            i -> concat(t[i - 1], '\\u001f', t[i]))"
            " ELSE CAST(array() AS array<string>) END"
        ).alias("bg"),
        F.expr(
            "CASE WHEN size(t) >= 3 THEN"
            "  transform(sequence(1, size(t) - 2),"
            "            i -> concat(t[i - 1], '\\u001f', t[i], '\\u001f', t[i + 1]))"
            " ELSE CAST(array() AS array<string>) END"
        ).alias("tg"),
    )
    # ppm fold from exact per-doc integers; zero-denominator guard
    # matches the oracle's CASE (docs shorter than the n-gram order).
    ppm = lambda num, den: F.when(den == 0, F.lit(0).cast("long")).otherwise(  # noqa: E731
        F.floor((num.cast("double") / den) * 1000000 + F.lit(0.5)).cast("long")
    )
    return expr.select(
        "doc_id",
        "n_tokens",
        F.floor(
            (F.col("topc").cast("double") / F.col("n_tokens")) * 1000000 + F.lit(0.5)
        )
        .cast("long")
        .alias("top_word_ppm"),
        ppm(
            F.size("bg") - F.size(F.array_distinct("bg")), F.size("bg")
        ).alias("dup_bigram_ppm"),
        ppm(
            F.size("tg") - F.size(F.array_distinct("tg")), F.size("tg")
        ).alias("dup_trigram_ppm"),
    ).orderBy("doc_id")


CHUNK_DEDUP_ORACLE = """
WITH arr AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
),
ch AS (
  SELECT doc_id,
         MD5(array_to_string(t[s : s + 63], ' ')) AS chunk_md5
  FROM arr CROSS JOIN LATERAL
       (SELECT unnest(range(1, LEN(arr.t) + 1, 48)) AS s) s
),
freq AS (
  SELECT chunk_md5, COUNT(DISTINCT doc_id) AS nd
  FROM ch GROUP BY chunk_md5
)
SELECT ch.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
       CAST(FLOOR((CAST(SUM(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*)) * 1000000 + 0.5) AS BIGINT) AS dup_chunk_ppm
FROM ch JOIN freq f USING (chunk_md5)
GROUP BY ch.doc_id
ORDER BY ch.doc_id
"""


@query("dedup_chunk_overlap_share", oracle=CHUNK_DEDUP_ORACLE)
def dedup_chunk_overlap_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level cross-document duplication (the paragraph-dedup
    shape of CCNet/RefinedWeb, run on 64-token windows because the
    fixtures carry no newline structure): fingerprint every
    chunk_token_windows window, count windows whose content appears
    in MORE THAN ONE document, and report each document's duplicated
    share as integer ppm — the signal that catches shared boilerplate
    INSIDE otherwise-distinct documents, which whole-doc fingerprints
    miss entirely.

    Scale: one map-only chunking pass (no shuffle), ONE 16-byte
    fingerprint shuffle at chunk grain for the frequency table, one
    broadcast-or-shuffle join back, per-doc rollup. This is the
    linear-cost path real pipelines run where LSH would be overkill;
    at 100 TB the fingerprint shuffle is the only wide stage and it
    carries hashes, never text.

    Determinism: counts and an integer ppm fold only — no floats.
    """
    from taps_spark.operators.text import chunk_token_windows

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    ch = chunk_token_windows(docs, "text", "doc_id", window=64, stride=48).select(
        "doc_id", "chunk_md5"
    )
    freq = ch.groupBy("chunk_md5").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    dup = F.when(F.col("nd") > 1, 1).otherwise(0)
    return (
        ch.join(freq, "chunk_md5")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(dup).cast("long").alias("dup_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "dup_chunks",
            F.floor(
                (F.col("dup_chunks").cast("double") / F.col("n_chunks")) * 1000000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("dup_chunk_ppm"),
        )
        .orderBy("doc_id")
    )


EPOCH_SHUFFLE_ORACLE = """
WITH b AS (
  SELECT source,
         ('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || ':epoch1'), 1, 6))::BIGINT
           % 16 AS bucket
  FROM documents
),
per AS (
  SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n
  FROM b GROUP BY source, bucket
)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS buckets_used,
       CAST(MAX(n) AS BIGINT) AS max_bucket,
       CAST(MIN(n) AS BIGINT) AS min_bucket,
       CAST(FLOOR((CAST(MAX(n) - MIN(n) AS DOUBLE) / SUM(n)) * 1000000 + 0.5)
            AS BIGINT) AS spread_ppm
FROM per
GROUP BY source
ORDER BY source
"""


@query("pipeline_epoch_shuffle_uniformity", oracle=EPOCH_SHUFFLE_ORACLE)
def pipeline_epoch_shuffle_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-epoch shuffle audit: assign every document its
    epoch-1 dataloader shard via a content-free keyed hash
    (md5(doc_id || ':epoch1') % 16 — a different epoch string reshards
    the corpus with zero state) and report per-source shard balance:
    shards used, heaviest/lightest shard, and the max-min spread as
    ppm of the source. The check a 100 TB loader runs BEFORE training
    to prove no shard will straggle and every source is spread across
    all shards — a skewed shard is a skewed GPU.

    Scale: map-only hash + one (source, bucket)-grain agg (at most
    sources x 16 groups survive the map-side combine), then a
    source-grain rollup. No window, no sort, nothing corpus-grain.

    Determinism: the md5 bucket idiom every sampler here uses;
    outputs are integers and one exact-count ppm fold.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":epoch1"))), 1, 6),
            16,
            10,
        ).cast("long")
        % 16
    )
    per = (
        docs.select("source", bucket.alias("bucket"))
        .groupBy("source", "bucket")
        .agg(F.count("*").alias("n"))
    )
    return (
        per.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("buckets_used"),
            F.max("n").cast("long").alias("max_bucket"),
            F.min("n").cast("long").alias("min_bucket"),
        )
        .select(
            "source",
            "n_docs",
            "buckets_used",
            "max_bucket",
            "min_bucket",
            F.floor(
                ((F.col("max_bucket") - F.col("min_bucket")).cast("double") / F.col("n_docs"))
                * 1000000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("spread_ppm"),
        )
        .orderBy("source")
    )


SHINGLE_DUP_CURVE_ORACLE = """
WITH arr AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
grams AS (
  SELECT n.n, array_to_string(a.t[s.s : s.s + n.n - 1], ' ') AS g
  FROM arr a
  CROSS JOIN (SELECT unnest([3, 5, 8]) AS n) n
  CROSS JOIN LATERAL
    (SELECT unnest(range(1, LEN(a.t) + 1)) AS s) s
  WHERE s.s <= LEN(a.t) - n.n + 1
)
SELECT CAST(n AS INT) AS shingle_n,
       CAST(COUNT(*) AS BIGINT) AS total_shingles,
       CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_shingles,
       CAST(FLOOR((CAST(COUNT(*) - COUNT(DISTINCT g) AS DOUBLE) / COUNT(*))
                  * 1000000 + 0.5) AS BIGINT) AS dup_ppm
FROM grams
GROUP BY n
ORDER BY shingle_n
"""


@query("pipeline_shingle_dup_curve", oracle=SHINGLE_DUP_CURVE_ORACLE)
def pipeline_shingle_dup_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus duplication as a function of shingle size (3/5/8-token
    windows, stride 1): the exploratory curve run BEFORE choosing a
    dedup configuration — short shingles saturate (every corpus
    repeats 3-grams), long shingles under-trigger; the knee tells you
    what n-gram the MinHash shingler should use for THIS corpus.

    Scale: shingles are map-only HOF zips fanned out by explode; the
    only wide stage is the distinct-count at shingle grain (hashed
    128-bit fingerprints would halve the shuffle width at 100 TB —
    swap array_join for xxhash64(array_join) when the strings are
    long). Output is 3 rows.

    Determinism: exact integer counts and one ppm fold.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    t = docs.select("doc_id", tokens("text").alias("t"))
    parts = []
    for n in (3, 5, 8):
        parts.append(
            t.select(
                F.lit(n).cast("int").alias("shingle_n"),
                F.explode(
                    F.expr(
                        f"CASE WHEN size(t) >= {n} THEN"
                        f"  transform(sequence(1, size(t) - {n} + 1),"
                        f"            s -> array_join(slice(t, s, {n}), ' '))"
                        f" ELSE CAST(array() AS array<string>) END"
                    )
                ).alias("g"),
            )
        )
    from functools import reduce

    grams = reduce(lambda a, b: a.unionByName(b), parts)
    return (
        grams.groupBy("shingle_n")
        .agg(
            F.count("*").alias("total_shingles"),
            F.countDistinct("g").alias("distinct_shingles"),
        )
        .select(
            "shingle_n",
            "total_shingles",
            "distinct_shingles",
            F.floor(
                (
                    (F.col("total_shingles") - F.col("distinct_shingles")).cast("double")
                    / F.col("total_shingles")
                )
                * 1000000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("dup_ppm"),
        )
        .orderBy("shingle_n")
    )


SOURCE_VOCAB_OVERLAP_ORACLE = """
WITH tc AS (
  SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
counts AS (
  SELECT source, tok, COUNT(*) AS c FROM tc GROUP BY source, tok
),
ranked AS (
  SELECT source, tok,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, tok) AS r
  FROM counts
),
top AS (SELECT source, tok FROM ranked WHERE r <= 1000),
sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM top GROUP BY source),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b, CAST(COUNT(*) AS BIGINT) AS s
  FROM top a JOIN top b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT sa.source AS source_a, sb.source AS source_b,
       COALESCE(sh.s, 0) AS shared_terms,
       CAST(FLOOR((CAST(COALESCE(sh.s, 0) AS DOUBLE)
                   / (sa.n + sb.n - COALESCE(sh.s, 0))) * 1000000 + 0.5) AS BIGINT)
         AS overlap_ppm
FROM sz sa
JOIN sz sb ON sa.source < sb.source
LEFT JOIN shared sh ON sh.source_a = sa.source AND sh.source_b = sb.source
ORDER BY source_a, source_b
"""


@query("text_source_vocab_overlap", oracle=SOURCE_VOCAB_OVERLAP_ORACLE)
def text_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between sources: Jaccard of each
    source pair's top-1000 term sets (count-ranked, token tiebreak) —
    the redundancy map a mix designer reads to find sources that are
    near-rebrands of each other (high overlap ⇒ near-duplicate
    domains; dedup across them BEFORE weighting the mix).

    Scale: everything beyond the one (source, token)-grain count runs
    at top-k-vocabulary grain — the ranking window partitions by
    source over ≤|vocab| rows, and the pair join fans at most
    |sources|² × 1000 rows. Corpus text is read once.

    Determinism: exact counts, a unique-key window order, and one
    integer ppm fold.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    from pyspark.sql import Window

    counts = (
        docs.select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("source").orderBy(F.col("c").desc(), F.col("tok"))
    top = counts.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= 1000)
    sz = top.groupBy("source").agg(F.count("*").alias("n"))
    a = top.select(F.col("source").alias("source_a"), "tok")
    b = top.select(F.col("source").alias("source_b"), "tok")
    shared = (
        a.join(F.broadcast(b), "tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("s"))
    )
    pairs = (
        sz.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
        .join(
            sz.select(F.col("source").alias("source_b"), F.col("n").alias("nb")),
            F.col("source_a") < F.col("source_b"),
        )
        .join(F.broadcast(shared), ["source_a", "source_b"], "left")
        .withColumn("shared_terms", F.coalesce(F.col("s"), F.lit(0)).cast("long"))
    )
    return pairs.select(
        "source_a",
        "source_b",
        "shared_terms",
        F.floor(
            (
                F.col("shared_terms").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared_terms"))
            )
            * 1000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("overlap_ppm"),
    ).orderBy("source_a", "source_b")


TOKENIZER_FERTILITY_ORACLE = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LEN(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
         AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(OCTET_LENGTH(ENCODE(text))) AS BIGINT) AS total_bytes,
       CAST(FLOOR((CAST(SUM(LEN(regexp_split_to_array(trim(text), '\\s+'))) AS DOUBLE)
                   / SUM(n_chars)) * 1000000 + 0.5) AS BIGINT)
         AS tokens_per_char_ppm,
       CAST(FLOOR((CAST(SUM(OCTET_LENGTH(ENCODE(text))) AS DOUBLE)
                   / SUM(LEN(regexp_split_to_array(trim(text), '\\s+'))))
                  * 1000 + 0.5) AS BIGINT) AS bytes_per_token_milli
FROM documents
GROUP BY lang
ORDER BY lang
"""


@query("pipeline_tokenizer_fertility", oracle=TOKENIZER_FERTILITY_ORACLE)
def pipeline_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per language: tokens-per-character
    and bytes-per-token — the numbers that size a training budget
    across languages (a language whose tokenizer is 2x as fertile
    costs 2x the steps for the same text) and flag scripts the
    tokenizer handles poorly (bytes/token spikes).

    Scale: one map-only pass (token count, char count, byte count are
    row expressions), one language-grain agg. Nothing else moves.

    Determinism: exact BIGINT sums and two integer folds.
    """
    from taps_spark.operators.text import token_count

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    agg = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count("text")).cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(F.octet_length("text")).cast("long").alias("total_bytes"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "total_tokens",
        "total_chars",
        "total_bytes",
        F.floor(
            (F.col("total_tokens").cast("double") / F.col("total_chars")) * 1000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("tokens_per_char_ppm"),
        F.floor(
            (F.col("total_bytes").cast("double") / F.col("total_tokens")) * 1000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("bytes_per_token_milli"),
    ).orderBy("lang")


PACK_WASTE_ORACLE = """
WITH tc AS (
  SELECT doc_id, lang,
         CAST(LEN(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok
  FROM documents
),
cum AS (
  SELECT doc_id, lang, n_tok,
         SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tok
  FROM tc
),
packs AS (
  SELECT lang, CAST((cum_tok - n_tok) // 2048 AS INT) AS pack_id,
         CAST(SUM(n_tok) AS BIGINT) AS pack_tokens
  FROM cum
  GROUP BY lang, (cum_tok - n_tok) // 2048
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_packs,
       CAST(SUM(pack_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN pack_tokens > 2048 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_overflow_packs,
       CAST(MAX(pack_tokens) AS BIGINT) AS max_pack_tokens,
       CAST(FLOOR((CAST(SUM(pack_tokens) AS DOUBLE) / (COUNT(*) * 2048))
                  * 1000000 + 0.5) AS BIGINT) AS avg_fill_ppm
FROM packs
GROUP BY lang
ORDER BY lang
"""


@query("pipeline_pack_waste_stats", oracle=PACK_WASTE_ORACLE)
def pipeline_pack_waste_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit over the text_pack_sequences binning:
    per language, how many 2048-token packs form, how full they run
    on average (fill ppm of capacity), and how many OVERFLOW the
    budget because a document straddles a boundary — the numbers that
    decide between start-offset binning (cheap, may overflow) and
    document splitting (exact, costs a chunking pass) for a training
    loader.

    Scale: identical plan spine to text_pack_sequences (one window
    partitioned by lang, token counts travel, text never does) plus a
    language-grain rollup.

    Determinism: exact integer token sums; one ppm fold.
    """
    from pyspark.sql import Window

    from taps_spark.operators.text import token_count

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tc = docs.select("doc_id", "lang", token_count("text").alias("n_tok"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = tc.withColumn("cum_tok", F.sum("n_tok").over(w))
    packs = (
        cum.select(
            "lang",
            F.expr("CAST((cum_tok - n_tok) div 2048 AS INT)").alias("pack_id"),
            "n_tok",
        )
        .groupBy("lang", "pack_id")
        .agg(F.sum("n_tok").alias("pack_tokens"))
    )
    return (
        packs.groupBy("lang")
        .agg(
            F.count("*").alias("n_packs"),
            F.sum("pack_tokens").cast("long").alias("total_tokens"),
            F.sum(F.when(F.col("pack_tokens") > 2048, 1).otherwise(0))
            .cast("long")
            .alias("n_overflow_packs"),
            F.max("pack_tokens").cast("long").alias("max_pack_tokens"),
        )
        .select(
            "lang",
            "n_packs",
            "total_tokens",
            "n_overflow_packs",
            "max_pack_tokens",
            F.floor(
                (F.col("total_tokens").cast("double") / (F.col("n_packs") * 2048))
                * 1000000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("avg_fill_ppm"),
        )
        .orderBy("lang")
    )


NGRAM_BLOCKLIST_ORACLE = """
WITH arr AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
),
tri AS (
  SELECT a.doc_id, a.source, array_to_string(a.t[s.s : s.s + 2], ' ') AS g
  FROM arr a
  CROSS JOIN LATERAL
    (SELECT unnest(range(1, LEN(a.t) - 1)) AS s) s
),
top AS (
  SELECT g FROM (
    SELECT g, COUNT(*) AS c,
           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, g) AS r
    FROM tri GROUP BY g
  ) WHERE r <= 20
)
SELECT tri.source,
       CAST(COUNT(*) AS BIGINT) AS total_trigrams,
       CAST(SUM(CASE WHEN top.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS blocked_trigrams,
       CAST(FLOOR((CAST(SUM(CASE WHEN top.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*)) * 1000000 + 0.5) AS BIGINT) AS blocked_ppm
FROM tri LEFT JOIN top ON top.g = tri.g
GROUP BY tri.source
ORDER BY tri.source
"""


@query("text_common_ngram_blocklist", oracle=NGRAM_BLOCKLIST_ORACLE)
def text_common_ngram_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate pressure per source: build the corpus top-20
    trigram blocklist (count-ranked, gram tiebreak) and measure what
    share of each source's trigrams it covers — high coverage marks
    navigation chrome / template text the cleaning pass should strip
    before dedup ever runs (boilerplate inflates near-dup candidates
    quadratically).

    Scale: trigrams are map-only HOF zips; the blocklist ranking runs
    at trigram-VOCABULARY grain and only 20 rows broadcast back onto
    the stream — the probe join is a broadcast hash, never a shuffle
    of the corpus.

    Determinism: exact counts, unique-key ranking, one ppm fold.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    from pyspark.sql import Window

    tri = docs.select(
        "source",
        F.explode(
            F.expr(
                "CASE WHEN size(split(trim(text), '\\\\s+')) >= 3 THEN"
                "  transform(sequence(1, size(split(trim(text), '\\\\s+')) - 2),"
                "            s -> array_join(slice(split(trim(text), '\\\\s+'), s, 3), ' '))"
                " ELSE CAST(array() AS array<string>) END"
            )
        ).alias("g"),
    )
    # r13: collapse the trigram STREAM to (source, trigram) counts
    # once — the top-20 ranking and the per-source coverage fold both
    # consumed `tri`, each replaying the full trigram HOF explosion
    # over the corpus. All downstream numbers are exact integer sums
    # of c, so the grid totals are bit-identical (§1.2; r12 VERDICT
    # task #3). The checkpointed grain is trigram-vocabulary-sized,
    # not stream-sized.
    tric = (
        tri.groupBy("source", "g")
        .agg(F.count("*").alias("c"))
        .transform(materialize)
    )
    # orderBy+limit compiles to TakeOrderedAndProject — a map-side
    # top-20 per partition reduced on the driver, NOT a global sort
    # of the trigram vocabulary (the window form would be).
    top = (
        tric.groupBy("g")
        .agg(F.sum("c").alias("c"))
        .orderBy(F.col("c").desc(), F.col("g"))
        .limit(20)
        .select("g", F.lit(1).alias("blocked"))
    )
    return (
        tric.join(F.broadcast(top), "g", "left")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("total_trigrams"),
            F.sum(
                F.when(F.col("blocked").isNotNull(), F.col("c")).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("blocked_trigrams"),
        )
        .select(
            "source",
            "total_trigrams",
            "blocked_trigrams",
            F.floor(
                (F.col("blocked_trigrams").cast("double") / F.col("total_trigrams"))
                * 1000000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("blocked_ppm"),
        )
        .orderBy("source")
    )


HASH_FEATURE_COLLISION_ORACLE = """
WITH vocab AS (
  SELECT DISTINCT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
b AS (
  SELECT tok,
         ('0x' || SUBSTRING(MD5(tok), 1, 6))::BIGINT % 1024 AS bucket
  FROM vocab
),
per AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_toks FROM b GROUP BY bucket
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM vocab) AS vocab_size,
       CAST(COUNT(*) AS BIGINT) AS buckets_used,
       CAST(MAX(n_toks) AS BIGINT) AS max_tokens_per_bucket,
       CAST(SUM(CASE WHEN n_toks > 1 THEN n_toks ELSE 0 END) AS BIGINT)
         AS collided_vocab,
       CAST(FLOOR((CAST(SUM(CASE WHEN n_toks > 1 THEN n_toks ELSE 0 END) AS DOUBLE)
                   / (SELECT COUNT(*) FROM vocab)) * 1000000 + 0.5) AS BIGINT)
         AS collided_ppm
FROM per
"""


@query("text_hash_feature_collision_audit", oracle=HASH_FEATURE_COLLISION_ORACLE)
def text_hash_feature_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing collision audit (the HashingTF question): hash
    the corpus vocabulary into 1024 buckets (md5 — engine-portable)
    and measure how much of the vocabulary shares a bucket — the
    number that decides whether a hashed feature space is big enough
    for a downstream classifier, checked BEFORE training instead of
    debugged after.

    Scale: runs entirely at VOCABULARY grain (one distinct over the
    token stream, map-side combined), then a 1024-group aggregate.

    Determinism: md5 bucketing, exact counts, one ppm fold.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    vocab = docs.select(F.explode(tokens("text")).alias("tok")).distinct()
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 6), 16, 10).cast("long") % 1024
    )
    per = vocab.groupBy(bucket.alias("bucket")).agg(F.count("*").alias("n_toks"))
    vs = vocab.agg(F.count("*").alias("vocab_size"))
    agg = per.agg(
        F.count("*").alias("buckets_used"),
        F.max("n_toks").cast("long").alias("max_tokens_per_bucket"),
        F.sum(F.when(F.col("n_toks") > 1, F.col("n_toks")).otherwise(0))
        .cast("long")
        .alias("collided_vocab"),
    )
    return vs.crossJoin(agg).select(
        "vocab_size",
        "buckets_used",
        "max_tokens_per_bucket",
        "collided_vocab",
        F.floor(
            (F.col("collided_vocab").cast("double") / F.col("vocab_size")) * 1000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("collided_ppm"),
    )


TRUNCATION_WASTE_ORACLE = """
WITH tc AS (
  SELECT lang,
         CAST(LEN(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN n_tok > 64 THEN 1 ELSE 0 END) AS BIGINT) AS docs_truncated,
       CAST(SUM(CASE WHEN n_tok > 64 THEN n_tok - 64 ELSE 0 END) AS BIGINT)
         AS tokens_lost,
       CAST(FLOOR((CAST(SUM(CASE WHEN n_tok > 64 THEN n_tok - 64 ELSE 0 END) AS DOUBLE)
                   / SUM(n_tok)) * 1000000 + 0.5) AS BIGINT) AS lost_ppm
FROM tc
GROUP BY lang
ORDER BY lang
"""


@query("pipeline_truncation_waste", oracle=TRUNCATION_WASTE_ORACLE)
def pipeline_truncation_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window truncation waste at a 64-token window: per
    language, how many documents exceed the window and what share of
    corpus tokens a hard-truncate loader would silently drop — the
    number that decides between truncation and the chunking path
    (text_chunk_windows) before anyone trains on accidentally-headless
    documents.

    Scale: map-only token counts, one language-grain agg.

    Determinism: exact integer sums, one ppm fold.
    """
    from taps_spark.operators.text import token_count

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tc = docs.select("lang", token_count("text").alias("n_tok"))
    lost = F.when(F.col("n_tok") > 64, F.col("n_tok") - 64).otherwise(0)
    return (
        tc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.sum(F.when(F.col("n_tok") > 64, 1).otherwise(0))
            .cast("long")
            .alias("docs_truncated"),
            F.sum(lost).cast("long").alias("tokens_lost"),
        )
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            "docs_truncated",
            "tokens_lost",
            F.floor(
                (F.col("tokens_lost").cast("double") / F.col("total_tokens")) * 1000000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("lost_ppm"),
        )
        .orderBy("lang")
    )


JS_DIVERGENCE_ORACLE = """
WITH tc AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents)
  GROUP BY source, tok
),
tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM tc GROUP BY source),
pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM tot a JOIN tot b ON a.source < b.source
),
aterms AS (
  SELECT p.sa, p.sb,
         CAST(FLOOR((0.5 * (ta.c / na.n)
                     * (LOG10((ta.c / na.n)
                              / (((ta.c / na.n) + (COALESCE(tb.c, 0) / nb.n)) / 2))
                        / LOG10(2)))
                    * 1000000000 + 0.5) AS DECIMAL(38,0)) AS q
  FROM pairs p
  JOIN tc ta ON ta.source = p.sa
  JOIN tot na ON na.source = p.sa
  JOIN tot nb ON nb.source = p.sb
  LEFT JOIN tc tb ON tb.source = p.sb AND tb.tok = ta.tok
),
bterms AS (
  SELECT p.sa, p.sb,
         CAST(FLOOR((0.5 * (tb.c / nb.n)
                     * (LOG10((tb.c / nb.n)
                              / (((tb.c / nb.n) + (COALESCE(ta.c, 0) / na.n)) / 2))
                        / LOG10(2)))
                    * 1000000000 + 0.5) AS DECIMAL(38,0)) AS q
  FROM pairs p
  JOIN tc tb ON tb.source = p.sb
  JOIN tot nb ON nb.source = p.sb
  JOIN tot na ON na.source = p.sa
  LEFT JOIN tc ta ON ta.source = p.sa AND ta.tok = tb.tok
),
allt AS (
  SELECT sa, sb, q FROM aterms UNION ALL SELECT sa, sb, q FROM bterms
)
SELECT sa AS source_a, sb AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(FLOOR((CAST(SUM(q) AS DOUBLE) / 1000000000) * 1000 + 0.5) AS BIGINT)
         AS js_bits_milli
FROM allt
GROUP BY sa, sb
ORDER BY source_a, source_b
"""


@query("text_source_js_divergence", oracle=JS_DIVERGENCE_ORACLE)
def text_source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (bits) between every source pair's
    token distributions — the symmetric, bounded mix-comparison
    metric (0 = identical corpora, 1 bit = disjoint): what a mix
    designer actually reads when deciding whether two sources bring
    distinct distributions or re-skinned copies (complements
    text_source_vocab_overlap, which only sees SET overlap).

    Scale: everything runs at (source, token) vocabulary grain — the
    corpus collapses to counts first; the pair fan-out is
    |pairs| x |vocab-per-source| rows of arithmetic, no text moves.
    Per-term contributions are nano-quantized and summed EXACTLY in
    DECIMAL(38,0) (the r7 law — a 190-pair x vocab unordered double
    sum is exactly the DSIR trap shape).

    Determinism: per-term doubles are bit-identical (integer-count
    divisions, LOG10 ratios composed identically on both engines);
    the sum is an exact integer; one milli fold at the end.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # r13: the (source, token) count table feeds FOUR lineage
    # references (tot, and own/other in each _terms direction); the
    # barrier reduces four tokenize→explode→agg corpus passes to one.
    # Vocabulary grain — bounded by |sources|·|vocab|, far below
    # corpus size (§1.2; r12 VERDICT task #3).
    tc = (
        docs.select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
        .transform(materialize)
    )
    tot = tc.groupBy("source").agg(F.sum("c").alias("n"))
    pairs = (
        tot.select(F.col("source").alias("sa"))
        .join(tot.select(F.col("source").alias("sb")), F.col("sa") < F.col("sb"))
    )

    def _terms(own_src, other_src):
        own = tc.select(
            F.col("source").alias(own_src), "tok", F.col("c").alias("c_own")
        )
        other = tc.select(
            F.col("source").alias("o_src"),
            F.col("tok").alias("tok2"),
            F.col("c").alias("c_other"),
        )
        n_own = tot.select(F.col("source").alias(own_src), F.col("n").alias("n_own"))
        n_other = tot.select(
            F.col("source").alias(other_src), F.col("n").alias("n_other")
        )
        j = (
            pairs.join(own, own_src)
            .join(F.broadcast(n_own), own_src)
            .join(F.broadcast(n_other), other_src)
            .join(
                other,
                (F.col(other_src) == F.col("o_src"))
                & (F.col("tok") == F.col("tok2")),
                "left",
            )
        )
        p = F.col("c_own") / F.col("n_own")
        q = F.coalesce(F.col("c_other"), F.lit(0)) / F.col("n_other")
        m = (p + q) / 2
        term = F.lit(0.5) * p * (F.log10(p / m) / F.log10(F.lit(2.0)))
        return j.select(
            "sa",
            "sb",
            F.floor(term * 1000000000 + F.lit(0.5)).cast("decimal(38,0)").alias("q"),
        )

    allt = _terms("sa", "sb").unionByName(_terms("sb", "sa"))
    return (
        allt.groupBy("sa", "sb")
        .agg(F.count("*").alias("n_terms"), F.sum("q").alias("sq"))
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "n_terms",
            F.floor(
                (F.col("sq").cast("double") / 1000000000) * 1000 + F.lit(0.5)
            )
            .cast("long")
            .alias("js_bits_milli"),
        )
        .orderBy("source_a", "source_b")
    )


RELEASE_FINGERPRINT_ORACLE = """
WITH h AS (
  SELECT source, n_chars,
         ('0x' || SUBSTRING(MD5(text), 1, 15))::BIGINT % 1000000007 AS hv
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(hv) % 1000000007 AS BIGINT) AS content_checksum,
       CAST(MIN(hv) AS BIGINT) AS min_hash,
       CAST(MAX(hv) AS BIGINT) AS max_hash
FROM h
GROUP BY source
ORDER BY source
"""


@query("pipeline_release_fingerprint", oracle=RELEASE_FINGERPRINT_ORACLE)
def pipeline_release_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-release fingerprint per source: an order-insensitive
    content checksum (sum of per-document md5 residues mod a prime)
    plus doc/char counts — the version stamp a data card carries so
    two 'v1.2' tarballs on different clusters can be proven identical
    WITHOUT moving the data (the reference's CRC-per-chunk idea,
    lib/taps/utils.rb:25-31, lifted to release granularity).

    Scale: map-only hashing, one source-grain agg; the modular sum
    commutes with any partitioning, so partial checksums from
    per-shard jobs combine exactly.

    Determinism: md5 residues and modular BIGINT sums — no floats.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    hv = (
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long") % 1000000007
    )
    return (
        docs.select("source", "n_chars", hv.alias("hv"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            (F.sum("hv") % 1000000007).cast("long").alias("content_checksum"),
            F.min("hv").cast("long").alias("min_hash"),
            F.max("hv").cast("long").alias("max_hash"),
        )
        .orderBy("source")
    )


CONTEXT_LENGTH_HIST_ORACLE = """
WITH d AS (
  SELECT source,
         LEN(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
  FROM documents
),
b AS (
  SELECT source, CAST(FLOOR(LOG2(n_tok)) AS INT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM d GROUP BY source, CAST(FLOOR(LOG2(n_tok)) AS INT)
),
c AS (
  SELECT *,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY bucket
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens,
         SUM(n_tokens) OVER (PARTITION BY source) AS tot_tokens
  FROM b
)
SELECT source, bucket, n_docs, n_tokens,
       CAST(cum_tokens * 1000000 // tot_tokens AS BIGINT) AS cum_token_ppm
FROM c
ORDER BY source, bucket
"""


@query("pipeline_context_length_histogram", oracle=CONTEXT_LENGTH_HIST_ORACLE)
def pipeline_context_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length planning histogram: documents bucketed by
    power-of-two token count per source, with each bucket's doc/token
    counts and the cumulative token share — the distribution you
    consult before choosing a training context length and packing
    strategy (how much of the corpus fits under 2^k tokens, how much
    must truncate or pack).

    Scale: one map-side token count per doc (no explode — LEN of the
    split array), one shuffle at (source, bucket) grain (≤ sources ×
    ~20 buckets rows), windows at the same design grain.

    Determinism: LOG2 of an integer is the identical libm double on
    both engines (exact at powers of two); counts/sums/ppm are pure
    integer arithmetic.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    from pyspark.sql import Window

    d = docs.select(
        "source", F.size(tokens("text")).alias("n_tok")
    )
    b = d.groupBy(
        "source", F.floor(F.log2("n_tok")).cast("int").alias("bucket")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    ws = Window.partitionBy("source")
    wc = ws.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        b.select(
            "source",
            "bucket",
            "n_docs",
            "n_tokens",
            F.sum("n_tokens").over(wc).alias("cum_tokens"),
            F.sum("n_tokens").over(ws).alias("tot_tokens"),
        )
        .select(
            "source",
            "bucket",
            "n_docs",
            "n_tokens",
            F.expr("cum_tokens * 1000000 div tot_tokens").alias("cum_token_ppm"),
        )
        .orderBy("source", "bucket")
    )


QUALITY_PRUNE_CURVE_ORACLE = """
WITH d AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
),
s AS (
  SELECT doc_id, LEN(t) AS n_tok,
         LEN(list_filter(t, x -> regexp_matches(x, '^[a-z]+$'))) AS n_alpha,
         LEN(list_filter(t, x -> LEN(x) >= 4)) AS n_long
  FROM d
),
scored AS (
  SELECT doc_id, n_tok,
         (n_alpha * 600000 + n_long * 400000) // n_tok AS score_ppm
  FROM s WHERE n_tok > 0
),
ks AS (SELECT unnest([200000, 400000, 600000, 800000]) AS threshold_ppm),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(n_tok) AS BIGINT) AS nt FROM scored)
SELECT CAST(ks.threshold_ppm AS BIGINT) AS threshold_ppm,
       CAST(SUM(CASE WHEN score_ppm >= ks.threshold_ppm THEN 1 ELSE 0 END) AS BIGINT)
         AS surviving_docs,
       CAST(SUM(CASE WHEN score_ppm >= ks.threshold_ppm THEN n_tok ELSE 0 END) AS BIGINT)
         AS surviving_tokens,
       CAST(SUM(CASE WHEN score_ppm >= ks.threshold_ppm THEN n_tok ELSE 0 END)
            * 1000000 // tot.nt AS BIGINT) AS token_share_ppm
FROM scored CROSS JOIN ks CROSS JOIN tot
GROUP BY ks.threshold_ppm, tot.nt
ORDER BY threshold_ppm
"""


@query("pipeline_quality_prune_curve", oracle=QUALITY_PRUNE_CURVE_ORACLE)
def pipeline_quality_prune_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-threshold SENSITIVITY curve: corpus survival (docs,
    tokens, token share) at four settings of an integer-exact quality
    score (60% alphabetic-token ratio + 40% long-token ratio, on a
    ppm grid) — the audit run before committing a quality gate at
    corpus scale, the quality-side twin of dedup_threshold_sweep.

    Scale: per-doc score is two HOF filters over one split (map-only,
    no explode); the sweep is ONE conditional aggregation — extra
    thresholds cost zero scans.

    Determinism: the score is integer arithmetic end to end
    ((n_alpha·6e5 + n_long·4e5) div n_tok), so threshold comparisons
    are exact on both engines.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    t = tokens("text")
    s = docs.select(
        F.size(t).alias("n_tok"),
        F.size(F.filter(t, lambda x: x.rlike("^[a-z]+$"))).alias("n_alpha"),
        F.size(F.filter(t, lambda x: F.length(x) >= 4)).alias("n_long"),
    ).filter(F.col("n_tok") > 0)
    scored = s.select(
        "n_tok",
        # BIGINT interior: int32 n_alpha * 600000 ANSI-overflows past
        # 3,579 alphabetic tokens per doc — fine on the 100-token
        # fixture, wrong at corpus scale (matches the oracle's BIGINT
        # LEN() semantics).
        F.expr(
            "(cast(n_alpha as bigint) * 600000"
            " + cast(n_long as bigint) * 400000) div n_tok"
        ).alias("score_ppm"),
    )
    ks = F.explode(
        F.array(*[F.lit(v) for v in (200000, 400000, 600000, 800000)])
    ).alias("threshold_ppm")
    swept = scored.select("n_tok", "score_ppm", ks)
    return (
        swept.groupBy("threshold_ppm")
        .agg(
            F.sum(F.when(F.col("score_ppm") >= F.col("threshold_ppm"), 1).otherwise(0))
            .cast("long")
            .alias("surviving_docs"),
            F.sum(
                F.when(F.col("score_ppm") >= F.col("threshold_ppm"), F.col("n_tok")).otherwise(0)
            )
            .cast("long")
            .alias("surviving_tokens"),
            F.sum("n_tok").cast("long").alias("_tot"),
        )
        .select(
            F.col("threshold_ppm").cast("long").alias("threshold_ppm"),
            "surviving_docs",
            "surviving_tokens",
            F.expr("surviving_tokens * 1000000 div _tot").alias("token_share_ppm"),
        )
        .orderBy("threshold_ppm")
    )


SHARD_REBALANCE_ORACLE = """
WITH d AS (
  SELECT doc_id, source,
         LEN(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - n_tok AS cum_before
  FROM d
),
a AS (
  SELECT source, cum_before // 100000 AS shard_id, n_tok FROM c
)
SELECT source, CAST(shard_id AS INT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(n_tok) * 1000000 // 100000 AS BIGINT) AS fill_ppm
FROM a
GROUP BY source, shard_id
ORDER BY source, shard_id
"""


@query("pipeline_shard_rebalance_plan", oracle=SHARD_REBALANCE_ORACLE)
def pipeline_shard_rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-shard assignment plan: docs stream into ~100k-token
    shards per source by cumulative token offset (shard = floor of
    the tokens BEFORE the doc / target), reporting each shard's doc
    count, token payload and fill factor — the layout step between
    `pipeline_token_budget_pick` and writing a release, where shard
    skew decides downstream loader parallelism.

    Scale: one per-source cumulative window (range-partition the sort
    key for a single giant source) and a (source, shard) rollup; no
    data movement beyond the window shuffle.

    Determinism: integer token counts, integer floor division —
    assignment is exact on both engines.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = docs.select(
        "doc_id", "source", F.size(tokens("text")).alias("n_tok")
    ).select(
        "source",
        "n_tok",
        (F.sum("n_tok").over(w) - F.col("n_tok")).alias("cum_before"),
    )
    return (
        c.select(
            "source",
            F.expr("cum_before div 100000").cast("int").alias("shard_id"),
            "n_tok",
        )
        .groupBy("source", "shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .select(
            "source",
            "shard_id",
            "n_docs",
            "n_tokens",
            F.expr("n_tokens * 1000000 div 100000").alias("fill_ppm"),
        )
        .orderBy("source", "shard_id")
    )


TERM_BURSTINESS_ORACLE = """
WITH dtc AS (
  SELECT doc_id, source, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT doc_id, source,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents)
  GROUP BY doc_id, source, tok
),
top AS (
  SELECT tok FROM (
    SELECT tok, SUM(c) AS tot,
           ROW_NUMBER() OVER (ORDER BY SUM(c) DESC, tok) AS rn
    FROM dtc GROUP BY tok
  ) WHERE rn <= 20
),
nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
       FROM documents GROUP BY source),
g AS (
  SELECT dtc.source, dtc.tok,
         CAST(SUM(dtc.c) AS BIGINT) AS s1,
         CAST(SUM(dtc.c * dtc.c) AS BIGINT) AS s2,
         CAST(COUNT(*) AS BIGINT) AS df
  FROM dtc JOIN top ON top.tok = dtc.tok
  GROUP BY dtc.source, dtc.tok
)
SELECT g.tok AS token, g.source AS source, nd.n_docs, g.df AS doc_freq,
       g.s1 AS total_count,
       ROUND((CAST(g.s2 AS DOUBLE) / nd.n_docs
              - (CAST(g.s1 AS DOUBLE) / nd.n_docs)
                * (CAST(g.s1 AS DOUBLE) / nd.n_docs))
             / (CAST(g.s1 AS DOUBLE) / nd.n_docs), 6) AS vmr
FROM g JOIN nd ON nd.source = g.source
ORDER BY token, g.source
"""


@query("text_term_burstiness", oracle=TERM_BURSTINESS_ORACLE)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (variance-to-mean ratio of per-document
    counts, zeros included) for the 20 highest-frequency tokens,
    split by source — the corpus-linguistics dispersion probe: VMR ≈
    1 means Poisson scatter (function-word-like), VMR ≫ 1 means the
    term CLUMPS in few documents (topical/spammy), the signal
    quality filters and stopword lists are actually built on.

    Exact: per-(doc,token) counts and Σc/Σc² stay integer (BIGINT —
    c ≤ tokens-per-doc so c² is bounded by doc length², far from
    overflow at any corpus size); the VMR is a fixed per-row IEEE
    chain from those integers (zeros enter via dividing by the FULL
    per-source doc count, not doc_freq). Top-20 selection ranks the
    vocabulary-grain count frame with the token as tiebreak (total
    order).

    Scale: corpus collapses to (doc,token) then (source,token)
    grain map-side; the ranking window runs on vocabulary-grain
    rows; the final frame is 20×|sources|. No corpus-grain window
    or join anywhere.
    """
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # r13: materialize the (doc, source, token) count grain ONCE — the
    # top-20 ranking and the per-(source, token) moment aggregate both
    # consume it, and without a barrier each replayed the full
    # tokenize→explode→hash-agg pass over the corpus (differential
    # column pruning defeats ReusedExchange, the kendall lesson).
    # One exploded-token exchange per query (§1.2; r12 VERDICT
    # task #3).
    dtc = (
        docs.select("doc_id", "source", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(materialize)
    )
    top = (
        dtc.groupBy("tok")
        .agg(F.sum("c").alias("tot"))
        .withColumn(
            "rn", F.row_number().over(Window.orderBy(F.desc("tot"), "tok"))
        )
        .filter(F.col("rn") <= 20)
        .select("tok")
    )
    nd = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    g = (
        dtc.join(F.broadcast(top), "tok")
        .groupBy("source", "tok")
        .agg(
            F.sum("c").alias("s1"),
            F.sum(F.col("c") * F.col("c")).alias("s2"),
            F.count(F.lit(1)).alias("df"),
        )
    )
    mean = F.col("s1").cast("double") / F.col("n_docs")
    return (
        g.join(F.broadcast(nd), "source")
        .select(
            F.col("tok").alias("token"),
            "source",
            "n_docs",
            F.col("df").alias("doc_freq"),
            F.col("s1").alias("total_count"),
            F.round(
                (F.col("s2").cast("double") / F.col("n_docs") - mean * mean)
                / mean,
                6,
            ).alias("vmr"),
        )
        .orderBy("token", "source")
    )


HEAPS_LAW_ORACLE = """
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
ft AS (
  SELECT tok, MIN(doc_id) AS first_doc
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents)
  GROUP BY tok
),
-- decile bucket of doc d: smallest k with d < (n_docs*k)//10, in
-- closed form (10d + n + 9) // n  — pure integer arithmetic, so the
-- Spark twin is bit-identical and NO theta join exists on either side
vb AS (
  SELECT (10 * ft.first_doc + n.n_docs + 9) // n.n_docs AS k,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM ft, n GROUP BY 1
),
tb AS (
  SELECT (10 * doc_id + n.n_docs + 9) // n.n_docs AS k,
         CAST(SUM(LEN(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
           AS toks
  FROM documents, n GROUP BY 1
),
ks AS (SELECT unnest(range(1, 11)) AS k),
curve AS (
  SELECT ks.k,
         (n.n_docs * ks.k) // 10 AS n_prefix_docs,
         SUM(COALESCE(tb.toks, 0))
           OVER (ORDER BY ks.k) AS total_tokens,
         SUM(COALESCE(vb.v, 0))
           OVER (ORDER BY ks.k) AS vocab
  FROM ks
  CROSS JOIN n
  LEFT JOIN tb ON tb.k = ks.k
  LEFT JOIN vb ON vb.k = ks.k
)
SELECT CAST(k AS INT) AS decile, n_prefix_docs,
       CAST(total_tokens AS BIGINT) AS total_tokens,
       CAST(vocab AS BIGINT) AS vocab,
       CAST(FLOOR(CAST(vocab AS DOUBLE) / total_tokens * 1000000 + 0.5)
            AS BIGINT) AS type_token_ppm
FROM curve
ORDER BY decile
"""


@query("text_heaps_law", oracle=HEAPS_LAW_ORACLE)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth curve: distinct vocabulary size
    after each 10% prefix of the corpus (doc_id order) with the
    type/token ratio — the companion diagnostic to text_zipf_check
    (Zipf describes the frequency SPECTRUM, Heaps the vocabulary
    GROWTH; a corpus whose curve flattens early is repetitive or
    template-heavy, one that grows linearly is noisy/OCR-damaged).

    Computed without any ordered accumulation over the corpus OR
    any theta join: each token's FIRST-occurrence doc is one MIN
    aggregate, each doc/token lands in its decile bucket by closed-
    form integer arithmetic ((10·d + n + 9) div n — identical on
    both engines), and the curve is a 10-row cumulative sum. The
    first cut of this query used cutoff < doc_id theta joins; the
    measured 10× curve came back α=1.165 (every row fanned out per
    matching cutoff), and this bucket rewrite removes that term.

    Scale: two map-side-combined aggregations (token→min doc,
    doc→token count), a 10-row bucket fold each, and a 10-row
    window. No corpus-grain join or window at all.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    ft = (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    vb = (
        ft.crossJoin(F.broadcast(n))
        .groupBy(F.expr("(10 * first_doc + n_docs + 9) div n_docs").alias("k"))
        .agg(F.count(F.lit(1)).alias("v"))
    )
    tb = (
        docs.select("doc_id", F.size(tokens("text")).cast("long").alias("n_tok"))
        .crossJoin(F.broadcast(n))
        .groupBy(F.expr("(10 * doc_id + n_docs + 9) div n_docs").alias("k"))
        .agg(F.sum("n_tok").alias("toks"))
    )
    ks = spark.range(1, 11).select(F.col("id").alias("k"))
    from pyspark.sql import Window

    wk = Window.orderBy("k")
    curve = (
        ks.crossJoin(F.broadcast(n))
        .join(F.broadcast(tb), "k", "left")
        .join(F.broadcast(vb), "k", "left")
        .select(
            "k",
            F.expr("(n_docs * k) div 10").alias("n_prefix_docs"),
            F.sum(F.coalesce(F.col("toks"), F.lit(0))).over(wk).alias("total_tokens"),
            F.sum(F.coalesce(F.col("v"), F.lit(0))).over(wk).alias("vocab"),
        )
    )
    return curve.select(
        F.col("k").cast("int").alias("decile"),
        "n_prefix_docs",
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.col("vocab").cast("long").alias("vocab"),
        F.floor(
            F.col("vocab").cast("double") / F.col("total_tokens") * 1000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("type_token_ppm"),
    ).orderBy("decile")


SCENE_CUTS_ORACLE = """
WITH v AS (
  SELECT doc_id AS asset_id,
         OCTET_LENGTH(ENCODE(text)) AS n,
         MD5(text) AS base
  FROM documents WHERE doc_id % 3 = 2
),
d AS (SELECT asset_id, base, 1000 + (n * 17) % 600000 AS dur FROM v),
f AS (
  SELECT asset_id, base,
         unnest(range(LEAST(5, GREATEST(1, dur // 2000)))) AS frame_idx
  FROM d
),
fr AS (
  SELECT asset_id, CAST(frame_idx AS INT) AS frame_idx,
         CAST(frame_idx * 2000 AS BIGINT) AS ts_ms,
         CAST(('0x' || SUBSTRING(
             MD5(base || '-' || CAST(frame_idx AS VARCHAR)), 1, 8)) AS BIGINT)
           % 256 AS luma
  FROM f
),
delta AS (
  SELECT asset_id, frame_idx, ts_ms, luma,
         ABS(luma - LAG(luma) OVER (PARTITION BY asset_id ORDER BY frame_idx))
           AS dl
  FROM fr
)
SELECT asset_id,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(SUM(CASE WHEN dl >= 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
       CAST(MIN(CASE WHEN dl >= 64 THEN ts_ms END) AS BIGINT) AS first_cut_ms
FROM delta
GROUP BY asset_id
HAVING COUNT(*) > 1
ORDER BY asset_id
"""


@query("multimodal_scene_cuts", oracle=SCENE_CUTS_ORACLE)
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over sampled video frames: a cut is a
    frame whose mean-luma proxy jumps ≥ 64 levels from its
    predecessor — the shot-boundary primitive behind keyframe
    selection and per-scene captioning in video training pipelines.

    The frame DECODE is the deterministic stub (no codec in this
    container — operators/multimodal.py:1-27): the luma proxy is the
    leading 32 bits of the frame checksum mod 256, so the WHOLE
    pipeline — mapInPandas frame expansion, per-asset lag window,
    cut threshold, first-cut fold — is real Spark plumbing with an
    exact oracle; swapping the stub for a real decoder changes only
    the luma expression.

    Scale: frame expansion is map-only (1 asset row → ≤5 frame
    rows); the lag window partitions on asset_id over the unique
    frame_idx (total order); the fold is asset-grain. No
    corpus-grain window or join.
    """
    from taps_spark.operators.multimodal import sample_frames

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    assets = synthesize_assets(docs).filter(F.col("modality") == "video")
    frames = sample_frames(assets, every_ms=2000, max_frames=5)
    from pyspark.sql import Window

    luma = (
        F.conv(F.substring("frame_checksum", 1, 8), 16, 10).cast("long") % 256
    )
    w = Window.partitionBy("asset_id").orderBy("frame_idx")
    delta = frames.select(
        "asset_id", "frame_idx", "ts_ms", luma.alias("luma")
    ).select(
        "asset_id", "frame_idx", "ts_ms", "luma",
        F.abs(F.col("luma") - F.lag("luma").over(w)).alias("dl"),
    )
    return (
        delta.groupBy("asset_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum((F.col("dl") >= 64).cast("int")).cast("long").alias("n_cuts"),
            F.min(F.when(F.col("dl") >= 64, F.col("ts_ms"))).alias("first_cut_ms"),
        )
        .filter(F.col("n_frames") > 1)
        .orderBy("asset_id")
    )


COLLOCATIONS_PMI_ORACLE = """
WITH tokp AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok,
         generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1) AS pos
  FROM documents
),
big AS (
  SELECT a.tok AS w1, b.tok AS w2
  FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM big GROUP BY w1, w2),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM big),
u1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM big GROUP BY w1),
u2 AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM big GROUP BY w2),
scored AS (
  SELECT bc.w1, bc.w2, bc.c12,
         ROUND(LOG10((CAST(bc.c12 AS DOUBLE) * CAST(n.nb AS DOUBLE))
                     / (CAST(u1.c1 AS DOUBLE) * CAST(u2.c2 AS DOUBLE)))
               / LOG10(2), 6) AS pmi_bits
  FROM bc
  JOIN u1 ON u1.w1 = bc.w1
  JOIN u2 ON u2.w2 = bc.w2
  CROSS JOIN n
  WHERE bc.c12 >= 5
)
SELECT w1, w2, c12 AS n_cooccur, pmi_bits, CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY pmi_bits DESC, w1, w2) AS rank
  FROM scored
)
WHERE rank <= 30
ORDER BY rank
"""


@query("text_collocations_pmi", oracle=COLLOCATIONS_PMI_ORACLE)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-30 adjacent-token bigrams by pointwise
    mutual information (min support 5) — the phrase-discovery
    primitive behind tokenizer merge seeding, multi-word entity
    lists, and boilerplate detection (very-high-PMI pairs are frozen
    phrases/templates, near-zero pairs are chance adjacency).

    PMI = log2(c12·N/(c1·c2)): every factor enters the ratio as an
    integer-valued DOUBLE (the profile_mutual_info overflow rule —
    c12·N would pass int64 at web scale), one fixed IEEE chain per
    bigram row, display-rounded. Ranking key ends in (w1, w2) — the
    bigram identity — so the top-30 window is a total order.

    Scale: the corpus collapses to bigram-grain counts map-side
    (posexplode + self-join-free lead-pairing in Spark); marginals
    join back at vocabulary grain; the support filter prunes the
    long tail BEFORE the ranking window, which then runs on the
    surviving collocation candidates only.
    """
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tk = docs.select("doc_id", F.posexplode(tokens("text")).alias("pos", "tok"))
    wnext = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        tk.select(
            F.col("tok").alias("w1"), F.lead("tok").over(wnext).alias("w2")
        )
        .filter(F.col("w2").isNotNull())
    )
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    nb = big.agg(F.count(F.lit(1)).alias("nb"))
    u1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    u2 = big.groupBy("w2").agg(F.count(F.lit(1)).alias("c2"))
    scored = (
        bc.filter(F.col("c12") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(nb))
        .select(
            "w1", "w2", "c12",
            F.round(
                F.log10(
                    (F.col("c12").cast("double") * F.col("nb").cast("double"))
                    / (F.col("c1").cast("double") * F.col("c2").cast("double"))
                )
                / F.log10(F.lit(2.0)),
                6,
            ).alias("pmi_bits"),
        )
    )
    w = Window.orderBy(F.desc("pmi_bits"), "w1", "w2")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 30)
        .select(
            "w1", "w2", F.col("c12").alias("n_cooccur"), "pmi_bits",
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("rank")
    )


AUDIO_VAD_ORACLE = """
WITH a AS (
  SELECT doc_id AS asset_id,
         OCTET_LENGTH(ENCODE(text)) AS n,
         MD5(text) AS base
  FROM documents WHERE doc_id % 3 = 1
),
d AS (SELECT asset_id, base, 1000 + (n * 13) % 60000 AS dur FROM a),
w AS (
  SELECT asset_id, base,
         unnest(range(LEAST(8, GREATEST(1, dur // 1000)))) AS window_idx
  FROM d
),
r AS (
  SELECT asset_id, CAST(window_idx AS INT) AS window_idx,
         CAST(('0x' || SUBSTR(MD5(base || '-w' || CAST(window_idx AS VARCHAR)),
                              1, 8)) AS BIGINT) % 10000 AS rms_tt
  FROM w
),
act AS (SELECT * FROM r WHERE rms_tt >= 5000),
brk AS (
  SELECT asset_id, window_idx, rms_tt,
         CASE WHEN LAG(window_idx) OVER w IS NULL
                OR window_idx - LAG(window_idx) OVER w > 1
              THEN 1 ELSE 0 END AS b
  FROM act
  WINDOW w AS (PARTITION BY asset_id ORDER BY window_idx)
),
seg AS (
  SELECT asset_id, window_idx, rms_tt,
         SUM(b) OVER (PARTITION BY asset_id ORDER BY window_idx) AS segment_id
  FROM brk
)
SELECT asset_id, CAST(segment_id AS INT) AS segment_id,
       CAST(MIN(window_idx) * 1000 AS BIGINT) AS start_ms,
       CAST((MAX(window_idx) + 1) * 1000 AS BIGINT) AS end_ms,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST((SUM(rms_tt) * 1000) // (COUNT(*) * 10000) AS BIGINT)
         AS mean_rms_milli
FROM seg
GROUP BY asset_id, segment_id
ORDER BY asset_id, segment_id
"""


@query("multimodal_audio_vad_segments", oracle=AUDIO_VAD_ORACLE)
def multimodal_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation: merge consecutive high-energy
    audio windows (RMS ≥ 0.5) into contiguous speech segments with
    bounds and mean energy — the gaps-and-islands fold every
    speech-data curation pipeline runs between 'window the audio'
    and 'transcribe the active spans' (silence never reaches the
    expensive model).

    The window ENERGY comes from the deterministic stub
    (operators/multimodal.sample_audio_windows; real WAV payloads
    take the true PCM path) — the VAD logic itself (threshold, lag-
    based island break, cumulative segment ids, per-segment fold) is
    the production shape and is what the oracle pins. Energies are
    exact ten-thousandths, so the segment mean is INTEGER floor
    division — no float aggregation anywhere.

    Scale: mapInPandas expansion is map-only; the island windows
    partition on asset_id over the unique window_idx (total order);
    segments fold at (asset, segment) grain. Nothing global.
    """
    from taps_spark.operators.multimodal import sample_audio_windows

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    assets = synthesize_assets(docs).filter(F.col("modality") == "audio")
    win = sample_audio_windows(assets, window_ms=1000, max_windows=8)
    from pyspark.sql import Window

    r = win.select(
        "asset_id", "window_idx",
        F.round(F.col("rms") * 10000).cast("long").alias("rms_tt"),
    )
    act = r.filter(F.col("rms_tt") >= 5000)
    wspec = Window.partitionBy("asset_id").orderBy("window_idx")
    brk = act.select(
        "asset_id", "window_idx", "rms_tt",
        F.when(
            F.lag("window_idx").over(wspec).isNull()
            | (F.col("window_idx") - F.lag("window_idx").over(wspec) > 1),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("b"),
    )
    seg = brk.select(
        "asset_id", "window_idx", "rms_tt",
        F.sum("b").over(wspec).alias("segment_id"),
    )
    return (
        seg.groupBy("asset_id", "segment_id")
        .agg(
            (F.min("window_idx").cast("long") * 1000).alias("start_ms"),
            ((F.max("window_idx") + 1).cast("long") * 1000).alias("end_ms"),
            F.count(F.lit(1)).alias("n_windows"),
            F.expr("(SUM(rms_tt) * 1000) div (COUNT(*) * 10000)").alias(
                "mean_rms_milli"
            ),
        )
        .select(
            "asset_id",
            F.col("segment_id").cast("int").alias("segment_id"),
            "start_ms", "end_ms", "n_windows", "mean_rms_milli",
        )
        .orderBy("asset_id", "segment_id")
    )


RELEASE_DIFF_ORACLE = """
WITH v1 AS (
  SELECT doc_id, source, MD5(text) AS h
  FROM documents WHERE doc_id % 7 <> 0
),
v2 AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 5 = 0 THEN MD5(UPPER(text)) ELSE MD5(text) END AS h
  FROM documents
),
j AS (
  SELECT COALESCE(v2.source, v1.source) AS source,
         CASE
           WHEN v1.doc_id IS NULL THEN 'added'
           WHEN v2.doc_id IS NULL THEN 'removed'
           WHEN v1.h <> v2.h THEN 'changed'
           ELSE 'unchanged'
         END AS st
  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
)
SELECT source,
       CAST(SUM(CASE WHEN st = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       CAST(SUM(CASE WHEN st = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(SUM(CASE WHEN st = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       CAST(SUM(CASE WHEN st = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unchanged
FROM j
GROUP BY source
ORDER BY source
"""


@query("pipeline_release_diff", oracle=RELEASE_DIFF_ORACLE)
def pipeline_release_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-to-release corpus diff: added / removed / changed /
    unchanged document counts per source between two dataset
    versions, keyed by doc_id with content compared by hash — the
    audit every dataset release ships next to its fingerprint
    (pipeline_release_fingerprint says WHAT a release is;
    this says what MOVED between two of them).

    The two versions are derived deterministically from the one
    fixture (v1 drops every 7th doc, v2 rewrites every 5th) so the
    diff logic — full outer join on the stable key, hash compare,
    4-way classification, source-grain fold — is oracle-pinned
    end-to-end; against real releases only the two scan sources
    change.

    Scale: ONE full outer hash join on the stable doc key (both
    sides shuffle-partitioned on it — at 100 TB both releases would
    be stored bucketed by doc_id making the join exchange-free),
    then a map-side-combined source-grain fold. Content never moves
    — only (id, source, hash) triples.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    v1 = docs.filter(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("id1"), F.col("source").alias("src1"),
        F.md5("text").alias("h1"),
    )
    v2 = docs.select(
        F.col("doc_id").alias("id2"), F.col("source").alias("src2"),
        F.when(
            F.col("doc_id") % 5 == 0, F.md5(F.upper(F.col("text")))
        ).otherwise(F.md5("text")).alias("h2"),
    )
    j = v1.join(v2, F.col("id1") == F.col("id2"), "full_outer").select(
        F.coalesce(F.col("src2"), F.col("src1")).alias("source"),
        F.when(F.col("id1").isNull(), F.lit("added"))
        .when(F.col("id2").isNull(), F.lit("removed"))
        .when(F.col("h1") != F.col("h2"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("st"),
    )
    return (
        j.groupBy("source")
        .agg(
            F.sum((F.col("st") == "added").cast("int")).cast("long").alias("n_added"),
            F.sum((F.col("st") == "removed").cast("int")).cast("long").alias("n_removed"),
            F.sum((F.col("st") == "changed").cast("int")).cast("long").alias("n_changed"),
            F.sum((F.col("st") == "unchanged").cast("int")).cast("long").alias("n_unchanged"),
        )
        .orderBy("source")
    )


@query("text_compression_ratio")  # rows-only: zlib is not ANSI-SQL
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source compression-ratio profile: mean/min/max zlib ratio
    (integer ten-thousandths) over documents — the cheapest
    repetition/boilerplate screen a pretraining filter runs (pairs
    with text_repetition: that one counts repeated n-grams, this one
    prices the WHOLE redundancy structure at C speed).

    Rows-only by design (zlib has no DuckDB twin); semantics pinned
    by tests/test_round9_invariants.py: ratios bounded, repeated
    text compresses strictly below shuffled-diverse text, and the
    map is deterministic across runs.

    Scale: map-only Arrow expansion to (doc, ratio) then a
    source-grain fold — no shuffle beyond |sources| partials.
    """
    from taps_spark.operators.text import compression_ratio

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    r = compression_ratio(docs)
    src = docs.select("doc_id", "source")
    return (
        r.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("SUM(ratio_tt) div COUNT(*)").alias("mean_ratio_tt"),
            F.min("ratio_tt").alias("min_ratio_tt"),
            F.max("ratio_tt").alias("max_ratio_tt"),
        )
        .orderBy("source")
    )


HAPAX_ORACLE = """
WITH tok AS (
  SELECT source, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS w
  FROM documents
),
vocab AS (
  SELECT w, COUNT(*)::BIGINT AS global_c FROM tok WHERE w <> '' GROUP BY w
),
per_source AS (
  SELECT source, w, COUNT(*)::BIGINT AS c FROM tok WHERE w <> '' GROUP BY source, w
)
SELECT ps.source,
       CAST(SUM(ps.c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN v.global_c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hapax_types,
       CAST(SUM(CASE WHEN v.global_c = 1 THEN ps.c ELSE 0 END) AS BIGINT)
         AS n_hapax_tokens,
       CAST(FLOOR(CAST(SUM(CASE WHEN v.global_c = 1 THEN ps.c ELSE 0 END) AS DOUBLE)
                  / CAST(SUM(ps.c) AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
         AS hapax_token_ppm
FROM per_source ps JOIN vocab v ON ps.w = v.w
GROUP BY ps.source
ORDER BY ps.source
"""


@query("text_hapax_share", oracle=HAPAX_ORACLE)
def text_hapax_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomena share per source: how much of each source's
    token mass is words that occur EXACTLY ONCE in the whole corpus —
    the classic OCR-noise / machine-gibberish / tokenizer-blowup
    signal (a healthy natural-language source runs ~40-60% hapax
    TYPES but a low single-digit ppm of TOKEN mass; a corrupted shard
    spikes both). Complements text_heaps_law (vocabulary GROWTH) and
    text_term_burstiness (dispersion) with the frequency-spectrum
    floor; §2c text-analysis extension, reference has no text surface.

    Determinism: pure integer counts end-to-end; the one ppm ratio is
    a fixed FLOOR(x*1e6+0.5) fold over two exact BIGINTs.

    Scale: map-only HOF tokenization (no explode of raw text rows
    until the token grain, which map-side combines), one token-grain
    shuffle for the global vocabulary, one (source, token)-grain
    shuffle, then a broadcast-sized join of the per-source marginals
    against the vocabulary at token grain (shuffle join on the
    already-aggregated grains — never row-scale). Output is
    |sources| rows.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tok = docs.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("global_c"))
    per_source = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    j = per_source.join(vocab, "w")
    hap = F.when(F.col("global_c") == 1, F.col("c")).otherwise(F.lit(0))
    hap_t = F.when(F.col("global_c") == 1, F.lit(1)).otherwise(F.lit(0))
    g = j.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(hap_t).alias("n_hapax_types"),
        F.sum(hap).alias("n_hapax_tokens"),
    )
    return g.select(
        "source",
        "n_tokens",
        "n_types",
        "n_hapax_types",
        "n_hapax_tokens",
        F.floor(
            F.col("n_hapax_tokens").cast("double")
            / F.col("n_tokens").cast("double")
            * 1000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("hapax_token_ppm"),
    ).orderBy("source")


KN_BIGRAM_ORACLE = """
WITH tokp AS (
  SELECT doc_id, lang,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok,
         generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1) AS pos
  FROM documents
),
big AS MATERIALIZED (
  SELECT a.doc_id, a.lang, a.tok AS w1, b.tok AS w2
  FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
model AS MATERIALIZED (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM big GROUP BY w1, w2
),
ctx AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
         CAST(COUNT(*) AS BIGINT) AS n1f
  FROM model GROUP BY w1
),
cont AS (
  SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b FROM model GROUP BY w2
),
btypes AS (SELECT CAST(COUNT(*) AS DOUBLE) AS bt FROM model),
scored AS (
  SELECT g.doc_id, g.lang,
         CAST(FLOOR((-LOG10(
             (CAST(m.c12 AS DOUBLE) - 0.75) / CAST(c.c1 AS DOUBLE)
             + (0.75 * CAST(c.n1f AS DOUBLE) / CAST(c.c1 AS DOUBLE))
               * (CAST(k.n1b AS DOUBLE) / b.bt)
           ) / LOG10(2)) * 1000000000 + 0.5) AS DECIMAL(38,0)) AS q
  FROM big g
  JOIN model m ON m.w1 = g.w1 AND m.w2 = g.w2
  JOIN ctx c ON c.w1 = g.w1
  JOIN cont k ON k.w2 = g.w2
  CROSS JOIN btypes b
)
SELECT doc_id, lang,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(FLOOR((CAST(SUM(q) AS DOUBLE)
                   / (CAST(COUNT(*) AS DOUBLE) * 1000000000))
                  * 1000 + 0.5) AS BIGINT) AS kn_bits_per_token_milli
FROM scored
GROUP BY doc_id, lang
ORDER BY doc_id
"""


@query("text_kn_bigram_bits", oracle=KN_BIGRAM_ORACLE)
def text_kn_bigram_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney bigram cross-entropy per document
    (absolute discount D = 0.75, bits per token) — the PRODUCTION
    n-gram smoothing, one step past text_bigram_lm_bits' add-one: KN
    discounts every observed bigram by a fixed D and redistributes the
    held-out mass via CONTINUATION counts (in how many distinct
    contexts does w appear?), so boilerplate tokens that occur often
    in ONE context stop inflating unrelated documents' scores. The
    perplexity-gate ranking this produces is the one KenLM-style
    corpus filters actually use.

    p(w₂|w₁) = (c₁₂ − D)/c₁ + (D·N₁₊(w₁·)/c₁) · N₁₊(·w₂)/|bigram
    types| — every document is scored against the corpus-trained
    model, so c₁₂ ≥ 1 and no zero/backoff path exists by
    construction.

    Scale: identical plan family to text_bigram_lm_bits — map-only
    bigram zip per doc (the oracle uses the positional-join form,
    same values), three vocabulary-grain model aggregates broadcast
    back onto the stream, Python never touches the path. At 100 TB
    the model tables are the classic "train once, broadcast to
    score" artifacts; only the per-doc stream scales.

    Determinism: counts are exact integers end-to-end; the per-bigram
    probability is ONE fixed IEEE parse tree over exactly-agreed
    integers, its −log₂ nano-quantized per term and summed exactly in
    DECIMAL(38,0) (the unigram/bigram LM recipe, operators/numeric).
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = docs.select("doc_id", "lang", tokens("text").alias("t")).filter(
        F.size("t") >= 2
    )
    big = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(t[i - 1] AS w1, t[i] AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "lang", "bg.w1", "bg.w2")
    model = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    ctx = model.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"), F.count("*").alias("n1f")
    )
    cont = model.groupBy("w2").agg(F.count("*").alias("n1b"))
    btypes = model.agg(F.count("*").cast("double").alias("bt"))
    from taps_spark.operators.numeric import exact_mean_scaled, quantize_nano

    p = (F.col("c12").cast("double") - 0.75) / F.col("c1").cast("double") + (
        0.75 * F.col("n1f").cast("double") / F.col("c1").cast("double")
    ) * (F.col("n1b").cast("double") / F.col("bt"))
    scored = (
        big.join(F.broadcast(model), ["w1", "w2"])
        .join(F.broadcast(ctx), "w1")
        .join(F.broadcast(cont), "w2")
        .join(F.broadcast(btypes))
        .select(
            "doc_id",
            "lang",
            quantize_nano(-F.log10(p) / F.log10(F.lit(2.0))).alias("q"),
        )
    )
    return (
        scored.groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_bigrams"), F.sum("q").alias("sq"))
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            exact_mean_scaled(F.col("sq"), F.col("n_bigrams"), 1000).alias(
                "kn_bits_per_token_milli"
            ),
        )
        .orderBy("doc_id")
    )


NGRAM_ENTROPY_ORACLE = """
WITH tokp AS (
  SELECT doc_id, lang,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok,
         generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1) AS pos
  FROM documents
),
big AS MATERIALIZED (
  SELECT a.lang, a.tok AS w1, b.tok AS w2
  FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
model AS MATERIALIZED (
  SELECT lang, w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM big GROUP BY lang, w1, w2
),
ctx AS (
  SELECT lang, w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM model GROUP BY lang, w1
),
nb AS (SELECT lang, CAST(SUM(c12) AS BIGINT) AS n FROM model GROUP BY lang),
uni AS (
  SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c FROM tokp GROUP BY lang, tok
),
nu AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM uni GROUP BY lang),
hu AS (
  SELECT uni.lang,
         SUM(CAST(FLOOR((CAST(uni.c AS DOUBLE) / CAST(nu.n AS DOUBLE))
                        * (LOG10(CAST(nu.n AS DOUBLE) / CAST(uni.c AS DOUBLE))
                           / LOG10(2))
                        * 1000000000 + 0.5) AS DECIMAL(38,0))) AS q
  FROM uni JOIN nu ON uni.lang = nu.lang
  GROUP BY uni.lang
),
hb AS (
  SELECT m.lang,
         SUM(CAST(FLOOR((CAST(m.c12 AS DOUBLE) / CAST(nb.n AS DOUBLE))
                        * (LOG10(CAST(c.c1 AS DOUBLE) / CAST(m.c12 AS DOUBLE))
                           / LOG10(2))
                        * 1000000000 + 0.5) AS DECIMAL(38,0))) AS q
  FROM model m
  JOIN ctx c ON c.lang = m.lang AND c.w1 = m.w1
  JOIN nb ON nb.lang = m.lang
  GROUP BY m.lang
)
SELECT hu.lang,
       nu.n AS n_tokens,
       CAST(FLOOR(CAST(hu.q AS DOUBLE) / 1000000000 * 1000 + 0.5) AS BIGINT)
         AS h_unigram_milli_bits,
       CAST(FLOOR(CAST(hb.q AS DOUBLE) / 1000000000 * 1000 + 0.5) AS BIGINT)
         AS h_bigram_cond_milli_bits
FROM hu
JOIN hb ON hb.lang = hu.lang
JOIN nu ON nu.lang = hu.lang
ORDER BY hu.lang
"""


@query("text_ngram_entropy_rate", oracle=NGRAM_ENTROPY_ORACLE)
def text_ngram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus entropy rate per language: unigram entropy H(W) and the
    bigram CONDITIONAL entropy H(W₂|W₁) = Σ p(w₁w₂)·log₂(c₁/c₁₂) —
    the pair whose gap (mutual information between adjacent tokens)
    measures how much sequential structure a corpus has, the signal
    that separates natural prose from shuffled-token keyword soup at
    CORPUS grain (text_bigram_lm_bits scores individual docs; this
    scores the language slice itself, the number a mixture designer
    compares across sources before weighting them).

    Exactness: both entropies fold vocabulary-grain terms — exact
    integer counts through one fixed log₁₀-ratio tree — nano-quantized
    per TERM and summed in DECIMAL(38,0) (the LM recipe); the term
    grain is (lang, w₁, w₂), so the sum has one addend per bigram
    TYPE, not per token.

    Scale: after the map-only bigram zip, everything is
    vocabulary-grain (model/ctx aggregates with map-side combine);
    the corpus stream is read once, and the entropy fold touches
    |bigram types| rows — the classic sufficient-statistics shape.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    from taps_spark.operators.numeric import quantize_nano

    toks = docs.select("doc_id", "lang", tokens("text").alias("t"))
    uni = (
        toks.select("lang", F.explode("t").alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("c"))
    )
    nu = uni.groupBy("lang").agg(F.sum("c").cast("long").alias("n"))
    hu = (
        uni.join(F.broadcast(nu), "lang")
        .select(
            "lang",
            quantize_nano(
                (F.col("c").cast("double") / F.col("n").cast("double"))
                * (
                    F.log10(F.col("n").cast("double") / F.col("c").cast("double"))
                    / F.log10(F.lit(2.0))
                )
            ).alias("q"),
        )
        .groupBy("lang")
        .agg(F.sum("q").alias("q"))
    )
    big = (
        toks.filter(F.size("t") >= 2)
        .select(
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(t[i - 1] AS w1, t[i] AS w2))"
                )
            ).alias("bg"),
        )
        .select("lang", "bg.w1", "bg.w2")
    )
    model = big.groupBy("lang", "w1", "w2").agg(F.count("*").alias("c12"))
    ctx = model.groupBy("lang", "w1").agg(F.sum("c12").cast("long").alias("c1"))
    nb = model.groupBy("lang").agg(F.sum("c12").cast("long").alias("n"))
    hb = (
        model.join(F.broadcast(ctx), ["lang", "w1"])
        .join(F.broadcast(nb), "lang")
        .select(
            "lang",
            quantize_nano(
                (F.col("c12").cast("double") / F.col("n").cast("double"))
                * (
                    F.log10(
                        F.col("c1").cast("double") / F.col("c12").cast("double")
                    )
                    / F.log10(F.lit(2.0))
                )
            ).alias("q"),
        )
        .groupBy("lang")
        .agg(F.sum("q").alias("q"))
    )
    fold = lambda col: F.floor(  # noqa: E731
        col.cast("double") / 1000000000 * 1000 + 0.5
    ).cast("long")
    return (
        hu.select("lang", fold(F.col("q")).alias("h_unigram_milli_bits"))
        .join(
            hb.select("lang", fold(F.col("q")).alias("h_bigram_cond_milli_bits")),
            "lang",
        )
        .join(nu.select("lang", F.col("n").alias("n_tokens")), "lang")
        .select(
            "lang",
            "n_tokens",
            "h_unigram_milli_bits",
            "h_bigram_cond_milli_bits",
        )
        .orderBy("lang")
    )


MIX_TEMPERATURE_ORACLE = """
WITH src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(LEN(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM src),
w AS (
  SELECT source, n_docs, n_tokens,
         CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE) / CAST(tot.t AS DOUBLE))
                    * 1000000000 + 0.5) AS DECIMAL(38,0)) AS wq,
         tot.t AS t
  FROM src CROSS JOIN tot
),
sw AS (SELECT SUM(wq) AS swq FROM w)
SELECT w.source, w.n_docs, w.n_tokens,
       CAST(FLOOR(CAST(w.n_tokens AS DOUBLE) / CAST(w.t AS DOUBLE)
                  * 1000000 + 0.5) AS BIGINT) AS share_ppm,
       CAST(FLOOR(CAST(w.wq AS DOUBLE) / CAST(sw.swq AS DOUBLE)
                  * 1000000 + 0.5) AS BIGINT) AS temp_share_ppm,
       CAST(FLOOR((CAST(w.wq AS DOUBLE) / CAST(sw.swq AS DOUBLE))
                  / (CAST(w.n_tokens AS DOUBLE) / CAST(w.t AS DOUBLE))
                  * 1000 + 0.5) AS BIGINT) AS rate_x1000
FROM w CROSS JOIN sw
ORDER BY w.source
"""


@query("pipeline_mix_temperature", oracle=MIX_TEMPERATURE_ORACLE)
def pipeline_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing at τ = 0.5: target share
    qᵢ ∝ pᵢ^τ — the standard multilingual/multisource rebalancing
    (mBERT/mT5 exponent-sampling) that upweights small sources without
    letting them dominate; τ = 0.5 makes the exponent an exact SQRT
    (the determinism laws ban POWER, and τ = 0.5 is in the range
    actually used, 0.3–0.7). Complements pipeline_mix_plan (explicit
    target shares) with the parameterized closed-form policy; the
    rate_x1000 column is the per-source sampling multiplier a
    dataloader applies.

    Exactness: token shares are single divisions of exact integers;
    each √pᵢ is nano-quantized to DECIMAL(38,0) BEFORE the
    normalization sum, so Σwᵢ is order-independent (the unordered-
    double-sum law — 20 sources would otherwise fold in engine order).

    Scale: one source-grain aggregate (map-side combined) over a
    map-only token count; everything after is |sources| rows.
    """
    from taps_spark.operators.numeric import quantize_nano

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    src = docs.select("source", F.size(tokens("text")).alias("nt")).groupBy(
        "source"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
    )
    tot = src.agg(F.sum("n_tokens").cast("long").alias("t"))
    w = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        "t",
        quantize_nano(
            F.sqrt(F.col("n_tokens").cast("double") / F.col("t").cast("double"))
        ).alias("wq"),
    )
    sw = w.agg(F.sum("wq").alias("swq"))
    return (
        w.crossJoin(F.broadcast(sw))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.floor(
                F.col("n_tokens").cast("double") / F.col("t").cast("double")
                * 1000000
                + 0.5
            )
            .cast("long")
            .alias("share_ppm"),
            F.floor(
                F.col("wq").cast("double") / F.col("swq").cast("double") * 1000000
                + 0.5
            )
            .cast("long")
            .alias("temp_share_ppm"),
            F.floor(
                (F.col("wq").cast("double") / F.col("swq").cast("double"))
                / (F.col("n_tokens").cast("double") / F.col("t").cast("double"))
                * 1000
                + 0.5
            )
            .cast("long")
            .alias("rate_x1000"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Round 12: readability scoring + shuffle-salt planning.
# ---------------------------------------------------------------------------

READABILITY_ORACLE = """
WITH m AS (
  SELECT lang,
         CAST(LENGTH(regexp_split_to_array(TRIM(text), '\\s+')) AS BIGINT) AS w,
         CAST(GREATEST(LENGTH(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS s,
         CAST(GREATEST(LENGTH(regexp_extract_all(LOWER(text), '[aeiouy]+')), 1) AS BIGINT) AS syl
  FROM documents
),
d AS (
  SELECT lang, w, s, syl,
         206835000 - (1015000 * w) // s - (84600000 * syl) // w AS ease_ppm,
         (390000 * w) // s + (11800000 * syl) // w - 15590000 AS grade_ppm
  FROM m
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(w) AS BIGINT) AS total_words,
       CAST(SUM(syl) * 1000000 // SUM(w) AS BIGINT) AS syllables_per_word_ppm,
       CAST(SUM(ease_ppm) // COUNT(*) AS BIGINT) AS mean_ease_ppm,
       CAST(SUM(grade_ppm) // COUNT(*) AS BIGINT) AS mean_grade_ppm,
       CAST(MIN(ease_ppm) AS BIGINT) AS min_ease_ppm,
       CAST(MAX(ease_ppm) AS BIGINT) AS max_ease_ppm
FROM d
GROUP BY lang
ORDER BY lang
"""


@query("text_readability", oracle=READABILITY_ORACLE)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease / Flesch–Kincaid grade per language —
    the classic readability gate next to the repo's length/stopword
    quality features (a corpus whose mean grade drifts is changing
    register, not just vocabulary).

    Syllables are approximated by vowel-group runs ([aeiouy]+), the
    standard portable proxy; sentences by terminal-punctuation runs
    (floored at 1 — the fixture's word-salad docs have none).

    Determinism: both scores are evaluated PER DOC in scaled ppm
    integers (the Flesch constants 206.835 / 1.015 / 84.6 and FK's
    0.39 / 11.8 / 15.59 become exact integer coefficients), so every
    mean is a floor division of exact BIGINT sums — no float
    anywhere. Regex surface is character classes only (identical
    semantics in Java regex and RE2).

    Scale: map-only per-doc feature extraction (JVM regex, no UDF)
    into a map-side-combined per-lang fold; nothing shuffles but the
    |langs|-row grid.
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    m = docs.select(
        "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("w"),
        F.greatest(
            F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
        )
        .cast("long")
        .alias("s"),
        F.greatest(
            F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")),
            F.lit(1),
        )
        .cast("long")
        .alias("syl"),
    )
    d = m.select(
        "lang",
        "w",
        "s",
        "syl",
        F.expr(
            "206835000 - (1015000 * w) div s - (84600000 * syl) div w"
        ).alias("ease_ppm"),
        F.expr(
            "(390000 * w) div s + (11800000 * syl) div w - 15590000"
        ).alias("grade_ppm"),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("w").cast("long").alias("total_words"),
            F.expr("CAST(SUM(syl) * 1000000 div SUM(w) AS BIGINT)").alias(
                "syllables_per_word_ppm"
            ),
            F.expr("CAST(SUM(ease_ppm) div COUNT(*) AS BIGINT)").alias("mean_ease_ppm"),
            F.expr("CAST(SUM(grade_ppm) div COUNT(*) AS BIGINT)").alias(
                "mean_grade_ppm"
            ),
            F.min("ease_ppm").cast("long").alias("min_ease_ppm"),
            F.max("ease_ppm").cast("long").alias("max_ease_ppm"),
        )
        .orderBy("lang")
    )


SALT_PLAN_ORACLE = """
WITH f AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total,
         CAST((SUM(n) + 199) // 200 AS BIGINT) AS target
  FROM f
),
hot AS (
  SELECT f.user_id, f.n,
         CAST((f.n + t.target - 1) // t.target AS BIGINT) AS salt_factor,
         CAST((f.n + (f.n + t.target - 1) // t.target - 1)
              // ((f.n + t.target - 1) // t.target) AS BIGINT) AS post_salt_chunk
  FROM f CROSS JOIN tot t
  WHERE f.n > t.target
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_salted_keys,
         CAST(COALESCE(MAX(post_salt_chunk), 0) AS BIGINT) AS max_post_salt_chunk,
         CAST(COALESCE(SUM(salt_factor), 0) AS BIGINT) AS total_salt_tasks
  FROM hot
)
SELECT h.user_id, h.n, h.salt_factor, h.post_salt_chunk,
       t.total, t.target, s.n_salted_keys, s.max_post_salt_chunk, s.total_salt_tasks
FROM hot h CROSS JOIN tot t CROSS JOIN s
ORDER BY h.n DESC, h.user_id
"""


@query("pipeline_salt_plan", oracle=SALT_PLAN_ORACLE)
def pipeline_salt_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-salt planning from the key histogram: given a target
    partition load (total/200 — one ideal task's share), every key
    exceeding it gets a salt factor ⌈n/target⌉ and the plan reports
    the resulting worst post-salt chunk — the *planning* half of the
    hot-key defense that join_salted_skew *executes* with a fixed 8×
    factor. At 100 TB this plan is computed from a cheap count pass
    (or sampled statistics) and drives per-key explode factors, so
    uniform keys pay no replication at all.

    Determinism: ceilings via (a + b − 1) div b in BIGINTs.

    Scale: one map-side-combined count by key; the hot-key filter is
    broadcast-joined against the 1-row total; output is |hot keys|.
    """
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    f = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = f.agg(
        F.sum("n").cast("long").alias("total"),
        F.expr("CAST((SUM(n) + 199) div 200 AS BIGINT)").alias("target"),
    )
    hot = (
        f.crossJoin(F.broadcast(tot))
        .filter(F.col("n") > F.col("target"))
        .select(
            "user_id",
            "n",
            F.expr("CAST((n + target - 1) div target AS BIGINT)").alias("salt_factor"),
            F.expr(
                "CAST((n + (n + target - 1) div target - 1) "
                "div ((n + target - 1) div target) AS BIGINT)"
            ).alias("post_salt_chunk"),
            "total",
            "target",
        )
    )
    s = hot.agg(
        F.count(F.lit(1)).cast("long").alias("n_salted_keys"),
        F.coalesce(F.max("post_salt_chunk"), F.lit(0)).cast("long").alias(
            "max_post_salt_chunk"
        ),
        F.coalesce(F.sum("salt_factor"), F.lit(0)).cast("long").alias(
            "total_salt_tasks"
        ),
    )
    return (
        hot.crossJoin(F.broadcast(s))
        .select(
            "user_id",
            "n",
            "salt_factor",
            "post_salt_chunk",
            "total",
            "target",
            "n_salted_keys",
            "max_post_salt_chunk",
            "total_salt_tasks",
        )
        .orderBy(F.col("n").desc(), "user_id")
    )
