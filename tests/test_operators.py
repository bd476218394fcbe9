"""Semantic unit tests for operators whose queries have rows-only
driver checks (simhash, LSH ANN) plus targeted edge cases for the
oracle-gated ones."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from taps_spark.io.tables import load_table
from taps_spark.operators.dedup import simhash64
from taps_spark.operators.relational import asof_join
from taps_spark.operators.similarity import cosine, topk_bruteforce, topk_lsh


@pytest.mark.parametrize("salt", ["", "s2_"])  # second-seed re-gate (r7 #6)
def test_simhash_identical_docs_collide(spark, salt):
    a = f"{salt}spark {salt}join {salt}window {salt}table"
    b = f"{salt}zz {salt}qq {salt}ww {salt}ee"
    df = spark.createDataFrame(
        [(1, a), (2, a), (3, b)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["simhash"] for r in simhash64(df, "doc_id", "text").collect()}
    assert out[1] == out[2], "identical token sets must share a simhash"
    assert out[1] != out[3], "disjoint token sets should differ"


@pytest.mark.parametrize("salt", ["", "v2"])  # second-seed re-gate (r7 #6)
def test_simhash_near_duplicates_are_close(spark, salt):
    base = f"the quick brown fox{salt} jumps over the lazy dog again and again today"
    near = base + " extra"
    df = spark.createDataFrame([(1, base), (2, near)], "doc_id long, text string")
    out = {r["doc_id"]: r["simhash"] for r in simhash64(df, "doc_id", "text").collect()}
    hamming = bin(out[1] ^ out[2]).count("1")
    assert hamming <= 16, f"one-token edit should stay hamming-close, got {hamming}"


def test_cosine_expression_basics(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], [1.0, 0.0]), (2, [1.0, 0.0], [0.0, 1.0]), (3, [1.0, 1.0], [2.0, 2.0])],
        "id long, a array<double>, b array<double>",
    )
    rows = {r["id"]: r["c"] for r in df.select("id", F.round(cosine(F.col("a"), F.col("b")), 6).alias("c")).collect()}
    assert rows[1] == 1.0 and rows[2] == 0.0 and rows[3] == 1.0


def test_lsh_ann_is_subset_of_bruteforce_candidates(spark, any_sf_dir):
    sf_dir = any_sf_dir  # second-seed re-gate (VERDICT r7 task #6)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = topk_bruteforce(emb, queries, k=50)
    approx = topk_lsh(emb, queries, k=50)
    # Every ANN result must be a real (q, neighbor) scored pair whose
    # score matches the exact computation — LSH changes RECALL, never
    # the scores it does return.
    ex = {(r["q_id"], r["neighbor_id"]): r["score"] for r in exact.collect()}
    for r in approx.collect():
        key = (r["q_id"], r["neighbor_id"])
        if key in ex:  # rank cutoff may differ; compare where both exist
            assert abs(ex[key] - r["score"]) < 1e-9


def test_asof_join_tie_and_no_match_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 50), (3, 99, 100)], "event_id long, k long, t long"
    ).select("event_id", F.col("k").alias("__key"), F.col("t"))
    right = spark.createDataFrame(
        [(10, 100, 7), (10, 100, 8), (10, 60, 5)], "k long, t long, rid long"
    ).select(F.col("k").alias("__key"), F.col("t").alias("rt"), "rid")
    out = asof_join(
        left, right, key="__key", left_time="t", right_time="rt", right_value_cols=["rid"]
    )
    got = {r["event_id"]: r["asof_rid"] for r in out.collect()}
    # t=100 ties two right rows (rid 7,8) → max tiebreak wins; <= includes equal ts.
    assert got[1] == 8
    # earliest right time for key 10 is 60 > 50 → nothing as-of t=50.
    assert got[2] is None
    # key with no right rows at all → NULL
    assert got[3] is None


def test_salted_join_equals_plain_join(spark, sf_dir):
    from taps_spark.operators.skew import salted_join

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = orders.join(customer, "o_custkey").select("o_orderkey", "c_name")
    salted = salted_join(orders, customer, "o_custkey", num_salts=8).select(
        "o_orderkey", "c_name"
    )
    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_salted_join_spreads_hot_key(spark):
    from taps_spark.operators.skew import salted_join
    from pyspark.sql import functions as F2

    # one pathological key holding 90% of rows
    hot = spark.range(9000).select(F2.lit(1).alias("k"), F2.col("id").alias("payload"))
    cold = spark.range(1000).select((F2.col("id") % 50 + 2).alias("k"), F2.col("id").alias("payload"))
    large = hot.unionByName(cold)
    dim = spark.range(60).select(F2.col("id").alias("k"), F2.concat(F2.lit("d"), F2.col("id")).alias("name"))
    out = salted_join(large, dim, "k", num_salts=8)
    assert out.count() == 10000
    # the hot key's rows must hash across >1 salt bucket
    buckets = (
        large.withColumn("__salt", F2.pmod(F2.xxhash64(*[F2.col(c) for c in large.columns]), F2.lit(8)))
        .filter(F2.col("k") == 1).select("__salt").distinct().count()
    )
    assert buckets == 8


def test_approx_aggregates_within_error_bounds(spark, any_sf_dir):
    sf_dir = any_sf_dir  # second-seed re-gate (VERDICT r7 task #6)
    from taps_spark.queries import REGISTRY, _load

    _load()
    rows = {r["l_returnflag"]: r for r in REGISTRY["agg_approx"].fn(spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("parts"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("median"),
        )
        .collect()
    }
    for flag, r in rows.items():
        assert abs(r["approx_parts"] - exact[flag]["parts"]) / exact[flag]["parts"] < 0.05
        assert abs(r["approx_median_price"] - exact[flag]["median"]) / exact[flag]["median"] < 0.05


def test_ivf_ann_recall_and_score_fidelity(spark, any_sf_dir):
    sf_dir = any_sf_dir  # second-seed re-gate (VERDICT r7 task #6)
    from taps_spark.operators.similarity import topk_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = topk_bruteforce(emb, queries, k=5)
    approx = topk_ivf(emb, queries, k=5, nlist=8, nprobe=4)
    ex = {(r["q_id"], r["neighbor_id"]): r["score"] for r in exact.collect()}
    ap = {(r["q_id"], r["neighbor_id"]): r["score"] for r in approx.collect()}
    # scores it returns are the true cosines
    for key, s in ap.items():
        if key in ex:
            assert abs(ex[key] - s) < 1e-9
    # probing half the lists must recover at least half the true top-5
    recall = len(set(ap) & set(ex)) / len(ex)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivf_full_probe_equals_bruteforce(spark, any_sf_dir):
    sf_dir = any_sf_dir  # second-seed re-gate (VERDICT r7 task #6)
    """nprobe == nlist degenerates to exact search — same result set."""
    from taps_spark.operators.similarity import topk_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {(r["q_id"], r["rank"]): r["neighbor_id"] for r in topk_bruteforce(emb, queries, k=5).collect()}
    full = {(r["q_id"], r["rank"]): r["neighbor_id"] for r in topk_ivf(emb, queries, k=5, nlist=4, nprobe=4).collect()}
    assert exact == full


def test_salted_join_rejects_outer_variants(spark):
    from taps_spark.operators.skew import salted_join

    df = spark.createDataFrame([(1, "x")], ["k", "v"])
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="unsupported"):
            salted_join(df, df, "k", how=how)


def test_connected_components_raises_when_unconverged(spark):
    from taps_spark.operators.dedup import connected_components

    # A 6-node chain needs ~3 doubling rounds; max_iters=1 cannot
    # reach the fixed point and must raise rather than return wrong
    # component labels.
    edges = spark.createDataFrame([(i, i + 1) for i in range(6)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="not converged"):
        connected_components(edges, max_iters=1)


def test_connected_components_chain_and_islands(spark):
    from taps_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (one component), pair 10-11, isolated edge 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], ["src", "dst"]
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_condensed_group_graph_semantics(spark):
    """The exact-condensation prelude: docs whose texts have the same
    distinct-token SET (any order/multiplicity/extra whitespace) form
    one group keyed by min doc_id; near-identical sets across groups
    verify as group edges; component rollup fans group sizes back out
    and excludes only true singletons."""
    from taps_spark.operators.dedup import connected_components
    from taps_spark.queries.dedup import (
        _condensed_prelude,
        _condensed_rollup,
        _verified_scores,
    )

    docs = spark.createDataFrame(
        [
            # Group A: same token set {a...j}, scrambled order + repeats.
            (1, "a b c d e f g h i j"),
            (2, "j i h g f e d c b a  a"),
            (3, "a a a b c d e f g h i j"),
            # Group B: drops j, adds k -> J(A,B) = 9/11 = 0.818 < 0.9
            # (no A-B edge at 0.9).
            (4, "a b c d e f g h i k"),
            # Group C: superset of A by one token -> J(A,C) = 10/11 =
            # 0.909 >= 0.9 (edge), and J(B,C) = 10/11 too (edge).
            (5, "a b c d e f g h i j k"),
            # Group D: exactly A's tokens again but one more doc id far away.
            (9, "b a c d e f g h i j"),
            # Singleton with disjoint tokens: excluded from output.
            (7, "x y z"),
        ],
        ["doc_id", "text"],
    )
    prelude = _condensed_prelude(docs)
    grp = prelude[0]
    gedges = _verified_scores(prelude, 0.9).filter("j >= 0.9").select("src", "dst")
    groups = {r["gid"]: (r["n_docs"], r["gmax"]) for r in grp.collect()}
    # {a..j} docs 1,2,3,9 condense into ONE group keyed gid=1.
    assert groups[1] == (4, 9)
    assert groups[4] == (1, 4) and groups[5] == (1, 5) and groups[7] == (1, 7)
    # C bridges A and B (both at J = 10/11); A-B itself is below 0.9.
    assert {(r["src"], r["dst"]) for r in gedges.collect()} == {(1, 5), (4, 5)}

    out = {
        r["component"]: (r["n_members"], r["max_member"])
        for r in _condensed_rollup(grp, connected_components(gedges)).collect()
    }
    # A+B+C chain through C into one component (4+1+1 docs, max id 9);
    # the disjoint singleton {x y z} is excluded.
    assert out == {1: (6, 9)}


def test_connected_components_converges_on_long_chain(spark):
    """A 12-node path needs ~log-diameter rounds of min propagation;
    convergence (not max_iters) must terminate it."""
    from taps_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([(i, i + 1) for i in range(12)], ["src", "dst"])
    comps = {r["component"] for r in connected_components(edges).collect()}
    assert comps == {0}


def test_word_ngrams_short_doc_guard(spark):
    # Spark's sequence(1, stop) runs DESCENDING for stop < 1; the
    # operator must return [] (not grams of a reversed index walk)
    # for docs shorter than n tokens.
    from taps_spark.operators.text import word_ngrams

    df = spark.createDataFrame(
        [("a b",), ("a b c",), ("w1 w2 w3 w4",)], ["text"]
    ).select(word_ngrams("text", 3).alias("g"))
    rows = [r.g for r in df.collect()]
    assert rows[0] == []
    assert rows[1] == ["a b c"]
    assert rows[2] == ["w1 w2 w3", "w2 w3 w4"]


def test_stratified_sample_nests_under_rate_increase(spark):
    # Raising a stratum's rate must keep every previously sampled row
    # (the nested-eval-split property df.sampleBy cannot give).
    from taps_spark.operators.profiling import stratified_hash_sample

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    small = set(
        r.doc_id
        for r in stratified_hash_sample(docs, "doc_id", "lang", {"en": 10}).select("doc_id").collect()
    )
    big = set(
        r.doc_id
        for r in stratified_hash_sample(docs, "doc_id", "lang", {"en": 30}).select("doc_id").collect()
    )
    assert small <= big and len(big) > len(small)


def test_image_resize_dimension_math(spark):
    """Aspect-fit integer math: square → 224×224, landscape/portrait
    scale the short side by exact floor division, never below 1."""
    from taps_spark.operators.multimodal import resize_images

    rows = [
        (1, "image", b"x" * 100, None),   # dims derive from payload len
        (2, "audio", b"y" * 100, None),   # non-image: dropped
        (3, "image", None, None),         # null payload: dropped
    ]
    assets = spark.createDataFrame(
        rows, "asset_id long, modality string, payload binary, meta map<string,string>"
    )
    out = {r["asset_id"]: r for r in resize_images(assets, target=224).collect()}
    assert set(out) == {1}
    r = out[1]
    w, h = r["width"], r["height"]
    if w >= h:
        assert r["new_width"] == 224 and r["new_height"] == (h * 224) // w
    else:
        assert r["new_height"] == 224 and r["new_width"] == (w * 224) // h
    assert r["new_width"] >= 1 and r["new_height"] >= 1


def test_audio_windows_cap_and_determinism(spark):
    """Window expansion honors the max-window cap, offsets step by
    window_ms, and per-window energy is deterministic across runs."""
    from taps_spark.operators.multimodal import sample_audio_windows

    assets = spark.createDataFrame(
        [(7, "audio", b"z" * 5000, None)],
        "asset_id long, modality string, payload binary, meta map<string,string>",
    )
    first = sample_audio_windows(assets, window_ms=1000, max_windows=3).collect()
    again = sample_audio_windows(assets, window_ms=1000, max_windows=3).collect()
    assert len(first) <= 3
    assert [r["start_ms"] for r in first] == [i * 1000 for i in range(len(first))]
    assert all(0.0 <= r["rms"] < 1.0 for r in first)
    assert sorted(map(tuple, first)) == sorted(map(tuple, again))


def _make_wav(seconds: float, rate: int = 8000, amp: float = 0.5, freq: float = 440.0) -> bytes:
    """Build a real mono 16-bit PCM WAV (sine wave) with stdlib only."""
    import io
    import math
    import struct
    import wave

    n = int(seconds * rate)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        frames = b"".join(
            struct.pack(
                "<h", int(amp * 32767 * math.sin(2 * math.pi * freq * i / rate))
            )
            for i in range(n)
        )
        w.writeframes(frames)
    return buf.getvalue()


def test_real_wav_decode_duration_and_rms(spark):
    """A genuine RIFF/WAV payload must take the REAL decode path:
    duration from the PCM frame count (not the byte-length stub
    formula) and per-window rms equal to the true sample RMS — a
    full-scale-amplitude sine of amp a has RMS a/sqrt(2)."""
    import math

    from taps_spark.operators.multimodal import (
        _decode_stub,
        extract_features,
        sample_audio_windows,
    )

    wav = _make_wav(seconds=3.5, rate=8000, amp=0.5)
    decoded = _decode_stub("audio", wav)
    assert decoded["duration_ms"] == 3500  # real frames/rate, not 1000+(n*13)%60000
    assert "pcm" in decoded

    assets = spark.createDataFrame(
        [(1, "audio", wav, None), (2, "audio", b"not-a-wav" * 100, None)],
        "asset_id long, modality string, payload binary, meta map<string,string>",
    )
    feats = {r["asset_id"]: r for r in extract_features(assets).collect()}
    assert feats[1]["duration_ms"] == 3500
    # Non-WAV sibling stays on the deterministic stub path.
    assert feats[2]["duration_ms"] == 1000 + (900 * 13) % 60000

    wins = {
        (r["asset_id"], r["window_idx"]): r
        for r in sample_audio_windows(assets, window_ms=1000, max_windows=8).collect()
    }
    # 3500 ms // 1000 -> 3 full windows for the real WAV.
    real = [wins[(1, i)] for i in range(3)]
    assert (1, 3) not in wins
    expected = 0.5 / math.sqrt(2)
    for r in real:
        assert abs(r["rms"] - expected) < 2e-3  # quantization of 16-bit PCM
    assert all(r["start_ms"] == i * 1000 for i, r in enumerate(real))


def test_hypertable_rollup_matches_single_level(spark):
    """Two-level rollup (hourly partials → daily) must equal a direct
    raw→daily aggregation — the invariant that makes partial reuse safe."""
    import datetime

    from pyspark.sql import functions as F

    from taps_spark.operators.events import hypertable_rollup
    from taps_spark.queries.numeric import dsum

    base = datetime.datetime(2024, 3, 1, 0, 30)
    rows = [
        (i, base + datetime.timedelta(minutes=37 * i), i % 3, "click" if i % 2 else "view",
         round(0.01 * i, 2), None)
        for i in range(200)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, "
              "value double, props string"
    )
    rolled = hypertable_rollup(ev)
    direct = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
    r = {(x["day"], x["event_type"]): (x["n_events"], x["sum_value"]) for x in rolled.collect()}
    d = {(x["day"], x["event_type"]): (x["n_events"], x["sum_value"]) for x in direct.collect()}
    assert r == d


def test_invalid_timestamps_coerce_to_null(spark):
    """Malformed datetimes load as NULL, matching the reference's
    convert_invalid_date_time = :nil behavior (never an error)."""
    from taps_spark.validation import coerce_invalid_timestamps

    df = spark.createDataFrame(
        [("2024-03-01 10:00:00",), ("0000-00-00 00:00:00",), ("not a date",), (None,)],
        "ts string",
    )
    got = [r["ts"] for r in coerce_invalid_timestamps(df, ["ts"]).collect()]
    assert got[0] is not None
    assert got[1] is None and got[2] is None and got[3] is None


@pytest.mark.parametrize("salt", ["", "x9"])  # second-seed re-gate (r7 #6)
def test_simhash_portable_is_token_set_invariant(spark, salt):
    """SimHash works on the distinct-token SET: reordering or
    repeating tokens must not change the fingerprint."""
    from taps_spark.operators.dedup import simhash_portable

    df = spark.createDataFrame(
        [
            (1, f"alpha{salt} beta gamma delta"),
            (2, f"delta gamma beta alpha{salt}"),
            (3, f"alpha{salt} alpha{salt} beta beta gamma gamma delta"),
            (4, f"alpha{salt} beta gamma epsilon"),
        ],
        "doc_id long, text string",
    )
    sig = {r["doc_id"]: r["simhash"] for r in simhash_portable(df, "doc_id", "text").collect()}
    assert sig[1] == sig[2] == sig[3]
    assert sig[4] != sig[1]


def test_hll_sketch_union_accuracy_and_merge_consistency(spark, any_sf_dir):
    sf_dir = any_sf_dir  # second-seed re-gate (VERDICT r7 task #6)
    """The mergeable-sketch contract: (1) union of daily partial
    sketches estimates within 5% of exact distinct; (2) merging
    partials equals sketching the whole column in one pass."""
    from taps_spark.io.tables import load_tables
    from taps_spark.queries.events import events_hll_sketch_union

    out = events_hll_sketch_union(spark, sf_dir).collect()
    assert out
    for r in out:
        assert r["rel_error"] <= 0.05, r

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    merged = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")
    )
    m = {r["event_type"]: r["est"] for r in merged.collect()}
    d = {r["event_type"]: r["est"] for r in direct.collect()}
    assert m == d


def test_ivf_partitioned_storage_prunes_probe_scan(spark, any_sf_dir, tmp_path):
    sf_dir = any_sf_dir  # second-seed re-gate (VERDICT r7 task #6)
    """The IVF production layout: corpus written partitioned by
    centroid_id → a probe restricted to nprobe centroids reads ONLY
    those partitions (PartitionFilters at planning time), which is
    the (nlist - nprobe)/nlist scan saving the operator docstring
    promises at 100 TB."""
    from taps_spark.operators.similarity import ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    _, corpus = ivf_index(emb, nlist=8, iters=1)
    path = str(tmp_path / "ivf_corpus")
    corpus.write.partitionBy("centroid_id").parquet(path)

    probe = spark.read.parquet(path).filter(F.col("centroid_id").isin([1, 3]))
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = probe._jdf.queryExecution().explainString(mode)
    assert "PartitionFilters" in plan and "centroid_id" in plan.split("PartitionFilters")[1].split("]")[0]
    # Pruned read returns exactly the two lists' members.
    expected = corpus.filter(F.col("centroid_id").isin([1, 3])).count()
    assert probe.count() == expected > 0


def test_keyed_lloyd_equals_keyless(spark, sf_dir):
    """PQ trains its per-subspace codebooks through the keyed Lloyd
    trainer and encodes through the keyed argmin; with one constant
    key group both must reproduce the keyless (IVF) run exactly."""
    from taps_spark.operators.similarity import (
        as_double,
        assign_nearest_centroid,
        train_ivf_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dv = emb.select(F.col("vec_id").alias("_id"), as_double(F.col("embedding")).alias("v"))
    keyed = dv.select("_id", F.lit(0).alias("s"), "v")
    plain = train_ivf_centroids(dv, 8, iters=2)
    by_s = train_ivf_centroids(keyed, 8, iters=2, keys=("s",))
    assert sorted(map(tuple, by_s.select("s", "centroid_id", "cv").collect())) == sorted(
        (0, r["centroid_id"], r["cv"]) for r in plain.collect()
    )
    assigned = assign_nearest_centroid(dv, plain).select("_id", "centroid_id")
    assigned_s = assign_nearest_centroid(keyed, by_s, keys=("s",)).select("_id", "centroid_id")
    assert sorted(map(tuple, assigned_s.collect())) == sorted(map(tuple, assigned.collect()))


#: Build jobs and total jobs (build + toPandas) of the Lloyd queries
#: at the test SF. The codebook seeds rank map-side inside the first
#: broadcast build, so training runs no driver collect of its own.
LLOYD_JOBS = {
    "similarity_ann_ivf": (3, 12),
    "similarity_ann_pq": (8, 19),
    "dedup_semantic_clusters": (9, 16),
    "similarity_ivf_recall_sweep": (9, 27),
}


@pytest.mark.parametrize("name", sorted(LLOYD_JOBS))
def test_lloyd_query_job_counts(spark, sf_dir, name):
    from taps_spark.queries import REGISTRY, _load

    _load()
    jobs = lambda: spark.sparkContext._jsc.sc().dagScheduler().nextJobId()  # noqa: E731
    j = jobs()
    df = REGISTRY[name].fn(spark, sf_dir)
    built = jobs() - j
    df.toPandas()
    total = jobs() - j
    max_built, max_total = LLOYD_JOBS[name]
    assert built <= max_built and total <= max_total, (built, total)


def test_connected_components_star_matches_propagation(spark):
    """large-star/small-star must produce byte-identical components to
    min-label propagation on a graph mixing the shapes that stress
    each: a chain (diameter), a clique (density), an isolated pair,
    and a star already rooted at its max (forces reorientation)."""
    from taps_spark.operators.dedup import connected_components, connected_components_star

    chain = [(i, i + 1) for i in range(10)]
    clique = [(a, b) for a in range(100, 105) for b in range(a + 1, 105)]
    pair = [(200, 201)]
    rooted_high = [(310, 300), (310, 301), (310, 302)]
    edges = spark.createDataFrame(chain + clique + pair + rooted_high, ["src", "dst"])
    a = sorted(map(tuple, connected_components(edges, max_iters=30).collect()))
    b = sorted(map(tuple, connected_components_star(edges).collect()))
    assert a == b
    comps = {c for _, c in b}
    assert comps == {0, 100, 200, 300}


def test_cc_query_equals_propagation_on_fixture(spark, sf_dir):
    """The registered dedup_connected_components query rides star
    contraction (r10 VERDICT task #1: propagation cost 45.3 s at
    sf0.1 — 4.5× star — on the same oracle); this pin proves the
    retired propagation baseline still produces byte-identical
    cluster rollups on the REAL fixture's condensed group graph, so
    the routing swap can never silently change results."""
    from taps_spark.operators.dedup import connected_components
    from taps_spark.queries.dedup import (
        _condensed_rollup,
        _lsh_prelude,
        _verified_scores,
        dedup_connected_components,
    )

    registered = sorted(
        map(tuple, dedup_connected_components(spark, sf_dir).collect())
    )
    prelude = _lsh_prelude(spark, sf_dir)
    grp = prelude[0]
    gedges = _verified_scores(prelude, 0.9).filter("j >= 0.9").select("src", "dst")
    baseline = sorted(
        map(tuple, _condensed_rollup(grp, connected_components(gedges)).collect())
    )
    assert registered == baseline and len(registered) > 0


def test_connected_components_star_converges_on_long_chain(spark):
    """The scale differentiator: a 120-node chain converges in
    O(log² n) star rounds — far under the 15-round cap that distance
    propagation (O(diameter) = 120 rounds) could never meet."""
    from taps_spark.operators.dedup import connected_components_star

    edges = spark.createDataFrame([(i, i + 1) for i in range(120)], ["src", "dst"])
    comp = connected_components_star(edges, max_iters=15)
    rows = comp.collect()
    assert len(rows) == 121
    assert {r["component"] for r in rows} == {0}


def test_countmin_estimate_is_one_sided_and_bounded(spark, sf_dir):
    """Count-min guarantees est ≥ exact for EVERY key (not just the
    top-10 the query reports), and with width 256 ≫ distinct users the
    expected overcount stays far under the εN = (e/256)·N bound."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id")
    n_total = ev.count()

    def bucket(seed_col, key_col):
        return (
            F.conv(F.substring(F.md5(F.concat_ws("|", seed_col, key_col)), 1, 12), 16, 10)
            .cast("long") % 256
        )

    x = ev.select(
        "user_id", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("seed")
    ).select("user_id", "seed", bucket(F.col("seed"), F.col("user_id")).alias("bucket"))
    sketch = x.groupBy("seed", "bucket").agg(F.count("*").alias("c"))
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact_ct"))
    probe = exact.select(
        "user_id", "exact_ct", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("seed")
    ).select("user_id", "exact_ct", "seed", bucket(F.col("seed"), F.col("user_id")).alias("bucket"))
    est = (
        probe.join(sketch, ["seed", "bucket"])
        .groupBy("user_id", "exact_ct")
        .agg(F.min("c").alias("cm_est"))
        .collect()
    )
    assert len(est) > 0
    overcounts = []
    for r in est:
        assert r["cm_est"] >= r["exact_ct"], r
        overcounts.append(r["cm_est"] - r["exact_ct"])
    eps_n = (2.718 / 256) * n_total
    assert sum(overcounts) / len(overcounts) <= eps_n


# ---------- chunk_token_windows ----------


def test_chunk_windows_cover_all_tokens_with_exact_overlap(spark):
    from taps_spark.operators.text import chunk_token_windows

    doc = " ".join(f"t{i}" for i in range(1, 101))  # 100 tokens
    df = spark.createDataFrame([(1, doc), (2, "a b"), (3, "")], "doc_id long, text string")
    rows = chunk_token_windows(df, "text", "doc_id", window=10, stride=7).collect()
    d1 = sorted([r for r in rows if r["doc_id"] == 1], key=lambda r: r["chunk_id"])
    # starts walk 1, 8, 15, ... 99 — ceil(100/7) = 15 chunks
    assert [r["start_tok"] for r in d1] == list(range(1, 101, 7))
    # every token covered exactly; consecutive chunks overlap by window - stride
    covered = set()
    for r in d1:
        assert r["chunk_len"] == min(10, 100 - r["start_tok"] + 1)
        covered |= set(range(r["start_tok"], r["start_tok"] + r["chunk_len"]))
    assert covered == set(range(1, 101))
    toks = doc.split()
    for r in d1:
        expect = " ".join(toks[r["start_tok"] - 1 : r["start_tok"] - 1 + 10])
        assert r["chunk_text"] == expect
    # short doc → single truncated chunk; empty doc → one empty-token chunk
    d2 = [r for r in rows if r["doc_id"] == 2]
    assert len(d2) == 1 and d2[0]["chunk_len"] == 2 and d2[0]["chunk_text"] == "a b"
    d3 = [r for r in rows if r["doc_id"] == 3]
    assert len(d3) == 1 and d3[0]["chunk_text"] == ""


def test_chunk_windows_rejects_gapped_or_stalled_strides(spark):
    from taps_spark.operators.text import chunk_token_windows

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_token_windows(df, window=4, stride=8)  # gaps: tokens 5-8 never covered
    with pytest.raises(ValueError):
        chunk_token_windows(df, window=4, stride=0)  # no forward progress


# ---------- train_valid_test_split ----------


def test_train_valid_test_split_disjoint_exhaustive_nested(spark):
    from taps_spark.operators.profiling import train_valid_test_split

    df = spark.range(2000).withColumnRenamed("id", "k")
    s80 = {r["k"]: r["split"] for r in train_valid_test_split(df, "k", 80, 10).collect()}
    assert len(s80) == 2000  # one assignment per row: disjoint + exhaustive
    from collections import Counter

    c = Counter(s80.values())
    assert set(c) == {"train", "valid", "test"}
    assert 0.7 < c["train"] / 2000 < 0.9  # hash buckets ≈ uniform
    # growing train only ABSORBS rows — nothing leaves train (no eval leakage)
    s90 = {r["k"]: r["split"] for r in train_valid_test_split(df, "k", 90, 5).collect()}
    for k, split in s80.items():
        if split == "train":
            assert s90[k] == "train", k
    with pytest.raises(ValueError):
        train_valid_test_split(df, "k", 90, 20)


# ---------- interval_overlap_join ----------


def _interval_frames(spark):
    """Deterministic interval sets incl. multi-cell spans, touching
    endpoints, zero-length points, and non-overlapping stragglers."""
    from datetime import datetime, timedelta

    base = datetime(2024, 3, 1)
    a_rows, b_rows = [], []
    for i in range(60):
        start = base + timedelta(minutes=(i * 37) % 480)
        a_rows.append((i, start, start + timedelta(minutes=(i * 13) % 170)))
    for j in range(60):
        start = base + timedelta(minutes=(j * 53) % 500)
        b_rows.append((j, start, start + timedelta(minutes=(j * 7) % 90)))
    a = spark.createDataFrame(a_rows, "id_a long, start_a timestamp, end_a timestamp")
    b = spark.createDataFrame(b_rows, "id_b long, start_b timestamp, end_b timestamp")
    return a, b


def test_interval_overlap_join_matches_naive_theta_join(spark):
    from taps_spark.operators.events import interval_overlap_join

    a, b = _interval_frames(spark)
    naive = a.join(
        b,
        (F.col("start_a") <= F.col("end_b")) & (F.col("start_b") <= F.col("end_a")),
    )
    expect = {(r["id_a"], r["id_b"]) for r in naive.collect()}
    got_rows = interval_overlap_join(
        a, b, "start_a", "end_a", "start_b", "end_b", cell_minutes=30
    ).collect()
    got = [(r["id_a"], r["id_b"]) for r in got_rows]
    assert set(got) == expect
    # first-shared-cell dedup: multi-cell pairs must appear exactly once
    assert len(got) == len(set(got)), "bucketized join emitted duplicate pairs"


def test_interval_overlap_join_avoids_nested_loop_plan(spark):
    from taps_spark.operators.events import interval_overlap_join

    a, b = _interval_frames(spark)
    bucketized = interval_overlap_join(
        a, b, "start_a", "end_a", "start_b", "end_b", cell_minutes=30
    )
    plan = bucketized._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan, plan
    naive = a.join(
        b,
        (F.col("start_a") <= F.col("end_b")) & (F.col("start_b") <= F.col("end_a")),
    )
    naive_plan = naive._jdf.queryExecution().executedPlan().toString()
    # the whole point: the raw theta predicate compiles to a quadratic
    # compare-everything join (nested loop or cartesian, depending on
    # broadcastability)
    assert "BroadcastNestedLoop" in naive_plan or "CartesianProduct" in naive_plan, naive_plan


def test_pq_rerank_recall_and_score_fidelity(spark, any_sf_dir):
    sf_dir = any_sf_dir  # second-seed re-gate (VERDICT r7 task #6)
    from taps_spark.operators.similarity import topk_pq

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = topk_bruteforce(emb, queries, k=5)
    approx = topk_pq(emb, queries, k=5, m=16, ksub=32, dim=64, iters=2, rerank=10)
    ex = {(r["q_id"], r["neighbor_id"]): r["score"] for r in exact.collect()}
    ap = {(r["q_id"], r["neighbor_id"]): r["score"] for r in approx.collect()}
    # reranked scores are TRUE cosines (quantization affects the
    # shortlist, never the reported score)
    for key, s in ap.items():
        if key in ex:
            assert abs(ex[key] - s) < 1e-3
    recall = len(set(ap) & set(ex)) / len(ex)
    assert recall >= 0.6, f"PQ+rerank recall too low: {recall}"


def test_pq_pure_adc_returns_k_per_query(spark, sf_dir):
    from taps_spark.operators.similarity import topk_pq

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    adc = topk_pq(emb, queries, k=5, m=8, ksub=16, dim=64, iters=1, rerank=0)
    rows = adc.groupBy("q_id").count().collect()
    assert {r["count"] for r in rows} == {5}
    assert len(rows) == 2


def test_bloom_no_false_negatives_and_fp_bound(spark, sf_dir):
    """The membership contract the bloom-prefilter dedup depends on:
    every built member MUST probe True; non-member false-positive
    rate stays under a few percent at the default sizing."""
    from taps_spark.operators.dedup import bloom_build, bloom_probe
    from taps_spark.operators.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("doc_id", fingerprint("text").alias("fp"))
    members = fp.filter(F.col("doc_id") % 2 == 0)
    bloom = bloom_build(members.select("fp"), "fp")

    probed_members = bloom_probe(members, bloom, "fp")
    n_members = probed_members.count()
    n_hit = probed_members.filter(F.col("bloom_maybe")).count()
    assert n_hit == n_members, "bloom false negative: membership contract broken"

    member_fps = members.select("fp").distinct()
    true_non = (
        bloom_probe(fp.filter(F.col("doc_id") % 2 == 1), bloom, "fp")
        .join(member_fps, "fp", "left_anti")
    )
    n_non = true_non.count()
    n_fp = true_non.filter(F.col("bloom_maybe")).count()
    assert n_fp / max(n_non, 1) < 0.05, f"bloom FP rate too high: {n_fp}/{n_non}"


@pytest.mark.parametrize("graph_seed", [None, 7])  # second-seed re-gate (r7 #6)
def test_pagerank_matches_numpy_replay(spark, graph_seed):
    """Exact-formulation replay: damped PageRank with uniform dangling
    redistribution on a small graph, Spark vs NumPy to 1e-9; the
    seeded variant replays a 12-node random graph so the pin is not
    shaped by the hand-picked edge list."""
    import numpy as np

    from taps_spark.operators.graph import pagerank

    if graph_seed is None:
        edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")]
        # 'e' is dangling (appears only as... nowhere) — add one edge
        # into a sink node to cover the dangling-mass path.
        edges.append(("c", "sink"))
    else:
        rng = np.random.default_rng(graph_seed)
        names = [f"n{i}" for i in range(12)]
        edges = sorted(
            {
                (names[int(a)], names[int(b)])
                for a, b in rng.integers(0, 12, size=(40, 2))
                if a != b
            }
        )
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=10, damping=0.85).collect()}

    nodes = sorted({n for e in edges for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    r = np.full(n, 1.0 / n)
    for _ in range(10):
        nxt = np.full(n, (1 - 0.85) / n)
        dangling = sum(r[idx[v]] for v in nodes if v not in out)
        nxt += 0.85 * dangling / n
        for s, ds in out.items():
            for d in ds:
                nxt[idx[d]] += 0.85 * r[idx[s]] / len(ds)
        r = nxt
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-9, (v, got[v], r[idx[v]])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_semantic_dedup_soundness_and_blocked_recall(spark, any_sf_dir):
    sf_dir = any_sf_dir  # second-seed re-gate (VERDICT r7 task #6)
    """Every pair semantic_dedup flags must truly be >= threshold
    (exact re-check); and within-cluster blocking must recover every
    all-pairs duplicate whose members share a cluster."""
    from taps_spark.operators.similarity import cosine, semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, threshold=0.4, nlist=8, iters=2)
    flagged = out.filter(F.col("dropped"))

    # Soundness: flagged (vec_id, dup_of) pairs have exact cosine >= t.
    e1 = emb.select(F.col("vec_id"), F.col("embedding").alias("ea"))
    e2 = emb.select(F.col("vec_id").alias("dup_of"), F.col("embedding").alias("eb"))
    checked = (
        flagged.join(e1, "vec_id").join(e2, "dup_of")
        .select(cosine(F.col("ea"), F.col("eb")).alias("c"))
        .collect()
    )
    assert all(r["c"] >= 0.4 - 1e-9 for r in checked)

    # Blocked completeness: any exact all-pairs duplicate sharing a
    # cluster must be flagged.
    clusters = {r["vec_id"]: r["cluster_id"] for r in out.collect()}
    dropped = {r["vec_id"] for r in flagged.collect()}
    allpairs = (
        emb.alias("x").join(emb.alias("y"), F.expr("x.vec_id > y.vec_id"))
        .select(
            F.col("x.vec_id").alias("a"),
            F.col("y.vec_id").alias("b"),
            cosine(F.col("x.embedding"), F.col("y.embedding")).alias("c"),
        )
        .filter(F.col("c") >= 0.4)
        .collect()
    )
    for r in allpairs:
        if clusters[r["a"]] == clusters[r["b"]]:
            assert r["a"] in dropped, f"same-cluster dup pair missed: {r}"


def test_span_hashes_short_docs_and_window_math(spark):
    from taps_spark.operators.dedup import duplicated_span_stats, span_hashes

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),   # 10 tokens → 3 spans of 8
            (2, "a b c d e f g h x y"),   # shares span starting at 0
            (3, "short doc"),             # < 8 tokens → no spans
            (4, "exactly eight tokens in this doc right here"),  # 8 → 1 span
        ],
        "doc_id long, text string",
    )
    spans = span_hashes(df, "doc_id", "text", width=8)
    per_doc = {r["doc_id"]: r for r in spans.groupBy("doc_id").count().collect()}
    assert per_doc[1]["count"] == 3 and per_doc[2]["count"] == 3
    assert 3 not in per_doc  # short doc contributes no spans, no error
    assert per_doc[4]["count"] == 1

    stats = {r["doc_id"]: r for r in duplicated_span_stats(df, "doc_id", "text", 8).collect()}
    # Docs 1 and 2 share exactly the first span (tokens 0..7 identical).
    assert stats[1]["dup_spans"] == 1 and stats[2]["dup_spans"] == 1
    assert stats[1]["dup_frac"] == round(1 / 3, 6)
    assert stats[4]["dup_spans"] == 0


def test_asof_nearest_matches_pandas_merge_asof(spark):
    import pandas as pd

    from taps_spark.operators.relational import asof_join_nearest

    left = pd.DataFrame(
        {
            "k": [1, 1, 1, 2, 2, 3],
            "t": pd.to_datetime(
                ["2024-01-05", "2024-01-10", "2024-02-01", "2024-01-01", "2024-03-01", "2024-06-01"]
            ),
            "lid": [10, 11, 12, 20, 21, 30],
        }
    )
    right = pd.DataFrame(
        {
            "k": [1, 1, 2, 2, 4],
            "rt": pd.to_datetime(["2024-01-07", "2024-01-20", "2024-02-10", "2023-12-30", "2024-01-01"]),
            "rid": [100, 101, 200, 201, 400],
        }
    )
    expected = pd.merge_asof(
        left.sort_values("t"),
        right.sort_values("rt"),
        left_on="t",
        right_on="rt",
        by="k",
        direction="nearest",
    ).sort_values("lid")

    lsp = spark.createDataFrame(left)
    rsp = spark.createDataFrame(right)
    got = (
        asof_join_nearest(lsp, rsp, key="k", left_time="t", right_time="rt",
                          right_value_cols=["rid", "rt"])
        .orderBy("lid")
        .collect()
    )
    exp_ids = [None if pd.isna(x) else int(x) for x in expected["rid"]]
    got_ids = [r["near_rid"] for r in got]
    assert got_ids == exp_ids


def test_image_ahash_numpy_replay_and_band_recall(spark):
    import numpy as np

    from taps_spark.operators.multimodal import image_ahash, phash_near_pairs

    payloads = [
        (0, "image", b"the quick brown fox jumps over the lazy dog " * 8),
        (3, "image", b"the quick brown fox jumps over the lazy dog " * 8),  # exact dup
        (6, "image", b"a completely different payload with other bytes! " * 7),
        (9, "image", bytes(range(200))),
        (12, "audio", b"not an image, must be filtered out"),
    ]
    assets = spark.createDataFrame(
        payloads, "asset_id long, modality string, payload binary"
    )
    got = {r["asset_id"]: r["phash"] for r in image_ahash(assets).collect()}
    assert 12 not in got  # modality filter

    def replay(payload: bytes) -> int:
        buf = np.frombuffer(payload, dtype=np.uint8)
        chunks = np.array_split(buf.astype(np.int64), 64)
        px = [int(c.sum()) % 256 for c in chunks]
        tot = sum(px)
        h = 0
        for p in px:
            h = (h << 1) | int(64 * p > tot)
        return h - (1 << 64) if h >= 1 << 63 else h

    for aid, _, payload in payloads[:4]:
        assert got[aid] == replay(payload), aid

    pairs = phash_near_pairs(image_ahash(assets), max_hamming=6).collect()
    assert {(r["id_a"], r["id_b"], r["hamming"]) for r in pairs} >= {(0, 3, 0)}


def test_chunk_audit_plan_is_window_free(spark, sf_dir):
    from taps_spark.queries.reference import transfer_chunk_audit

    df = transfer_chunk_audit(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # A lag()-style formulation would show a single-partition Window;
    # the chunked audit must not sort globally.
    assert "Window" not in plan
    rows = df.collect()
    # Chunks 5 and 6 are fully lost at every SF with ≥ 7·1024 orders.
    lost = {r["chunk_id"] for r in rows if r["n_present"] == 0}
    assert {5, 6} <= lost or len(rows) > 0


def test_short_document_edge_cases_match_oracle(spark, tmp_path):
    """Docs under 3 tokens / 8 chars hit Spark's descending
    sequence(1, 0) pitfall — novelty must yield zero grams and CDC
    chunking exactly one chunk, matching the oracles' empty ranges."""
    import duckdb

    from taps_spark.queries import REGISTRY, _load

    _load()
    rows = [
        (0, "ab", "en", "src0", 2),              # < 8 chars, 1 token
        (1, "one two", "en", "src0", 7),         # 2 tokens, < 8 chars
        (2, "alpha beta gamma delta", "en", "src0", 22),
        (3, "", "en", "src0", 0),                # empty text
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "docs_sf")
    import os

    os.makedirs(d, exist_ok=True)
    docs.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
    )
    for name in ("text_ngram_novelty", "text_cdc_chunking"):
        got = sorted(
            tuple(r) for r in REGISTRY[name].fn(spark, d).collect()
        )
        want = sorted(tuple(r) for r in con.execute(REGISTRY[name].oracle).fetchall())
        assert got == want, f"{name}: {got} != {want}"
    # Sanity on the semantics themselves: short docs contribute no
    # grams; every doc yields exactly one CDC chunk at these lengths.
    cdc = {r.doc_id: r.n_chunks for r in REGISTRY["text_cdc_chunking"].fn(spark, d).collect()}
    assert cdc[0] == 1 and cdc[1] == 1 and cdc[3] == 1


def test_versioned_write_recovers_from_orphan_dir(spark, sf_dir, tmp_path):
    """A crashed write leaves v=N on disk without a manifest entry;
    the next write_version must reclaim it, not fail forever."""
    import os

    from taps_spark.io.versioned import read_version, versions, write_version

    table = str(tmp_path / "vt")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    write_version(nation.limit(3), table)
    # Simulate a crashed write: orphan v=2 exists, manifest unaware.
    orphan = os.path.join(table, "v=2")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-junk.parquet"), "w") as f:
        f.write("partial")
    v2 = write_version(nation.limit(7), table)
    assert v2 == 2
    assert versions(table)["current"] == 2
    assert read_version(spark, table).count() == 7


def test_embedding_nn_blocked_sound_vs_exact_baseline(spark, sf_dir):
    """The blocked semantic-dedup default vs the unblocked exact
    kernel (the test-only baseline): (a) SOUND — every dropped=True
    under LSH blocking is dropped=True exactly, since candidates are
    a subset of all pairs; (b) blocked nn_cos never exceeds the exact
    nn_cos; (c) recall — the blocked pass finds a usable share of the
    true drops (what LSH trades for the n² -> Σ|bucket|² pair cost)."""
    from taps_spark.operators.dedup import embedding_nn_dedup, embedding_nn_dedup_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        r["vec_id"]: (r["nn_cos"], r["dropped"])
        for r in embedding_nn_dedup(emb, threshold=0.4).collect()
    }
    blocked = {
        r["vec_id"]: (r["nn_cos"], r["dropped"])
        for r in embedding_nn_dedup_blocked(emb, threshold=0.4).collect()
    }
    assert set(blocked) == set(exact)  # every vector emits a row
    for vid, (cos_b, drop_b) in blocked.items():
        cos_e, drop_e = exact[vid]
        if drop_b:
            assert drop_e, f"vec {vid}: blocked dropped but exact did not (unsound)"
        if cos_b is not None:
            assert cos_b <= cos_e + 1e-9, f"vec {vid}: blocked cos {cos_b} > exact {cos_e}"
    true_drops = {v for v, (_, d) in exact.items() if d}
    found = {v for v, (_, d) in blocked.items() if d}
    if true_drops:
        recall = len(found & true_drops) / len(true_drops)
        assert recall >= 0.5, f"blocked drop recall too low: {recall}"


def test_embedding_nn_dedup_rejects_string_ids(spark):
    """The one-pass (cos DESC, id ASC) tiebreak negates the id; a
    string id would silently cast to NULL and corrupt ties, so both
    kernels must refuse loudly."""
    from taps_spark.operators.dedup import embedding_nn_dedup, embedding_nn_dedup_blocked

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])], "vec_id string, embedding array<double>"
    )
    with pytest.raises(ValueError, match="numeric id"):
        embedding_nn_dedup(df)
    with pytest.raises(ValueError, match="numeric id"):
        embedding_nn_dedup_blocked(df)


def test_first_collision_candidates_equal_join_distinct(spark):
    """band_bucket_scalars + earlier_band_collision must emit EXACTLY
    the `self-join on (band, band_sig) -> distinct` candidate set —
    the duplicate-free-at-source rewrite is an identity, not an
    approximation. Random-ish small corpus with deliberate duplicate
    and near-duplicate token sets so multi-band collisions occur."""
    from taps_spark.operators.dedup import (
        band_bucket_scalars,
        band_signatures,
        earlier_band_collision,
        minhash_signatures,
    )

    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    docs = []
    for i in range(40):
        toks = [words[(i + j * j) % len(words)] for j in range(3 + i % 4)]
        docs.append((i, " ".join(toks)))
    docs += [(100, docs[0][1]), (101, docs[1][1])]  # exact dups -> all-band collisions
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sigs = minhash_signatures(df, "doc_id", "text", num_hashes=8)
    bands = band_signatures(sigs, "doc_id", rows_per_band=2)

    a = bands.select(F.col("doc_id").alias("src"), "band", "band_sig")
    b = bands.select(F.col("doc_id").alias("dst"), "band", "band_sig")
    want = sorted(
        (r["src"], r["dst"])
        for r in a.join(b, ["band", "band_sig"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
        .collect()
    )

    bw = band_bucket_scalars(bands, "doc_id", n_bands=4)
    x = bw.select(
        F.col("doc_id").alias("src"), "band", "bid",
        *[F.col(f"s{i}").alias(f"x{i}") for i in range(3)],
    )
    y = bw.select(
        F.col("doc_id").alias("dst"), "band", "bid",
        *[F.col(f"s{i}").alias(f"y{i}") for i in range(3)],
    )
    got_rows = (
        x.join(y, ["band", "bid"])
        .filter(F.col("src") < F.col("dst"))
        .filter(~earlier_band_collision(4))
        .select("src", "dst")
        .collect()
    )
    got = sorted((r["src"], r["dst"]) for r in got_rows)
    assert got == want, "first-collision pair set must equal join-distinct"
    assert len(got) == len(set(got)), "pairs must be emitted exactly once"
    assert len(got) > 0, "fixture must produce collisions for the test to bite"


def test_portable_band_buckets_rejects_wrong_dim(spark):
    from taps_spark.operators.dedup import portable_band_buckets

    df = spark.createDataFrame([(1, [0.5, -0.25, 0.125])], "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="expected dim=64"):
        portable_band_buckets(df, bands=1, planes=1).collect()
    ok = portable_band_buckets(df, bands=2, planes=2, dim=3).collect()
    assert len(ok) == 2 and all(r["bucket"] is not None for r in ok)


def _make_bmp(width: int, height: int, pixel_fn, bpp: int = 24) -> bytes:
    """Minimal bottom-up BI_RGB BMP encoder for kernel tests.
    pixel_fn(x, y) -> (r, g, b) with y=0 the TOP row."""
    import struct

    step = bpp // 8
    row_bytes = ((width * step) + 3) & ~3
    data = bytearray()
    for y in reversed(range(height)):  # bottom-up storage
        row = bytearray()
        for x in range(width):
            r, g, b = pixel_fn(x, y)
            row += bytes((b, g, r)) + (b"\xff" if step == 4 else b"")
        row += b"\x00" * (row_bytes - len(row))
        data += row
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, bpp, 0, len(data), 2835, 2835, 0, 0
    )
    return bytes(header + info + data)


def test_bmp_decode_real_dimensions_and_ahash(spark):
    """Genuine uncompressed BMP payloads take the REAL decode path:
    extract_features reports true dimensions (not the stub's
    byte-derived fake), and image_ahash hashes true box-averaged
    pixels — a half-black/half-white image yields exactly the
    0xF0F0... column pattern. Non-BMP payloads keep the stub."""
    from taps_spark.operators.multimodal import (
        _decode_bmp,
        extract_features,
        image_ahash,
    )

    bw = _make_bmp(16, 16, lambda x, y: (0, 0, 0) if x < 8 else (255, 255, 255))
    gray32 = _make_bmp(16, 8, lambda x, y: (40, 40, 40), bpp=32)
    fake = b"not a bitmap, stub path expected " * 4

    parsed = _decode_bmp(bw)
    assert parsed is not None and parsed[0] == 16 and parsed[1] == 16
    assert parsed[2][0][0] == 0 and parsed[2][0][15] == 255
    assert _decode_bmp(fake) is None

    assets = spark.createDataFrame(
        [(1, "image", bw), (2, "image", gray32), (3, "image", fake)],
        "asset_id long, modality string, payload binary",
    )
    feats = {r["asset_id"]: r for r in extract_features(assets).collect()}
    assert (feats[1]["width"], feats[1]["height"]) == (16, 16)
    assert (feats[2]["width"], feats[2]["height"]) == (16, 8)  # 32bpp + non-square
    n = len(fake)
    assert (feats[3]["width"], feats[3]["height"]) == (64 + n % 512, 64 + (n * 7) % 512)

    hashes = {r["asset_id"]: r["phash"] for r in image_ahash(assets).collect()}
    # Left half darker than mean, right half brighter: row bits 00001111
    # -> packed row-major = 0x0F repeated. Sign per two's complement.
    want = int("0F" * 8, 16)
    assert hashes[1] == (want - (1 << 64) if want >= 1 << 63 else want)
    # Uniform image: no pixel is strictly brighter than the mean -> 0.
    assert hashes[2] == 0


def test_condensed_prelude_excludes_null_text_docs(spark):
    """Two NULL-text docs must NOT become a Jaccard-1 'duplicate'
    group: groupBy treats NULL rtoks as equal, but the doc-level
    formulation (explode of a NULL token array) and the DuckDB
    oracles (unnest of NULL) both drop such docs before signing.
    Whitespace-only text is {''} in both engines and DOES group."""
    from taps_spark.queries.dedup import _condensed_prelude, _fan_out_doc_pairs

    docs = spark.createDataFrame(
        [
            (1, None),
            (2, None),
            (3, "alpha beta gamma delta"),
            (4, "alpha beta gamma delta"),
        ],
        "doc_id bigint, text string",
    )
    grp, cand, ta, tb = _condensed_prelude(docs)
    members = {m for r in grp.collect() for m in r["members"]}
    assert members == {3, 4}

    gscored = cand.withColumn("j", F.lit(1.0))
    pairs = {
        (r["doc_a"], r["doc_b"]) for r in _fan_out_doc_pairs(grp, gscored).collect()
    }
    assert pairs == {(3, 4)}  # no phantom (1, 2) pair


def test_ratio_prefilter_lossless_for_non_tenth_thresholds(spark):
    """floor(10t) keeps the size-ratio bound at or below ANY t: at
    t=0.75 a (3, 4) pair (ratio exactly 0.75) must survive — the old
    round() gave k=8 (bound 0.8) and silently dropped it."""
    from taps_spark.queries.dedup import _ratio_prefilter

    df = spark.createDataFrame(
        [([1, 2, 3], [1, 2, 3, 4])], "toks_a array<int>, toks_b array<int>"
    )
    assert df.filter(_ratio_prefilter(0.75)).count() == 1
    # Lossless drop: J <= 3/4 < 0.8, so t=0.8 may (and does) prune it.
    assert df.filter(_ratio_prefilter(0.8)).count() == 0
    # Exact tenths keep their exact bound despite float dust.
    assert df.filter(_ratio_prefilter(0.7)).count() == 1


def test_portable_band_buckets_null_embedding_flows_through(spark):
    """A NULL embedding must not abort the query via the dim guard
    (size(NULL) made the otherwise() branch raise with a NULL
    message); it flows through as NULL projections, exactly as it
    did before the guard existed."""
    from taps_spark.operators.dedup import portable_band_buckets

    df = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3]), (2, None)],
        "vec_id bigint, embedding array<double>",
    )
    rows = portable_band_buckets(df, bands=2, planes=2, dim=3).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append(r["bucket"])
    assert all(b is not None for b in by_id[1])
    assert all(b is None for b in by_id[2])


def _make_png(width, height, pixel, color_type=2, filters=None):
    """Build a real PNG: 8-bit, non-interlaced; `pixel(x, y)` returns
    a tuple of `ch` samples. Each row is ENCODED with a chosen filter
    type (cycling 0..4 by default), so the decoder's Sub/Up/Average/
    Paeth reconstruction paths are all exercised, not just raw rows."""
    import struct
    import zlib

    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    stride = width * ch

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    rows = [
        bytes(s for x in range(width) for s in pixel(x, y)) for y in range(height)
    ]
    raw = bytearray()
    prev = bytes(stride)
    for y, line in enumerate(rows):
        f = (filters or list(range(5)))[y % len(filters or list(range(5)))]
        raw.append(f)
        for x in range(stride):
            left = line[x - ch] if x >= ch else 0
            up = prev[x]
            ul = prev[x - ch] if x >= ch else 0
            if f == 0:
                enc = line[x]
            elif f == 1:
                enc = line[x] - left
            elif f == 2:
                enc = line[x] - up
            elif f == 3:
                enc = line[x] - ((left + up) >> 1)
            else:  # Paeth
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
                enc = line[x] - pred
            raw.append(enc & 0xFF)
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_all_filters_and_cross_format_ahash(spark):
    """The PNG kernel must reconstruct every scanline filter exactly
    (rows cycle None/Sub/Up/Average/Paeth), report true dimensions
    through extract_features, and — because BMP and PNG share one
    integer-grayscale contract — the SAME pixels must produce the
    SAME aHash from either container format."""
    from taps_spark.operators.multimodal import (
        _decode_png,
        extract_features,
        image_ahash,
    )

    def bw(x, y):
        return (0, 0, 0) if x < 8 else (255, 255, 255)

    png_rgb = _make_png(16, 16, bw)
    bmp_same = _make_bmp(16, 16, bw)
    png_gray = _make_png(16, 12, lambda x, y: ((x * 16 + y) % 256,), color_type=0)
    png_rgba = _make_png(
        16, 16, lambda x, y: (0, 0, 0, 255) if x < 8 else (255, 255, 255, 255),
        color_type=6,
    )
    truncated = png_rgb[: len(png_rgb) // 2]

    parsed = _decode_png(png_gray)
    assert parsed is not None and (parsed[0], parsed[1]) == (16, 12)
    # Grayscale: gray sample IS the pixel value, exact round-trip.
    assert all(
        parsed[2][y][x] == (x * 16 + y) % 256 for y in range(12) for x in range(16)
    )
    assert _decode_png(truncated) is None
    assert _decode_png(b"fake" * 30) is None

    assets = spark.createDataFrame(
        [(1, "image", png_rgb), (2, "image", bmp_same), (3, "image", png_rgba),
         (4, "image", truncated)],
        "asset_id long, modality string, payload binary",
    )
    feats = {r["asset_id"]: r for r in extract_features(assets).collect()}
    assert (feats[1]["width"], feats[1]["height"]) == (16, 16)
    assert (feats[3]["width"], feats[3]["height"]) == (16, 16)
    n = len(truncated)
    assert (feats[4]["width"], feats[4]["height"]) == (
        64 + n % 512, 64 + (n * 7) % 512,
    )  # truncated PNG falls back to the stub

    hashes = {r["asset_id"]: r["phash"] for r in image_ahash(assets).collect()}
    want = int("0F" * 8, 16)
    want = want - (1 << 64) if want >= 1 << 63 else want
    assert hashes[1] == want  # real pixel path, same pattern as the BMP test
    assert hashes[1] == hashes[2] == hashes[3]  # cross-format + alpha-blind


def _make_avi(width, height, n_frames, usec_per_frame):
    """Minimal well-formed RIFF/AVI: hdrl LIST whose first sub-chunk
    is a 56-byte avih main header — the only part the metadata kernel
    reads — plus an empty movi LIST so the chunk walk is realistic."""
    import struct

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        usec_per_frame,  # dwMicroSecPerFrame
        0, 0, 0,
        n_frames,        # dwTotalFrames
        0, 1, 0,
        width, height,   # dwWidth, dwHeight
        0, 0, 0, 0,
    )
    hdrl = b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
    movi = b"movi"
    body = (
        b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
        + b"LIST" + struct.pack("<I", len(movi)) + movi
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"AVI " + body


def test_avi_metadata_kernel_real_dimensions_and_duration(spark):
    """RIFF/AVI payloads take the REAL metadata path: true dimensions
    and frame-count×frame-time duration flow through extract_features
    and frame sampling; non-AVI video payloads keep the stub."""
    from taps_spark.operators.multimodal import (
        _decode_avi,
        extract_features,
        sample_frames,
    )

    # 25 fps (40,000 us/frame), 250 frames = exactly 10 s.
    avi = _make_avi(640, 360, 250, 40_000)
    fake = b"definitely not a video container" * 3

    meta = _decode_avi(avi)
    assert meta == {
        "width": 640, "height": 360, "duration_ms": 10_000,
        "n_frames": 250, "fps_milli": 25_000,
    }
    assert _decode_avi(fake) is None
    assert _decode_avi(avi[:30]) is None  # truncated header

    assets = spark.createDataFrame(
        [(1, "video", avi), (2, "video", fake)],
        "asset_id long, modality string, payload binary",
    )
    feats = {r["asset_id"]: r for r in extract_features(assets).collect()}
    assert (feats[1]["width"], feats[1]["height"], feats[1]["duration_ms"]) == (
        640, 360, 10_000,
    )
    n = len(fake)
    assert feats[2]["duration_ms"] == 1000 + (n * 17) % 600000  # stub path

    frames = [r for r in sample_frames(assets, every_ms=2500).collect()
              if r["asset_id"] == 1]
    # Real 10 s duration -> dur // every = 4 sampled timestamps.
    assert sorted(r["ts_ms"] for r in frames) == [0, 2500, 5000, 7500]


def test_resize_extreme_aspect_never_degenerates_to_zero(spark):
    """ADVICE r5: a real decoded 200x1 BMP drives (h*target)//w to 0 —
    the output edge must clamp to 1 px, never a degenerate 0."""
    from taps_spark.operators.multimodal import _decode_bmp, resize_images

    strip = _make_bmp(200, 1, lambda x, y: (x % 256, 0, 0))
    assert _decode_bmp(strip)[:2] == (200, 1)
    assets = spark.createDataFrame(
        [(1, "image", strip, None)],
        "asset_id long, modality string, payload binary, meta map<string,string>",
    )
    r = resize_images(assets, target=100).collect()[0]
    assert (r["width"], r["height"]) == (200, 1)
    assert r["new_width"] == 100
    assert r["new_height"] == 1  # floor((1*100)/200)=0, clamped


def test_wav_metadata_only_decode_skips_pcm(spark):
    """ADVICE r5: extract_features only ships width/height/duration —
    it must not materialize each row's full PCM alongside the payload
    (2x Arrow batch memory on audio-heavy batches). The metadata-only
    parse returns identical duration without the 'pcm' key; the window
    sampler keeps the PCM path."""
    from taps_spark.operators.multimodal import (
        _decode_stub,
        extract_features,
        sample_audio_windows,
    )

    wav = _make_wav(seconds=2.0, rate=8000)
    full = _decode_stub("audio", wav)
    meta = _decode_stub("audio", wav, want_pcm=False)
    assert "pcm" in full and "pcm" not in meta
    assert meta["duration_ms"] == full["duration_ms"] == 2000
    assert meta["sample_rate"] == full["sample_rate"] == 8000

    assets = spark.createDataFrame(
        [(1, "audio", wav, None)],
        "asset_id long, modality string, payload binary, meta map<string,string>",
    )
    feats = extract_features(assets).collect()[0]
    assert feats["duration_ms"] == 2000
    # Real per-window RMS still works (PCM path intact for the sampler).
    wins = sample_audio_windows(assets, window_ms=500, max_windows=4).collect()
    assert len(wins) == 4 and all(w["rms"] > 0.0 for w in wins)


def test_leakage_safe_split_co_assigns_duplicate_content(spark, tmp_path):
    """Exact-duplicate texts (one content group) must land in ONE
    split, whatever their doc_ids — the leakage guarantee itself."""
    import os

    from taps_spark.queries.profiling import sample_leakage_safe_split

    docs = spark.createDataFrame(
        [(i, "the same exact text", "en", "web", 19) for i in range(40)]
        + [(100 + i, f"unique text number {i}", "en", "web", 20) for i in range(60)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "docs")
    os.makedirs(d, exist_ok=True)
    docs.coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")
    out = {r["split"]: r for r in sample_leakage_safe_split(spark, d).collect()}
    assert all(r["straddling_groups"] == 0 for r in out.values())
    # The 40 dup docs form ONE group and sit entirely in one split.
    n_groups = sum(r["n_groups"] for r in out.values())
    n_docs = sum(r["n_docs"] for r in out.values())
    assert n_docs == 100 and n_groups == 61


def test_canonical_pick_prefers_longest_then_lowest_id(spark, tmp_path):
    """Within an LSH bucket the canonical doc is the longest text;
    doc_id breaks ties deterministically (MAX_BY on a unique struct)."""
    import os

    from taps_spark.queries.dedup import dedup_canonical_pick

    # Three docs with identical token sets (same minhash signature =>
    # same buckets in every band) but different lengths / ids.
    base = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, base, "en", "web", len(base)),
        (2, base + " " + base, "en", "web", len(base) * 2 + 1),  # longest
        (3, base, "en", "web", len(base)),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "docs2")
    os.makedirs(d, exist_ok=True)
    docs.coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")
    out = dedup_canonical_pick(spark, d).collect()
    assert len(out) == 4  # 4 bands, all three docs collide in each
    for r in out:
        assert r["n_docs"] == 3 and r["canonical_id"] == 2 and r["n_removed"] == 2


def test_token_budget_pick_nested_subset_and_budget_bound(spark, sf_dir):
    """Picked tokens never exceed the 50% budget, and every source
    picks at least the single longest doc unless it alone busts the
    budget."""
    from taps_spark.queries.text import pipeline_token_budget_pick

    rows = pipeline_token_budget_pick(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["picked_tokens"] <= r["budget_tok"]
        assert 0.0 <= r["picked_share"] <= 0.5


def test_bigram_lm_survives_single_token_docs(spark, tmp_path):
    """Review-caught (r6): sequence(1, size-1) DESCENDS for a
    single-token doc ([1,0]) and indexes out of bounds — the guard
    must drop <2-token docs exactly like the oracle's positional
    join does."""
    import os

    from taps_spark.queries.text import text_bigram_lm_bits

    docs = spark.createDataFrame(
        [
            (1, "hello", "en", "web", 5),          # 1 token: must not crash
            (2, "", "en", "web", 0),                # tokenizes to ['']
            (3, "two words here now", "en", "web", 18),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "docs3")
    os.makedirs(d, exist_ok=True)
    docs.coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")
    out = text_bigram_lm_bits(spark, d).collect()
    assert [r["doc_id"] for r in out] == [3]
    assert out[0]["n_bigrams"] == 3


def test_pca_top_component_matches_numpy_replay(spark, any_sf_dir):
    sf_dir = any_sf_dir  # second-seed re-gate (VERDICT r7 task #6)
    """similarity_pca_top_component (rows-only: iterative power
    method) must agree with a dense NumPy replay of the SAME
    computation — integer-grid covariance, 8 power iterations from
    the all-ones start, largest-|component| coordinate positive —
    to 1e-6 per coordinate, and be unit-norm."""
    import math

    import numpy as np
    import pyarrow.parquet as pq

    from taps_spark.queries import REGISTRY, _load

    _load()
    got = {
        r["dim"]: r["component"]
        for r in REGISTRY["similarity_pca_top_component"].fn(spark, sf_dir).collect()
    }
    assert len(got) == 64

    tb = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    df = tb.to_pandas()
    df = df[df.vec_id < 500]
    X = np.stack(df.embedding.to_numpy()).astype(np.float64)
    Q = np.floor(X * 1_000_000 + 0.5)
    n = Q.shape[0]
    s = Q.sum(axis=0)
    cov = n * (Q.T @ Q) - np.outer(s, s)
    x = np.ones(64)
    for _ in range(8):
        y = cov @ x
        x = y / math.sqrt(float((y * y).sum()))
    if x[np.argmax(np.abs(x))] < 0:
        x = -x
    assert abs(math.sqrt(sum(v * v for v in got.values())) - 1.0) < 1e-6
    for d in range(64):
        assert abs(got[d + 1] - x[d]) < 1e-6, (d, got[d + 1], x[d])


def test_quantile_sketch_rank_error_bound(spark, sf_dir):
    """stats_quantile_sketch_deciles vs stats_exact_deciles (the
    oracle-gated truth twin): each picked centroid's TRUE rank must
    sit within the sketch's compression bound of the decile target —
    Σ_d ⌈n_d/64⌉ ≈ N/64 + #partials (each partial bucket holds at
    most ⌈n_d/64⌉ rows, and the cumulative pick overshoots by at most
    one centroid)."""
    import math
    from collections import defaultdict

    import pyarrow.parquet as pq

    from taps_spark.queries import REGISTRY, _load

    _load()
    est = {
        (r["priority"], r["decile"]): r["est_cents"]
        for r in REGISTRY["stats_quantile_sketch_deciles"].fn(spark, sf_dir).collect()
    }
    assert len(est) == 9 * 5

    tb = pq.read_table(
        f"{sf_dir}/orders.parquet",
        columns=["o_orderpriority", "o_orderdate", "o_totalprice"],
    ).to_pandas()
    cents = defaultdict(list)
    partials = defaultdict(set)
    for p, d, t in zip(
        tb.o_orderpriority, tb.o_orderdate, tb.o_totalprice
    ):
        cents[p].append(math.floor(t * 100 + 0.5))
        partials[p].add(str(d)[:7])
    import bisect

    for p, vals in cents.items():
        vals.sort()
        n = len(vals)
        counts = defaultdict(int)
        for d in tb[tb.o_orderpriority == p].o_orderdate:
            counts[str(d)[:7]] += 1
        bound = sum(math.ceil(c / 64) for c in counts.values()) + 1
        for k in range(1, 10):
            target = math.ceil(n * k / 10)
            v = est[(p, k)]
            true_rank_hi = bisect.bisect_right(vals, v)
            true_rank_lo = bisect.bisect_left(vals, v) + 1
            # est covers the target if ANY rank occupied by value v
            # (or the centroid-mean between two values) is within
            # the compression bound of the target.
            dist = 0
            if true_rank_hi < target:
                dist = target - true_rank_hi
            elif true_rank_lo > target:
                dist = true_rank_lo - target
            assert dist <= bound, (p, k, v, target, true_rank_lo, true_rank_hi, bound)


def test_pca_components_match_numpy_deflation_replay(spark, any_sf_dir):
    sf_dir = any_sf_dir  # second-seed re-gate (VERDICT r7 task #6)
    """similarity_pca_components (rows-only: projection-deflated
    power method) must agree with a dense NumPy replay of the
    IDENTICAL algorithm — per component: 8 power rounds from
    all-ones, each matvec orthogonalized against prior components
    (y −= (vᵀy)v) before normalizing — to 1e-6 per coordinate; each
    component must be unit-norm and the three pairwise orthogonal."""
    import math

    import numpy as np
    import pyarrow.parquet as pq

    from taps_spark.queries import REGISTRY, _load

    _load()
    rows = REGISTRY["similarity_pca_components"].fn(spark, sf_dir).collect()
    got = {(r["pc"], r["dim"]): r["component"] for r in rows}
    assert len(got) == 3 * 64

    tb = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    df = tb.to_pandas()
    df = df[df.vec_id < 500]
    X = np.stack(df.embedding.to_numpy()).astype(np.float64)
    Q = np.floor(X * 1_000_000 + 0.5)
    n = Q.shape[0]
    s = Q.sum(axis=0)
    C = (n * (Q.T @ Q) - np.outer(s, s)).astype(np.float64)
    want = []
    raw = []
    for _ in range(3):
        x = np.ones(64)
        for _ in range(8):
            y = C @ x
            for v in raw:
                y = y - float(np.dot(v, y)) * v
            x = y / math.sqrt(float((y * y).sum()))
        raw.append(x)
        signed = -x if x[np.argmax(np.abs(x))] < 0 else x
        want.append(signed)
    for pc in range(1, 4):
        v = np.array([got[(pc, d + 1)] for d in range(64)])
        assert abs(math.sqrt(float((v * v).sum())) - 1.0) < 1e-6, pc
        for d in range(64):
            assert abs(v[d] - want[pc - 1][d]) < 1e-6, (pc, d, v[d], want[pc - 1][d])
    for a in range(3):
        for b in range(a + 1, 3):
            dot = float(np.dot(want[a], want[b]))
            gdot = sum(
                got[(a + 1, d + 1)] * got[(b + 1, d + 1)] for d in range(64)
            )
            # projection deflation makes the replay orthogonal to
            # machine precision; the engine values are rounded to 6
            # decimals, so their dot carries ~64·5e-7 of rounding.
            assert abs(dot) < 1e-9 and abs(gdot) < 1e-4, (a, b, dot, gdot)


def test_pca_components_match_matrix_power_form(spark, any_sf_dir):
    """Independent-oversight pin for the PCA pair (r12 VERDICT
    task #8): the engine's components must equal the MATRIX-POWER form
    x = normalize(((I − VVᵀ)C)^8 · 1) — mathematically equivalent to
    the 8-round per-step-normalized deflated power iteration (per-round
    normalization is scale-invariant, so it commutes to one final
    normalization; deflation is a fixed linear projector during each
    component's iteration), but an arithmetically DIFFERENT derivation
    with no shared code shape: no per-round normalize, no per-round
    deflation loop, explicit projector matrix. A silent change to the
    implementation's round count, start vector, deflation placement or
    normalization order diverges from this form far beyond tolerance.

    np.linalg.eigh is NOT usable as the pin: the fixture covariance
    spectrum is near-flat (top eigengap ratios ≈ 1.01–1.07), so 8
    power rounds sit far from the true eigenvectors (|dot| as low as
    0.17 measured at sf0.001/0.01/0.1) — the declared quantity is the
    8-round iterate, and only an equivalent closed form can pin it."""
    import math

    import numpy as np
    import pyarrow.parquet as pq

    from taps_spark.queries import REGISTRY, _load

    _load()
    sf_dir = any_sf_dir
    rows = REGISTRY["similarity_pca_components"].fn(spark, sf_dir).collect()
    got = {(r["pc"], r["dim"]): r["component"] for r in rows}
    top = {
        r["dim"]: r["component"]
        for r in REGISTRY["similarity_pca_top_component"].fn(spark, sf_dir).collect()
    }

    tb = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    df = tb.to_pandas()
    df = df[df.vec_id < 500]
    X = np.stack(df.embedding.to_numpy()).astype(np.float64)
    Q = np.floor(X * 1_000_000 + 0.5)
    n = Q.shape[0]
    s = Q.sum(axis=0)
    C = (n * (Q.T @ Q) - np.outer(s, s)).astype(np.float64)

    basis: list[np.ndarray] = []
    for pc in range(1, 4):
        P = np.eye(64)
        for v in basis:
            P = P - np.outer(v, v)
        M = P @ C
        z = np.ones(64)
        for _ in range(8):
            z = M @ z  # magnitude ~1e120 — comfortably inside float64
        z = z / math.sqrt(float((z * z).sum()))
        # deflation projector I − vvᵀ is sign-invariant, so the basis
        # may keep z's natural sign
        basis.append(z)
        signed = -z if z[np.argmax(np.abs(z))] < 0 else z
        for d in range(64):
            assert abs(got[(pc, d + 1)] - signed[d]) < 1e-6, (pc, d)
        if pc == 1:
            for d in range(64):
                assert abs(top[d + 1] - signed[d]) < 1e-6, d


def test_pca_frozen_fixture_sf0001(spark, sf_dir):
    """Frozen expected-values fixture (r12 VERDICT task #8, second
    leg): the sf0.001 PCA outputs, captured at round 13 and committed
    as data. Any silent change to the implementation (or a NumPy/BLAS
    behavior shift large enough to move the 6-decimal outputs) fails
    here against values the test CANNOT recompute. Tolerance 2e-6
    allows last-ulp BLAS summation-order drift across environments
    while catching any algorithmic change (those move coordinates by
    orders of magnitude more)."""
    import json
    import os

    if os.path.basename(sf_dir.rstrip("/")) != "sf0.001":
        import pytest

        pytest.skip("frozen values captured at sf0.001 only")

    from taps_spark.queries import REGISTRY, _load

    _load()
    with open(os.path.join(os.path.dirname(__file__), "data",
                           "pca_frozen_sf0001.json")) as f:
        frozen = json.load(f)
    top = {
        r["dim"]: r["component"]
        for r in REGISTRY["similarity_pca_top_component"].fn(spark, sf_dir).collect()
    }
    comps = {
        (r["pc"], r["dim"]): r["component"]
        for r in REGISTRY["similarity_pca_components"].fn(spark, sf_dir).collect()
    }
    assert len(top) == 64 and len(comps) == 192
    for d, v in enumerate(frozen["top_component"], start=1):
        assert abs(top[d] - v) < 2e-6, (d, top[d], v)
    for pc, vec in enumerate(frozen["components"], start=1):
        for d, v in enumerate(vec, start=1):
            assert abs(comps[(pc, d)] - v) < 2e-6, (pc, d, comps[(pc, d)], v)


def test_ivf_recall_sweep_invariants(spark, any_sf_dir):
    sf_dir = any_sf_dir  # second-seed re-gate (rows-only convention)
    """Compensating pins for the rows-only similarity_ivf_recall_sweep:
    (a) nprobe = nlist = 16 probes EVERY inverted list, so the sweep's
    last row must be exact brute force — recall_ppm == 1_000_000;
    (b) recall is monotone non-decreasing in nprobe (candidate sets
    are nested by construction);
    (c) n_truth is constant across sweep points (the ground-truth pass
    is shared, not recomputed)."""
    from taps_spark.queries import REGISTRY, _load

    _load()
    rows = {
        r["nprobe"]: r
        for r in (
            REGISTRY["similarity_ivf_recall_sweep"]
            .fn(spark, sf_dir)
            .collect()
        )
    }
    assert sorted(rows) == [1, 2, 4, 16]
    assert rows[16]["recall_ppm"] == 1_000_000, rows[16]
    recalls = [rows[p]["recall_ppm"] for p in (1, 2, 4, 16)]
    assert recalls == sorted(recalls), recalls
    truths = {rows[p]["n_truth"] for p in (1, 2, 4, 16)}
    assert len(truths) == 1 and truths.pop() > 0


def test_kcore_matches_pure_python_peel(spark, any_sf_dir):
    sf_dir = any_sf_dir  # second-seed re-gate (rows-only convention)
    """Replay pin for the rows-only graph_kcore: exact node/edge
    counts vs a pure-Python peel of the same thresholded edge list,
    plus the nesting invariant core(4) <= core(3) <= core(2)."""
    from taps_spark.queries import REGISTRY, _load
    from taps_spark.queries.graph import _copurchase_edges

    _load()
    got = {
        r["k"]: (r["n_core_nodes"], r["n_core_edges"])
        for r in REGISTRY["graph_kcore"].fn(spark, sf_dir).collect()
    }
    edges = [(r["u"], r["v"]) for r in _copurchase_edges(spark, sf_dir).collect()]
    for k in (2, 3, 4):
        es = set(edges)
        while True:
            deg: dict = {}
            for u, v in es:
                deg[u] = deg.get(u, 0) + 1
                deg[v] = deg.get(v, 0) + 1
            bad = {n for n, d in deg.items() if d < k}
            if not bad:
                break
            es = {(u, v) for u, v in es if u not in bad and v not in bad}
        nodes = {n for e in es for n in e}
        assert got[k] == (len(nodes), len(es)), (k, got[k], len(nodes), len(es))
    assert got[4][0] <= got[3][0] <= got[2][0]
    assert got[4][1] <= got[3][1] <= got[2][1]


def test_kcore_raises_at_round_cap(spark, sf_dir, monkeypatch):
    """A 121-node path peels only its two ends per round, so its empty
    2-core takes 60 rounds to reach — past the 50-round cap. Hitting
    the cap must raise, not report the half-peeled path as the core."""
    import taps_spark.queries.graph as graph_queries

    path = spark.createDataFrame([(i, i + 1) for i in range(120)], "u long, v long")
    monkeypatch.setattr(graph_queries, "_copurchase_edges", lambda *_: path)
    with pytest.raises(RuntimeError, match="not converged"):
        graph_queries.graph_kcore(spark, sf_dir).collect()


def test_kendall_tau_matches_numpy_brute_force(spark, sf_dir):
    """Independent check for stats_kendall_tau: both engines now share
    the per-level-union decomposition (chosen for its memory profile),
    so the cross-engine gate alone can't catch a shared algorithmic
    mistake — this O(n^2) sign-count brute force can."""
    import collections
    import math

    import numpy as np

    from taps_spark.io.tables import load_table
    from taps_spark.queries import REGISTRY, _load

    _load()
    got = {
        r["flag"]: (r["n"], int(r["n_concordant"]), int(r["n_discordant"]),
                    r["tau_b_ppm"])
        for r in REGISTRY["stats_kendall_tau"].fn(spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    ).toPandas()
    for flag, g in li.groupby("l_returnflag"):
        q = g["l_quantity"].to_numpy(dtype=float)
        p = g["l_extendedprice"].to_numpy(dtype=float)
        n = len(q)
        prod = np.sign(q[:, None] - q[None, :]) * np.sign(p[:, None] - p[None, :])
        C = int((prod > 0).sum() // 2)
        D = int((prod < 0).sum() // 2)
        n0 = n * (n - 1) // 2
        n1 = sum(t * (t - 1) // 2 for t in collections.Counter(q).values())
        n2 = sum(t * (t - 1) // 2 for t in collections.Counter(p).values())
        tau_ppm = math.floor(
            (C - D) / (math.sqrt(n0 - n1) * math.sqrt(n0 - n2)) * 1e6 + 0.5
        )
        assert got[flag] == (n, C, D, tau_ppm), (flag, got[flag], (n, C, D, tau_ppm))
