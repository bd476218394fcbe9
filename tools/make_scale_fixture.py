"""Generate a synthetic N× replica of an sf fixture dir for scale-curve
measurement (VERDICT r7 task #1): salted replication with NEW key
ranges and deterministically perturbed content, so duplication rates
and graph structure stay realistic instead of exploding quadratically
(a verbatim 10× copy would give every doc 9 exact duplicates).

Only the tables the top-cost registry queries read are produced:
documents, embeddings, lineitem.

- documents: doc_id offset per replica; for replica k > 0 EVERY token
  gets a replica-specific suffix — a bijection per replica, so
  within-replica duplicate structure (Jaccard values, LSH buckets,
  components) is preserved EXACTLY, while cross-replica Jaccard is 0.
  This models a 10× crawl honestly: new shards bring new content at
  the same dup RATE, so true near-dup work grows linearly. (A
  partial perturbation was measured to be a trap: 20% token mutation
  leaves former exact-dup pairs at J≈0.47 cross-replica, which still
  LSH-collides with p≈0.63 per pair — candidate volume then grows
  QUADRATICALLY in replicas, a fixture artifact that buries the
  engine's own scaling.)
- embeddings: vec_id offset; replica k > 0 vectors pass through a
  seeded signed permutation (v'[i] = s[i]·v[perm[i]]) — norms and
  all within-replica dot products are exactly preserved, so blocked
  NN / ANN structure repeats per replica, while cross-replica
  cosines fall to random background.
- lineitem: all three join keys offset per replica → N disconnected
  copies of the co-supplier graph (PageRank rounds stay constant,
  edges scale linearly — the real-cluster shape for a sharded graph).

Usage: python tools/make_scale_fixture.py [src_sf_dir] [out_dir] [N]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1_synth"
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    from pyspark.sql import functions as F

    from taps_spark.session import get_spark

    spark = get_spark("make_scale_fixture")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out, exist_ok=True)

    reps = spark.range(n).select(F.col("id").cast("int").alias("rep"))

    docs = spark.read.parquet(os.path.join(src, "documents.parquet"))
    stride = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    perturbed_tokens = F.transform(
        F.split(F.col("text"), r"\s+"),
        lambda t: F.when(
            F.col("rep") > 0,
            F.concat(t, F.lit("_r"), F.col("rep").cast("string")),
        ).otherwise(t),
    )
    (
        docs.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("rep").cast("long") * stride).alias("doc_id"),
            F.concat_ws(" ", perturbed_tokens).alias("text"),
            "lang",
            "source",
        )
        .withColumn("n_chars", F.length("text"))
        .repartition(16)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "documents.parquet"))
    )

    emb = spark.read.parquet(os.path.join(src, "embeddings.parquet"))
    vstride = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    dim = len(emb.select("embedding").first()[0])
    import random

    perms: list[list[int]] = []
    signs: list[list[int]] = []
    for k in range(n):
        rnd = random.Random(1000 + k)
        p = list(range(dim))
        if k > 0:
            rnd.shuffle(p)
        perms.append(p)
        signs.append(
            [1] * dim if k == 0 else [rnd.choice((-1, 1)) for _ in range(dim)]
        )
    perm_lit = F.array(
        *[F.array(*[F.lit(v) for v in p]) for p in perms]
    )
    sign_lit = F.array(
        *[F.array(*[F.lit(float(v)) for v in s]) for s in signs]
    )
    shuffled = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.element_at(F.col("embedding"), perm_lit[F.col("rep")][i] + 1)
        * sign_lit[F.col("rep")][i],
    )
    (
        emb.crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") + F.col("rep").cast("long") * vstride).alias("vec_id"),
            shuffled.cast("array<float>").alias("embedding"),
            "label",
        )
        .repartition(16)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "embeddings.parquet"))
    )

    # One shared stride per KEY DOMAIN (orderkey/partkey/suppkey/
    # custkey), derived from the max over EVERY table carrying that
    # key — fact and dimension alike. Per-table strides (the r9 shape)
    # only preserve cross-table FK joins when each dimension's max key
    # happens to appear in the fact table; a fixture where the top
    # customer/part has no orders/lineitems would silently break every
    # replica-k>0 join (ADVICE r9 #1).
    li = spark.read.parquet(os.path.join(src, "lineitem.parquet"))
    od = spark.read.parquet(os.path.join(src, "orders.parquet"))
    cu = spark.read.parquet(os.path.join(src, "customer.parquet"))
    su = spark.read.parquet(os.path.join(src, "supplier.parquet"))
    pa = spark.read.parquet(os.path.join(src, "part.parquet"))
    lk = li.agg(
        F.max("l_orderkey"), F.max("l_partkey"), F.max("l_suppkey")
    ).collect()[0]
    omax = od.agg(F.max("o_orderkey"), F.max("o_custkey")).collect()[0]
    cmax = cu.agg(F.max("c_custkey")).collect()[0][0]
    smax = su.agg(F.max("s_suppkey")).collect()[0][0]
    pmax = pa.agg(F.max("p_partkey")).collect()[0][0]
    orderkey_stride = max(lk[0], omax[0]) + 1
    partkey_stride = max(lk[1], pmax) + 1
    suppkey_stride = max(lk[2], smax) + 1
    custkey_stride = max(omax[1], cmax) + 1
    (
        li.crossJoin(F.broadcast(reps))
        .select(
            (
                F.col("l_orderkey") + F.col("rep").cast("long") * orderkey_stride
            ).alias("l_orderkey"),
            (
                F.col("l_partkey") + F.col("rep").cast("long") * partkey_stride
            ).alias("l_partkey"),
            (
                F.col("l_suppkey") + F.col("rep").cast("long") * suppkey_stride
            ).alias("l_suppkey"),
            *[
                c
                for c in li.columns
                if c not in ("l_orderkey", "l_partkey", "l_suppkey")
            ],
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "lineitem.parquet"))
    )

    # events: offset event_id and user_id per replica — N disjoint user
    # populations over the SAME time range, i.e. 10x traffic density
    # (the realistic shape for a 10x deployment: sessionization, drift
    # and per-user windows get 10x groups, not 10x-longer history).
    # ts / event_type / value / props ride along unchanged so type
    # mixes and value distributions stay honest per replica.
    ev = spark.read.parquet(os.path.join(src, "events.parquet"))
    eks = ev.agg(F.max("event_id"), F.max("user_id")).collect()[0]
    (
        ev.crossJoin(F.broadcast(reps))
        .select(
            (F.col("event_id") + F.col("rep").cast("long") * (eks[0] + 1)).alias(
                "event_id"
            ),
            (F.col("user_id") + F.col("rep").cast("long") * (eks[1] + 1)).alias(
                "user_id"
            ),
            *[c for c in ev.columns if c not in ("event_id", "user_id")],
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "events.parquet"))
    )

    # orders: offset both keys per replica — N disjoint customer books.
    (
        od.crossJoin(F.broadcast(reps))
        .select(
            (
                F.col("o_orderkey") + F.col("rep").cast("long") * orderkey_stride
            ).alias("o_orderkey"),
            (
                F.col("o_custkey") + F.col("rep").cast("long") * custkey_stride
            ).alias("o_custkey"),
            *[c for c in od.columns if c not in ("o_orderkey", "o_custkey")],
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "orders.parquet"))
    )

    # customer / part: offset the PK per replica — N disjoint entity
    # books (the profiling family's FD/key/MI audits read these; the
    # non-key attribute columns ride along so per-replica cardinality
    # ratios and dependency structure are preserved exactly).
    (
        cu.crossJoin(F.broadcast(reps))
        .select(
            (
                F.col("c_custkey") + F.col("rep").cast("long") * custkey_stride
            ).alias("c_custkey"),
            *[c for c in cu.columns if c != "c_custkey"],
        )
        .repartition(8)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "customer.parquet"))
    )
    (
        su.crossJoin(F.broadcast(reps))
        .select(
            (
                F.col("s_suppkey") + F.col("rep").cast("long") * suppkey_stride
            ).alias("s_suppkey"),
            *[c for c in su.columns if c != "s_suppkey"],
        )
        .repartition(4)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "supplier.parquet"))
    )
    (
        pa.crossJoin(F.broadcast(reps))
        .select(
            (
                F.col("p_partkey") + F.col("rep").cast("long") * partkey_stride
            ).alias("p_partkey"),
            *[c for c in pa.columns if c != "p_partkey"],
        )
        .repartition(8)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "part.parquet"))
    )

    for t in ("documents", "embeddings", "lineitem", "events", "orders",
              "customer", "part", "supplier"):
        c = spark.read.parquet(os.path.join(out, f"{t}.parquet")).count()
        print(f"{t}: {c} rows")

    # FK self-check (r10 VERDICT task #2): the shared per-key-domain
    # strides exist precisely so replica-k>0 cross-table joins stay
    # intact; assert zero orphans on the WRITTEN fixture so a future
    # edit (a new table, a per-table stride regression) fails here
    # instead of silently poisoning every SCALE_CURVES artifact built
    # on this tool.
    def orphans(fact: str, fk: str, dim: str, pk: str) -> int:
        f = spark.read.parquet(os.path.join(out, f"{fact}.parquet")).select(fk)
        d = spark.read.parquet(os.path.join(out, f"{dim}.parquet")).select(pk)
        return f.join(d, f[fk] == d[pk], "left_anti").count()

    checks = {
        "lineitem->orders": orphans("lineitem", "l_orderkey", "orders", "o_orderkey"),
        "lineitem->part": orphans("lineitem", "l_partkey", "part", "p_partkey"),
        "lineitem->supplier": orphans("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        "orders->customer": orphans("orders", "o_custkey", "customer", "c_custkey"),
    }
    for label, n_orphan in checks.items():
        print(f"fk {label}: {n_orphan} orphans")
    bad = {k: v for k, v in checks.items() if v}
    if bad:
        raise SystemExit(f"FK self-check FAILED (fixture is corrupt): {bad}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
