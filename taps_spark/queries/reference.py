"""Reference-parity query inventory (SURVEY.md §2a).

Each entry re-expresses one of the reference's actual operators as a
Spark plan over the fixture tables: catalog discovery + counts (#1/#2),
table-name filtering (#3), offset scan (#4), keyset scan (#5 — THE
core taps access path), sort/limit (#6/#7), pk theta filter (#8), max
aggregate (#9), checksum verification (#16), and the validation rules
that back InvalidData (§1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taps_spark.catalog import apply_table_filter, compile_table_pattern, discover_tables, table_counts
from taps_spark.io.sources import read_parquet
from taps_spark.io.tables import load_tables, scratch
from taps_spark.queries import query

TABLE_COUNTS_ORACLE = """
SELECT 'customer' AS table_name, COUNT(*) AS n_rows FROM customer
UNION ALL SELECT 'documents',  COUNT(*) FROM documents
UNION ALL SELECT 'embeddings', COUNT(*) FROM embeddings
UNION ALL SELECT 'events',     COUNT(*) FROM events
UNION ALL SELECT 'lineitem',   COUNT(*) FROM lineitem
UNION ALL SELECT 'nation',     COUNT(*) FROM nation
UNION ALL SELECT 'orders',     COUNT(*) FROM orders
UNION ALL SELECT 'part',       COUNT(*) FROM part
UNION ALL SELECT 'region',     COUNT(*) FROM region
UNION ALL SELECT 'supplier',   COUNT(*) FROM supplier
ORDER BY table_name
"""


@query("table_counts", oracle=TABLE_COUNTS_ORACLE)
def q_table_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog discovery + per-table COUNT(*) (reference #1/#2:
    GET pull/table_names + POST pull/table_count,
    lib/taps/server.rb:147-169).

    Scale: counts are satisfied from parquet footer metadata — no
    data scan at any SF.
    """
    return table_counts(spark, sf_dir).orderBy("table_name")


CATALOG_FILTER_ORACLE = """
SELECT table_name FROM (
  VALUES ('customer'), ('lineitem'), ('orders'), ('supplier')
) AS t(table_name)
ORDER BY table_name
"""


@query("catalog_filter", oracle=CATALOG_FILTER_ORACLE)
def q_catalog_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-name regex include + exclude filter (reference #3:
    apply_table_filter, lib/taps/operation.rb:40-63; regex compiled
    like lib/taps/cli.rb:137-142).

    Selects tables ending in 'er(s)?'-ish business names while
    excluding 'part' — exercising both the include regex and the
    exclude list against the discovered catalog.
    """
    names = discover_tables(sf_dir)
    kept = apply_table_filter(
        names,
        pattern=compile_table_pattern(["customer", "lineitem", "orders", "supplier", "part"]),
        exclude=["part"],
    )
    return spark.createDataFrame([(n,) for n in kept], "table_name string").orderBy("table_name")


KEYSET_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus, ROUND(o_totalprice, 2) AS totalprice
FROM orders
WHERE o_orderkey > 500
ORDER BY o_orderkey
LIMIT 200
"""


@query("scan_keyset_page", oracle=KEYSET_ORACLE)
def q_scan_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset-paginated scan: WHERE pk > last ORDER BY pk LIMIT k —
    the reference's primary access path (#5, DataStreamKeyed,
    lib/taps/data_stream.rb:279-312) plus its pk theta filter (#8,
    lib/taps/data_stream.rb:286-289).

    Scale: the pk predicate pushes into the parquet scan (row-group
    min/max pruning); LIMIT is a TakeOrdered — no full materialization.
    On a JDBC source this same shape becomes Spark's partitionColumn
    range read (io/jdbc.py).
    """
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    return (
        orders.filter(F.col("o_orderkey") > 500)
        .orderBy("o_orderkey")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("totalprice"),
        )
        .limit(200)
    )


OFFSET_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderpriority
FROM orders
ORDER BY o_orderkey
LIMIT 100 OFFSET 300
"""


@query("scan_offset_page", oracle=OFFSET_ORACLE)
def q_scan_offset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset-paginated scan: ORDER BY pk LIMIT k OFFSET n — the
    reference's fallback access path for tables without a single
    integer PK (#4, lib/taps/data_stream.rb:76-87).

    The reference itself documents this as its O(n²) perf cliff
    (README.rdoc:36); kept for parity + pagination semantics, with
    keyset (scan_keyset_page) as the scale path.
    """
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    return (
        orders.orderBy("o_orderkey")
        .select("o_orderkey", "o_custkey", "o_orderpriority")
        .offset(300)
        .limit(100)
    )


COUNT_MAX_ORACLE = """
SELECT COUNT(*) AS n_rows, MAX(l_orderkey) AS max_pk, MIN(l_orderkey) AS min_pk
FROM lineitem
"""


@query("agg_count_max_pk", oracle=COUNT_MAX_ORACLE)
def q_agg_count_max_pk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's complete aggregate surface in one query:
    COUNT(*) (#2, lib/taps/server.rb:160-169) and MAX(pk) (#9,
    verify_stream re-anchor, lib/taps/data_stream.rb:329-340); MIN
    added because the JDBC scan planner needs both bounds
    (io/jdbc.py partition planning)."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    return li.agg(
        F.count("*").alias("n_rows"),
        F.max("l_orderkey").alias("max_pk"),
        F.min("l_orderkey").alias("min_pk"),
    )


CHECKSUM_ORACLE = """
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       MIN(MD5(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR))) AS min_h,
       MAX(MD5(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR))) AS max_h
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("checksum_verify", oracle=CHECKSUM_ORACLE)
def q_checksum_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-checksum verification (reference #16: CRC32 over each
    chunk, lib/taps/utils.rb:25-31, lib/taps/data_stream.rb:188-200).

    Spark-native form: an order-insensitive digest per key-group
    (count + min/max of a per-row MD5 over the primary key) that can
    be computed independently on source and sink and compared — the
    transfer layer uses the same construction (transfer/verify.py)
    over ALL columns. Hash input uses only integer keys rendered as
    strings, so the digest is engine-portable.
    """
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    row_h = F.md5(
        F.concat_ws("|", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string"))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.min(row_h).alias("min_h"),
            F.max(row_h).alias("max_h"),
        )
        .orderBy("l_returnflag")
    )


VALIDATION_ORACLE = """
SELECT
  CAST(SUM(CASE WHEN LENGTH(c_name) > 25 THEN 1 ELSE 0 END) AS BIGINT)  AS name_too_long,
  CAST(SUM(CASE WHEN c_acctbal < -999999.0 OR c_acctbal > 999999.0 THEN 1 ELSE 0 END) AS BIGINT) AS acctbal_out_of_range,
  CAST(SUM(CASE WHEN c_custkey < 0 OR c_custkey > 2147483647 THEN 1 ELSE 0 END) AS BIGINT) AS custkey_overflow,
  COUNT(*) AS n_rows
FROM customer
"""


@query("validation_scan", oracle=VALIDATION_ORACLE)
def q_validation_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-validation scan: varchar-length and integer-range rule
    violations counted in one pass (reference InvalidData semantics:
    varchar overflow lib/taps/utils.rb:59-68, integer out of range
    lib/taps/data_stream.rb:206-213). The transfer layer raises
    InvalidData when any counter is nonzero (validation.py)."""
    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    return c.agg(
        F.sum(F.when(F.length("c_name") > 25, 1).otherwise(0)).alias("name_too_long"),
        F.sum(
            F.when((F.col("c_acctbal") < -999999.0) | (F.col("c_acctbal") > 999999.0), 1).otherwise(0)
        ).alias("acctbal_out_of_range"),
        F.sum(
            F.when((F.col("c_custkey") < 0) | (F.col("c_custkey") > 2147483647), 1).otherwise(0)
        ).alias("custkey_overflow"),
        F.count("*").alias("n_rows"),
    )


FK_ORPHAN_ORACLE = """
SELECT 'lineitem->orders' AS relation,
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
         AS n_orphans,
       (SELECT COUNT(*) FROM lineitem) AS n_child_rows
UNION ALL
SELECT 'orders->customer',
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
       (SELECT COUNT(*) FROM orders)
UNION ALL
SELECT 'customer->nation',
       (SELECT COUNT(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)),
       (SELECT COUNT(*) FROM customer)
ORDER BY relation
"""


@query("validate_fk_orphans", oracle=FK_ORPHAN_ORACLE)
def validate_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity scan after a bulk copy: orphan counts per
    FK relation via LEFT-ANTI joins (the check the reference's
    per-table transfer cannot do, since it never joins —
    lib/taps/operation.rb:273-286 moves tables independently and
    trusts the source). Each child table is scanned once, key-only
    (column pruning to the FK).

    Broadcast is SIZE-GATED: only true dimension parents (nation,
    region — bounded row counts at any scale) carry an explicit
    broadcast hint. Fact-sized parents (orders, customer) get no hint:
    at 100 TB a forced broadcast of orders' key set would OOM the
    executors, while unhinted AQE picks shuffled left-anti (or its own
    runtime broadcast when the key set turns out small)."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders", "customer", "nation"))

    def orphans(
        child: DataFrame,
        ckey: str,
        parent: DataFrame,
        pkey: str,
        rel: str,
        small_parent: bool = False,
    ) -> DataFrame:
        pk = parent.select(pkey)
        anti = child.select(ckey).join(
            F.broadcast(pk) if small_parent else pk, F.col(ckey) == F.col(pkey), "left_anti"
        )
        # two 1-row aggregates cross-joined — no eager .count() action
        return (
            anti.agg(F.count("*").alias("n_orphans"))
            .crossJoin(child.agg(F.count("*").alias("n_child_rows")))
            .select(F.lit(rel).alias("relation"), "n_orphans", "n_child_rows")
        )

    return (
        orphans(t["lineitem"], "l_orderkey", t["orders"], "o_orderkey", "lineitem->orders")
        .unionByName(
            orphans(t["orders"], "o_custkey", t["customer"], "c_custkey", "orders->customer")
        )
        .unionByName(
            orphans(
                t["customer"],
                "c_nationkey",
                t["nation"],
                "n_nationkey",
                "customer->nation",
                small_parent=True,
            )
        )
        .orderBy("relation")
    )


ROW_DIFF_ORACLE = """
WITH a AS (
  SELECT o_orderkey AS pk,
         MD5(CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' || o_orderpriority) AS h
  FROM orders WHERE o_orderkey % 97 <> 0
),
b AS (
  SELECT o_orderkey AS pk,
         MD5(CAST(o_custkey AS VARCHAR) || '|' ||
             CASE WHEN o_orderkey % 311 = 0 THEN 'X' ELSE o_orderstatus END ||
             '|' || o_orderpriority) AS h
  FROM orders WHERE o_orderkey % 89 <> 0
)
SELECT CASE WHEN b.pk IS NULL THEN 'missing_in_target'
            WHEN a.pk IS NULL THEN 'extra_in_target'
            WHEN a.h <> b.h THEN 'mismatch'
            ELSE 'match' END AS status,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(COALESCE(a.pk, b.pk)) AS min_pk,
       MAX(COALESCE(a.pk, b.pk)) AS max_pk
FROM a FULL OUTER JOIN b ON a.pk = b.pk
GROUP BY 1
ORDER BY 1
"""


@query("transfer_row_level_diff", oracle=ROW_DIFF_ORACLE)
def transfer_row_level_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level source/target reconciliation — the drill-down behind
    `checksum_verify` (reference: lib/taps/data_stream.rb:115-125
    verify_stream): when table checksums disagree, classify every pk
    as match / mismatch / missing_in_target / extra_in_target and
    report the pk range of each class, so a repair job can re-copy
    exactly the damaged key ranges instead of the whole table. The
    source and target sides are derived deterministically from the
    orders fixture (distinct modular drops plus a status flip) so the
    oracle sees the same two snapshots.

    Scale: both sides reduce to (pk, 32-byte row-hash) map-side —
    the full-outer join shuffles hashes, never rows, co-partitioned
    on pk (bucketed sinks make it exchange-free). This is how you
    verify a 100 TB transfer without moving the data twice.
    """
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]

    def hashed(df: DataFrame, status_col) -> DataFrame:
        return df.select(
            F.col("o_orderkey").alias("pk"),
            F.md5(
                F.concat_ws(
                    "|", F.col("o_custkey"), status_col, F.col("o_orderpriority")
                )
            ).alias("h"),
        )

    a = hashed(orders.filter(F.col("o_orderkey") % 97 != 0), F.col("o_orderstatus"))
    b = hashed(
        orders.filter(F.col("o_orderkey") % 89 != 0),
        F.when(F.col("o_orderkey") % 311 == 0, "X").otherwise(F.col("o_orderstatus")),
    )
    joined = a.alias("a").join(b.alias("b"), F.col("a.pk") == F.col("b.pk"), "full_outer")
    status = (
        F.when(F.col("b.pk").isNull(), "missing_in_target")
        .when(F.col("a.pk").isNull(), "extra_in_target")
        .when(F.col("a.h") != F.col("b.h"), "mismatch")
        .otherwise("match")
    )
    pk = F.coalesce(F.col("a.pk"), F.col("b.pk"))
    return (
        joined.select(status.alias("status"), pk.alias("pk"))
        .groupBy("status")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("pk").alias("min_pk"),
            F.max("pk").alias("max_pk"),
        )
        .orderBy("status")
    )


PULL_DS_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus, ROUND(o_totalprice, 2) AS totalprice
FROM orders
WHERE o_orderkey > 1000
ORDER BY o_orderkey
"""


@query("scan_python_datasource", oracle=PULL_DS_ORACLE)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's keyset-chunked pull (#5, lib/taps/
    data_stream.rb:279-312) executed through a Spark Python
    DataSource against a LIVE sqlite database: exact keyset chunk
    boundaries planned driver-side, one partition (and one read-only
    DB connection) per chunk, Arrow-batch transfer, and the pk
    predicate ABSORBED into chunk planning via pushFilters — the
    filter narrows what gets chunked, not just what's returned.

    The sqlite endpoint is built from the orders fixture on every call,
    in a scratch dir that `release()` removes — a stand-in for the
    user's source database, exercising the full plan→connect→pull→verify
    path with a real SQL engine on the other side. See
    taps_spark/io/pull_source.py.
    """
    import os

    from taps_spark.io.pull_source import register_pull_source, sqlite_from_parquet

    db = sqlite_from_parquet(
        os.path.join(sf_dir, "orders.parquet"),
        os.path.join(scratch("taps_pull_"), "orders.db"),
        "orders",
        columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"],
    )
    register_pull_source(spark)
    # Chunk sizing (r13, guide §6 / r12 VERDICT task #7): the
    # reference's chunk size is a semantic of its RESUME protocol
    # (data_stream.rb state is "last pk shipped"), not of row
    # delivery — any chunking returns the same rows. So size chunks
    # for partition economics instead of a constant: target ~3 chunks
    # per core (enough for stragglers, few enough that the per-chunk
    # Python fixed cost — connect, ORDER BY, Arrow build — stays
    # amortized), floored at the reference-scale 2000 so resume
    # granularity never gets coarser than the reference's own default
    # at small tables. Row count comes from parquet footer metadata
    # (O(1), no scan). At 100 TB this keeps the chunk count
    # cluster-sized where a fixed 2000 would plan millions of
    # driver-coordinated chunks. See SCALE.md (round-13 notes).
    import pyarrow.parquet as _pq

    n_rows = _pq.read_metadata(os.path.join(sf_dir, "orders.parquet")).num_rows
    target_chunks = max(1, spark.sparkContext.defaultParallelism) * 3
    chunk_rows = max(2000, -(-n_rows // target_chunks))
    df = (
        spark.read.format("taps_pull")
        .option("path", db)
        .option("table", "orders")
        .option("pk", "o_orderkey")
        .option("chunk_rows", str(chunk_rows))
        .load()
    )
    return (
        df.filter(F.col("o_orderkey") > 1000)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("totalprice"),
        )
        .orderBy("o_orderkey")
    )


CDC_APPLY_ORACLE = """
WITH ops AS (
  SELECT o_custkey AS key,
         o_orderkey AS seq,
         CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
         o_totalprice AS price
  FROM orders
),
ranked AS (
  SELECT key, seq, op, price,
         ROW_NUMBER() OVER (PARTITION BY key ORDER BY seq DESC) AS rn,
         COUNT(*)     OVER (PARTITION BY key)                   AS n_ops
  FROM ops
)
SELECT key, seq AS last_seq, ROUND(price, 2) AS last_price, n_ops
FROM ranked
WHERE rn = 1 AND op = 'U'
ORDER BY key
"""


@query("transfer_cdc_apply", oracle=CDC_APPLY_ORACLE)
def transfer_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply — the incremental counterpart of the
    reference's full-table copy (the reference re-pulls whole tables,
    lib/taps/operation.rb:273-286; a change-data-capture feed applies
    upserts/deletes instead): collapse an ordered op stream
    (key, seq, U|D, value) to the final snapshot by last-writer-wins,
    dropping keys whose final op is a delete.

    The changelog derives deterministically from orders (key =
    o_custkey, seq = o_orderkey, every 10th op a delete) so the DuckDB
    oracle replays the identical stream.

    Scale: one hash-shuffle on the key; row_number + count share ONE
    window partitioning so Spark plans a single exchange, and
    WindowGroupLimit prunes rn>1 rows map-side before it. This is
    exactly the MERGE INTO collapse Delta/Iceberg run on a CDC feed —
    at 100 TB the snapshot side stays partitioned by key and only the
    (small) changelog shuffles.
    """
    from pyspark.sql import Window

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    ops = orders.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 10 == 0, "D").otherwise("U").alias("op"),
        F.col("o_totalprice").alias("price"),
    )
    w = Window.partitionBy("key")
    ranked = ops.select(
        "key",
        "seq",
        "op",
        "price",
        F.row_number().over(w.orderBy(F.col("seq").desc())).alias("rn"),
        F.count("*").over(w).alias("n_ops"),
    )
    return (
        ranked.filter((F.col("rn") == 1) & (F.col("op") == "U"))
        .select(
            "key",
            F.col("seq").alias("last_seq"),
            F.round("price", 2).alias("last_price"),
            "n_ops",
        )
        .orderBy("key")
    )


CHUNK_AUDIT_ORACLE = """
WITH k AS (
  SELECT o_orderkey AS pk FROM orders
  WHERE o_orderkey % 97 <> 13 AND o_orderkey // 1024 NOT IN (5, 6)
),
b AS (SELECT MIN(pk) AS gmin, MAX(pk) AS gmax FROM k),
stats AS (
  SELECT pk // 1024 AS chunk_id, CAST(COUNT(*) AS BIGINT) AS n_present
  FROM k GROUP BY 1
),
spine AS (
  SELECT UNNEST(range(gmin // 1024, gmax // 1024 + 1)) AS chunk_id, gmin, gmax
  FROM b
)
SELECT s.chunk_id,
       GREATEST(s.gmin, s.chunk_id * 1024)        AS chunk_lo,
       LEAST(s.gmax, s.chunk_id * 1024 + 1023)    AS chunk_hi,
       COALESCE(st.n_present, 0)                  AS n_present,
       LEAST(s.gmax, s.chunk_id * 1024 + 1023)
         - GREATEST(s.gmin, s.chunk_id * 1024) + 1
         - COALESCE(st.n_present, 0)              AS n_missing
FROM spine s
LEFT JOIN stats st USING (chunk_id)
WHERE LEAST(s.gmax, s.chunk_id * 1024 + 1023)
        - GREATEST(s.gmin, s.chunk_id * 1024) + 1
        - COALESCE(st.n_present, 0) > 0
ORDER BY s.chunk_id
"""


@query("transfer_chunk_audit", oracle=CHUNK_AUDIT_ORACLE)
def transfer_chunk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-completeness audit: which fixed-width pk chunks of a
    transferred table are missing keys, and how many. The repair-side
    counterpart of the reference's chunked keyset transfer
    (lib/taps/data_stream.rb fetch ranges): a resumed or interrupted
    copy re-pulls exactly the incomplete chunks this reports, instead
    of diffing whole tables row by row.

    Plan shape (deliberately window-free — a global lag() over pk
    would single-partition the sort): one map-side-combinable groupBy
    on pk DIV 1024 (counts per chunk), one 1-row global min/max, a
    chunk-id spine exploded FROM that 1-row aggregate (so the spine
    is exactly gmin..gmax chunks, never a driver-side range), and a
    left join spine←stats that AQE executes as broadcast. Missing =
    clamped chunk span − present count; entirely-missing interior
    chunks surface from the spine side with n_present = 0.

    Scale: shuffle carries (chunk_id, count) — |table|/1024 rows of
    two longs; the raw pk column never shuffles. At 100 TB this is
    the audit you can afford to run after every transfer.
    """
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    # Deterministically damaged target snapshot (same convention as
    # transfer_row_level_diff): scattered modular drops (pk % 97 = 13)
    # plus two entirely-lost interior chunks (5 and 6) — the oracle
    # derives the identical snapshot, and the lost chunks prove the
    # spine side surfaces n_present = 0 rows.
    keys = (
        orders.select(F.col("o_orderkey").alias("pk"))
        .filter((F.col("pk") % 97 != 13) & (~F.expr("pk DIV 1024").isin(5, 6)))
    )
    stats = keys.groupBy(F.expr("pk DIV 1024").alias("chunk_id")).agg(
        F.count("*").alias("n_present")
    )
    bounds = keys.agg(F.min("pk").alias("gmin"), F.max("pk").alias("gmax"))
    spine = bounds.select(
        F.explode(
            F.sequence(F.expr("gmin DIV 1024"), F.expr("gmax DIV 1024"))
        ).alias("chunk_id"),
        "gmin",
        "gmax",
    )
    lo = F.greatest(F.col("gmin"), F.col("chunk_id") * 1024)
    hi = F.least(F.col("gmax"), F.col("chunk_id") * 1024 + 1023)
    present = F.coalesce(F.col("n_present"), F.lit(0)).cast("long")
    return (
        spine.join(stats, "chunk_id", "left")
        .select(
            "chunk_id",
            lo.alias("chunk_lo"),
            hi.alias("chunk_hi"),
            present.alias("n_present"),
            (hi - lo + 1 - present).alias("n_missing"),
        )
        .filter(F.col("n_missing") > 0)
        .orderBy("chunk_id")
    )


STREAM_PULL_ORACLE = """
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS totalprice
FROM orders
ORDER BY o_orderkey
"""


@query("transfer_stream_pull", oracle=STREAM_PULL_ORACLE)
def transfer_stream_pull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous replication — the reference's repeated pull cycle
    (lib/taps/cli.rb pull re-run against a growing source; resume
    state in data_stream.rb:15-25) as a Structured Streaming query
    over the taps_pull Python DataSource stream reader
    (io/pull_source.SqlitePullStreamReader).

    A live sqlite database (built from the orders fixture) streams
    micro-batch keyset ranges into a parquet sink with checkpointed
    offsets; after processAllAvailable the sink holds exactly the
    source table — which is precisely what the oracle asserts. The
    kill-and-restart delta proof (only NEW rows ship on resume, zero
    duplicate pks) is pinned in tests/test_streaming_semantics.py.

    Scale: each micro-batch keyset-chunks its (start, end] range, so
    catch-up after downtime fans out across executors instead of
    trickling through the reference's single cursor.
    """
    import os

    from taps_spark.io.pull_source import register_pull_source, sqlite_from_parquet

    # Ephemeral source, sink and checkpoint: every invocation replays
    # the full replication from a fresh offset log (the resume path is
    # pinned separately in pytest with a persistent checkpoint).
    work = scratch("taps_stream_pull_")
    register_pull_source(spark)
    db = sqlite_from_parquet(
        os.path.join(sf_dir, "orders.parquet"),
        os.path.join(work, "orders.db"),
        "orders",
        columns=["o_orderkey", "o_custkey", "o_totalprice"],
    )
    out, ckpt = os.path.join(work, "out"), os.path.join(work, "ckpt")
    q = (
        spark.readStream.format("taps_pull")
        .option("path", db)
        .option("table", "orders")
        .option("pk", "o_orderkey")
        .option("chunk_rows", "20000")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    return (
        read_parquet(spark, out)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("totalprice"),
        )
        .orderBy("o_orderkey")
    )


_DRYRUN_TABLES = (
    ("customer", "c_custkey"),
    ("documents", "doc_id"),
    ("embeddings", "vec_id"),
    ("events", "event_id"),
    ("nation", "n_nationkey"),
    ("orders", "o_orderkey"),
    ("part", "p_partkey"),
    ("region", "r_regionkey"),
    ("supplier", "s_suppkey"),
)

TRANSFER_DRYRUN_ORACLE = "\nUNION ALL\n".join(
    f"""
SELECT '{t}' AS table_name, COUNT(*) AS n_rows,
       MIN({pk}) AS min_pk, MAX({pk}) AS max_pk,
       CAST(CEIL(COUNT(*) / 10000.0) AS BIGINT) AS n_chunks,
       CAST(CASE WHEN COUNT(*) = 0 THEN 0
                 ELSE (MAX({pk}) - MIN({pk}) + 1) - COUNT(*) END AS BIGINT) AS pk_gaps
FROM {t}"""
    for t, pk in _DRYRUN_TABLES
) + "\nORDER BY table_name"


@query("transfer_dryrun_plan", oracle=TRANSFER_DRYRUN_ORACLE)
def transfer_dryrun_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transfer DRY RUN: the chunk plan the reference computes
    implicitly per table (lib/taps/operation.rb:273-286 iterates
    tables; data_stream.rb keyset-pages by single-int pk;
    chunksize.rb sizes chunks), surfaced as a queryable manifest —
    per table: row count, pk bounds, 10k-row chunk count, and pk GAPS
    (max−min+1 − rows), the number every keyset pager needs to know
    because gap-heavy ranges make range-partitioned reads skewed.

    Scale: one count/min/max aggregate per table (metadata-cheap
    map-side partials), unioned — the same shape `plan_jdbc_scan`
    consumes to pick partitionColumn bounds, so this is literally the
    planner's input relation.
    """
    from functools import reduce

    t = load_tables(spark, sf_dir, [n for n, _ in _DRYRUN_TABLES])
    parts = []
    for name, pk in _DRYRUN_TABLES:
        df = t[name]
        parts.append(
            df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min(pk).alias("min_pk"),
                F.max(pk).alias("max_pk"),
            ).select(
                F.lit(name).alias("table_name"),
                "n_rows",
                F.col("min_pk").cast("long").alias("min_pk"),
                F.col("max_pk").cast("long").alias("max_pk"),
                F.ceil(F.col("n_rows") / 10000.0).cast("long").alias("n_chunks"),
                F.when(F.col("n_rows") == 0, F.lit(0))
                .otherwise(F.col("max_pk") - F.col("min_pk") + 1 - F.col("n_rows"))
                .cast("long")
                .alias("pk_gaps"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts).orderBy("table_name")


RANGE_SPLIT_SKEW_ORACLE = """
WITH b AS (
  SELECT MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi FROM orders
),
assigned AS (
  SELECT CAST((o.o_orderkey - b.lo) * 8 // (b.hi - b.lo + 1) AS INT) AS split_id
  FROM orders o, b
),
g AS (
  SELECT split_id, COUNT(*)::BIGINT AS n_rows FROM assigned GROUP BY split_id
),
t AS (SELECT SUM(n_rows) AS total FROM g)
SELECT g.split_id, g.n_rows,
       CAST(FLOOR(CAST(g.n_rows AS DOUBLE) * 8
                  / CAST(t.total AS DOUBLE) * 1000 + 0.5) AS BIGINT)
         AS load_factor_milli
FROM g, t
ORDER BY g.split_id
"""


@query("transfer_range_split_skew", oracle=RANGE_SPLIT_SKEW_ORACLE)
def transfer_range_split_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-count skew of a NAIVE uniform pk-range split into 8
    partitions — exactly the split `spark.read.jdbc(partitionColumn,
    lowerBound, upperBound, numPartitions)` generates, and the modern
    form of the reference's keyset-range chunking assumption
    (lib/taps/data_stream.rb:268-277 sizes fetches by pk range and
    implicitly assumes range maps to rows). load_factor_milli = 1000
    means a perfectly balanced split; a sparse or clustered key domain
    (see profile_pk_gap_census) shows up as factors far from 1000 —
    the signal to switch that table to equi-depth predicates
    (profile_equidepth_histogram's cutpoints) before a 100 TB
    transfer serializes behind its hottest partition.

    Determinism: split assignment is pure integer math
    ((pk - lo) * 8 div span); counts are exact; the load factor is
    one fixed FLOOR fold over two exact integers.

    Scale: one aggregate for bounds (scan-only, min/max pushdown-able
    in parquet footers), one map-side-combined 8-group count — the
    cheapest two-pass shape; no window, no join wider than a
    broadcast scalar.
    """
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    b = orders.agg(
        F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
    )
    assigned = orders.crossJoin(F.broadcast(b)).select(
        F.expr(
            "CAST((o_orderkey - lo) * 8 div (hi - lo + 1) AS INT)"
        ).alias("split_id")
    )
    g = assigned.groupBy("split_id").agg(F.count(F.lit(1)).alias("n_rows"))
    t = g.agg(F.sum("n_rows").alias("total"))
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "split_id",
            "n_rows",
            F.floor(
                F.col("n_rows").cast("double") * 8 / F.col("total").cast("double")
                * 1000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("load_factor_milli"),
        )
        .orderBy("split_id")
    )


MONEY_PRECISION_ORACLE = """
WITH probe AS (
  SELECT 'l_discount' AS col, l_discount AS x FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT 'l_tax', l_tax FROM lineitem
  UNION ALL
  SELECT 'o_totalprice', o_totalprice FROM orders
)
SELECT col,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN x * 100 = FLOOR(x * 100) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_exact_cents,
       CAST(SUM(CASE WHEN x * 100 = FLOOR(x * 100) THEN 0 ELSE 1 END)
            AS BIGINT) AS n_fp_residue
FROM probe
GROUP BY col
ORDER BY col
"""


@query("validation_money_precision_audit", oracle=MONEY_PRECISION_ORACLE)
def validation_money_precision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money-column representability audit: for each DOUBLE money/rate
    column, how many values land EXACTLY on the cents grid
    (x*100 == floor(x*100) in IEEE double) vs carry binary-float
    residue — the modern form of the reference's write-side type
    validation (varchar length + integer range raise InvalidData,
    lib/taps/utils.rb:59-68, lib/taps/data_stream.rb:206-213): before
    a 100 TB transfer declares DECIMAL(18,2) target columns, this
    census says whether a lossless cast exists or rounding policy is
    needed. A nonzero n_fp_residue on a column the engine folds via
    ROUND(x*100) (every cents-grid query here) quantifies exactly
    which rows the fold normalizes.

    Determinism: both engines evaluate the same IEEE expression on
    the same parquet doubles — the predicate is bit-identical by
    construction; outputs are pure counts.

    Scale: one UNION of narrow single-column scans (column-pruned at
    the parquet reader), map-side-combined counts to 4 rows.
    """
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    li, od = t["lineitem"], t["orders"]

    def probe(df: DataFrame, col: str) -> DataFrame:
        return df.select(F.lit(col).alias("col"), F.col(col).alias("x"))

    probe_df = (
        probe(li, "l_discount")
        .unionByName(probe(li, "l_extendedprice"))
        .unionByName(probe(li, "l_tax"))
        .unionByName(probe(od, "o_totalprice"))
    )
    clean = (F.col("x") * 100 == F.floor(F.col("x") * 100).cast("double")).cast(
        "long"
    )
    return (
        probe_df.groupBy("col")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(clean).alias("n_exact_cents"),
            (F.count(F.lit(1)) - F.sum(clean)).alias("n_fp_residue"),
        )
        .orderBy("col")
    )
