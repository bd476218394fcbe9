"""Shared test fixtures: one SparkSession per test run, DuckDB oracle
connection with the fixture views registered — mirroring the driver's
correctness harness so mismatches surface locally first."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from taps_spark.io.tables import TABLE_NAMES, release, table_path  # noqa: E402
from taps_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("taps_spark_tests")
    yield spark
    spark.stop()


@pytest.fixture(autouse=True)
def _release_barriers():
    """Free each test's barriers once it has run its actions."""
    yield
    release()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_salted(tmp_path_factory) -> str:
    """SECOND fixture generation (VERDICT r7 task #6): a salted,
    deterministically perturbed replica of the test fixture, so the
    rows-only queries' compensating property tests are re-gated
    against data the pins were never tuned on. Perturbations are
    seed-fixed numpy/pyarrow transforms:

    - embeddings: elementwise ±5% multiplicative noise (cluster
      structure survives; exact values do not);
    - documents: ~20% of tokens get a salt suffix (within-corpus dup
      structure shifts; token-set machinery sees a new vocabulary);
    - events: user ids remapped by an affine hash (different distinct
      structure per type/day) and values jittered ±10%;
    - lineitem: a deterministic 10% of rows dropped (different graph
      topology and aggregate distributions).

    All other tables are symlinked unchanged."""
    import hashlib

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = str(tmp_path_factory.mktemp("sf_salted"))
    rng = np.random.default_rng(20260815)

    t = pq.read_table(table_path(SF_DIR, "embeddings"))
    emb = np.stack(t.column("embedding").to_pylist()).astype(np.float64)
    noise = 1.0 + (rng.random(emb.shape) - 0.5) * 0.1
    emb2 = (emb * noise).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": t.column("vec_id"),
                "embedding": pa.array(
                    list(emb2), type=pa.list_(pa.float32())
                ),
                "label": t.column("label"),
            }
        ),
        os.path.join(out, "embeddings.parquet"),
    )

    t = pq.read_table(table_path(SF_DIR, "documents"))
    texts = t.column("text").to_pylist()

    def _salt(txt):
        if txt is None:
            return None
        toks = txt.split()
        return " ".join(
            tok + "_salt"
            if int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % 5 == 0
            else tok
            for tok in toks
        )

    new_texts = [_salt(x) for x in texts]
    pq.write_table(
        pa.table(
            {
                "doc_id": t.column("doc_id"),
                "text": pa.array(new_texts, type=pa.string()),
                "lang": t.column("lang"),
                "source": t.column("source"),
                "n_chars": pa.array(
                    [len(x) if x is not None else None for x in new_texts],
                    type=pa.int64(),
                ),
            }
        ),
        os.path.join(out, "documents.parquet"),
    )

    t = pq.read_table(table_path(SF_DIR, "events"))
    uid = np.array(t.column("user_id").to_pylist(), dtype=np.int64)
    val = np.array(t.column("value").to_pylist(), dtype=np.float64)
    cols = {n: t.column(n) for n in t.column_names}
    cols["user_id"] = pa.array((uid * 7 + 3) % 151, type=pa.int64())
    cols["value"] = pa.array(
        np.round(val * (1.0 + (rng.random(len(val)) - 0.5) * 0.2), 2),
        type=pa.float64(),
    )
    pq.write_table(pa.table(cols), os.path.join(out, "events.parquet"))

    t = pq.read_table(table_path(SF_DIR, "lineitem"))
    ok = np.array(t.column("l_orderkey").to_pylist(), dtype=np.int64)
    ln = np.array(t.column("l_linenumber").to_pylist(), dtype=np.int64)
    keep = (ok * 31 + ln) % 10 != 0
    pq.write_table(
        t.filter(pc.field("l_orderkey") >= 0).filter(pa.array(keep)),
        os.path.join(out, "lineitem.parquet"),
    )

    for name in TABLE_NAMES:
        dst = os.path.join(out, f"{name}.parquet")
        if not os.path.exists(dst):
            os.symlink(table_path(SF_DIR, name), dst)
    return out


@pytest.fixture(params=["base", "salted"], scope="session")
def any_sf_dir(request, sf_dir, sf_dir_salted) -> str:
    """Parametrizes a compensating property test over the committed
    fixture AND the salted second generation."""
    return sf_dir if request.param == "base" else sf_dir_salted


@pytest.fixture(scope="session")
def oracle(sf_dir):
    """DuckDB connection with every fixture table registered as a view
    (the driver pre-registers the same views for oracle_sql)."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )
    yield con
    con.close()
