"""The session built by `get_spark` compiles each generated class once.

Spark's default compiled-class cache is an LRU of 100 entries. One round
of the three queries below needs more than that at sf0.001 (214 classes
in a fresh session, 73 + 93 + 53 at sf0.01), so with the default every
round evicts each class before its next use and recompiles all of them.
"""

from __future__ import annotations

from bench import force
from taps_spark.queries import all_queries
from taps_spark.session import STATIC_CONFS, codegen_compiles

CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
QUERIES = ("graph_bfs_hops", "dedup_lsh_verified_pairs", "text_lang_id")


def test_repeated_round_reuses_compiled_classes(spark, sf_dir):
    assert spark.conf.get(CACHE_CONF) == STATIC_CONFS[CACHE_CONF]
    queries = all_queries()
    rounds = []
    for _ in range(2):
        before = codegen_compiles(spark)
        for name in QUERIES:
            force(queries[name](spark, sf_dir))
        rounds.append(codegen_compiles(spark) - before)
    assert rounds[1] <= 10, f"compiles per round: {rounds}"
