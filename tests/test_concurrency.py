"""Concurrent registry execution on ONE shared SparkSession: the temp-view
collision bug class (fixed by per-call unique materialized views) must stay
fixed, so run a mixed batch of view-materializing and plain queries from
multiple threads and require every result to match its serial run."""

from concurrent.futures import ThreadPoolExecutor

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"

# mix: compute-once templates (minhash signatures, simhash pair plans,
# winnowing, source vocab) alongside plain template queries; the minhash
# entries all declare a CTE named `sigs`
NAMES = [
    "minhash_lsh_pairs",
    "dedup_degree_profile",
    "cross_source_duplicate_matrix",
    "simhash_near_pairs",
    "winnowing_fingerprints",
    "source_vocab_overlap",
    "q1_pricing_summary",
    "classifier_quality_scores",
    "dedup_exact_first",
    "bm25_topk",
]


def test_registry_queries_concurrently_safe(spark):
    q = E.queries()
    serial = {}
    for n in NAMES:
        serial[n] = sorted(map(str, q[n](spark, SF).collect()))

    def run(n):
        return n, sorted(map(str, q[n](spark, SF).collect()))

    with ThreadPoolExecutor(max_workers=4) as ex:
        # two interleaved waves so materializations overlap
        results = list(ex.map(run, NAMES + list(reversed(NAMES))))
    for n, rows in results:
        assert rows == serial[n], f"concurrent run diverged for {n}"


def test_user_view_named_like_a_compute_once_cte_survives(spark):
    """A session view that shares a declared CTE's name neither changes the
    entry's rows nor is replaced or dropped by the run."""
    q = E.queries()
    want = sorted(map(str, q["minhash_lsh_pairs"](spark, SF).collect()))
    spark.range(3).createOrReplaceTempView("sigs")
    try:
        got = sorted(map(str, q["minhash_lsh_pairs"](spark, SF).collect()))
        assert got == want
        assert spark.table("sigs").count() == 3
    finally:
        spark.catalog.dropTempView("sigs")
