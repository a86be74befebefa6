"""Driver-contract regression guard: the round driver builds its OWN
SparkSession (no hama_spark configs), then calls load_tables via the
entry points. Round 1 died 0/44 because the nanosAsLong parquet escape
hatch lived only in get_spark() — this test pins the fix by running the
contract on a deliberately bare session in a fresh interpreter.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

# a stock session: no nanosAsLong, stock shuffle partitions (200), no UTC
spark = (
    SparkSession.builder.appName("bare_driver")
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
spark.sparkContext.setCheckpointDir("/tmp/bare_driver_ckpt")

import __spark_entry__ as e

df = e.entry(spark)
rows = df.count()
assert rows >= 0 and len(df.schema) > 0, (rows, df.schema)

qs = e.queries()
# one timestamp-heavy query (events parquet is TIMESTAMP(NANOS) — the
# exact r1 failure) and one iterative one
for name in ("events_window", "inlink_count", "scd2_orders"):
    out = qs[name](spark, "/root/testdata/sf0.001")
    assert out.count() > 0, name
print("BARE_SESSION_OK", rows)
"""


def test_entry_and_queries_on_bare_session():
    # conftest pins SPARK_GRAFT_SHUFFLE for the suite's own session; the
    # stock-session subprocess must not inherit it
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_SHUFFLE"}
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=REPO)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "BARE_SESSION_OK" in proc.stdout, proc.stdout[-1000:]


def test_modified_or_new_queries_lead_the_dict():
    """The round driver truncates its correctness pass at the first 50
    dict entries. The standing policy (VERDICT r3 §next.1): every query
    that is NEW this round or whose implementation changed since its
    last green driver row must sit inside that window, or the hard
    oracle signal stays stale for exactly the code that moved."""
    import __spark_entry__ as entry

    first50 = set(list(entry.QUERIES)[:50])
    must_lead = {
        # rebuilt by the entry-module memo deletion (each query builds
        # its own inputs) and below the window until the reorder after it
        "bpe_top_tokens", "bpe_fertility", "scrub_boilerplate", "bm25_topk",
        "hybrid_rrf", "hard_negatives", "link_prediction",
        # single-loop pregel: plans/pregel.py lost its dense loop and the
        # loop_plan/reliable_checkpoint/recover_retain options (sssp, CC,
        # PageRank, SCC), hits() lost loop_plan, and
        # connected_components_twophase reads its input once (also
        # under entity_clusters)
        "sssp", "sssp_gen_100k", "connected_components",
        "connected_components_twophase", "pagerank", "pagerank_gen_100k",
        "personalized_pagerank", "strongly_connected_components",
        "hits_scores", "entity_clusters",
        # other memo-deletion consumers: graph analytics on raw edges
        # (kcore also lost its broadcast-cap env var), the dedup
        # consumers, pair producers, span, top-k and BPE queries
        "harmonic_centrality", "betweenness", "kcore",
        "dedup_near", "dedup_embedding", "semantic_dedup",
        "fuzzy_match_customers", "minhash_lsh_pairs", "lsh_cosine_pairs",
        "semantic_dup_pairs", "shared_span_pairs", "scrub_shared_spans",
        "cosine_topk", "lsh_cosine_topk", "ivf_topk", "ann_recall",
        "knn_graph", "bpe_train_merges", "bpe_vocab_token_count",
        # kmeans family (ml/kmeans.py DataFrame-centers path), the
        # bloom-backed pair (functions/bloom.py validation rework) and
        # the r4-restored text trio
        "kmeans_sizes", "bloom_decontaminate",
        "text_stats", "quality_score", "heuristic_flags",
    }
    missing = must_lead - first50
    assert not missing, f"queries outside the driver's 50-entry window: {sorted(missing)}"
