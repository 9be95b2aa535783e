"""The benchmark's pinned workloads: registry keys and the scale factor they
run at.

Key lists are frozen here so that two commits run exactly the same queries.
They are subsets of the lists the benchmark was designed around (the 23
relational headline keys, the 15 LLM-curation keys, five replay drains and
the first 50 registry keys). On 4 cores a run pays 8-12 s of JVM start and
set-up and a 15-35 s cold warm-up pass before it times anything, and a run of
either workload has to end within about 70 s.
"""

SF = "sf0.1"  # directory name under perfbench/data

# Seconds of --seconds that one pass of each workload stands for; a warm
# pass takes about 2.3 s and 4.5 s on 4 cores, but llm_curation_feed's short
# keys need four samples for a steady median. Runs are sized in passes, so
# the number of passes, and with it the JIT's warm-up state and the sample
# count, does not change with host speed. At --seconds 10 the values give 5
# timed passes for olap_tpch and 4 for llm_curation_feed.
PASS_S = {"olap_tpch": 2.0, "llm_curation_feed": 2.5}

# Noop passes after the cold one whose times are not kept. On 4 cores the
# olap_tpch pass still gets ~10% faster from its second to its fourth repeat;
# the llm_curation_feed pass, mostly a replay drain, settles sooner.
WARMUP_PASSES = {"olap_tpch": 2, "llm_curation_feed": 1}

WORKLOADS = {
    # Scan, shuffle, join, window and aggregation; execution dominates.
    # No substrate and no replay, so caching changes should not move it.
    "olap_tpch": (
        "agg_grouping_sets",
        "win_ranking",
        "q3_shipping_priority",
        "q5_local_supplier",
    ),
    # The LLM training feed: curation keys (tokenization, session
    # substrates such as shingle arrays and MinHash / LSH signatures,
    # Arrow UDFs; the timed passes hit warm caches) and a replay drain with
    # windowed state (micro-batch planning, checkpoint WAL and state commits,
    # the only writes on a hot path).
    "llm_curation_feed": (
        "llm_text_tokens",
        "llm_dedup_exact",
        "llm_dedup_clusters_lsh",
        "llm_dedup_apply_lsh",
        "stream_tumbling",
    ),
}
