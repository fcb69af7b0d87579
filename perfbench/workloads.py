"""The benchmark's workloads and the modules it reports on.

Each workload is a fixed subset of catalog query families, trimmed so
that one run (fresh JVM, set-up, a cold pass, the warm passes and the
untimed output check) fits the run budget. The subset is one fixed
choice and does not change per seed; the seed only orders the queries
within each pass and the rows of the corpus copy.

Each entry is (query, module, action). The module is the engine object
whose public `queries` map holds the query; the harness builds the
query through that map and fails the run if the query is not there.
The action is "noop" (a `noop` write) or "parquet" (a parquet write
into the run directory, checked directly against the oracle). The
figures after each query are its warm/cold seconds at sf0.1 on a
4-core host, from a sizing run over the full families.

Two of the four families of the design, curation (dedup_*, sim_*,
corpus_*, text_*, lm_*) and etl_write (ref_*, mm_*, stream_*, layout_*,
scan_*), are not workloads of their own: a run budget of 4 + 22 x W runs
leaves too little time per run for four. One query of each of their
modules rides along instead, the action-dominated writers on
`relational` and the memo- and kernel-heavy ones on `iterative`.
"""

WORKLOADS = {
    # graph_* and cluster_* (functions.Spanning, operators.Planning,
    # functions.Clusters): loops that checkpoint every round while the
    # DataFrame is built, and memos that the cold pass builds (cold >>
    # warm). corpus_soft_dedup runs the connected-components loop of
    # functions.Clusters over the near-duplicate pairs of dedup_minhash,
    # a memo the two share. Plus one curation query per module;
    # dedup_minhash runs the native kernels (the plans.Expressions
    # shingle expression and the minhash aggregate) and
    # lm_perplexity_filter reads an n-gram memo. The other graph and
    # cluster queries build larger memos or run longer loops than the
    # run budget can pay: in a fresh session the kNN and trade-graph
    # edge memos, graph_harmonic's BFS memo, graph_triangles and the
    # k-means memo each add 5-15 s to the cold pass, and graph_bfs takes
    # 3 s per warm pass. The mix also keeps the warm latencies dense
    # around the reported quantiles, so query_p50_s and query_p90_s do
    # not jump between queries from run to run.
    "iterative": [
        ("graph_reciprocity", "operators.Planning", "noop"),    # 0.87/1.21  75% build
        ("graph_scc", "functions.Spanning", "noop"),            # 1.99/2.06  85% build
        ("corpus_soft_dedup", "functions.Clusters", "noop"),    # 0.34/0.28  CC loop memo
        ("sim_topk", "functions.Similarity", "noop"),           # 0.51/0.48
        ("dedup_minhash", "functions.Dedup", "noop"),           # 0.04/1.5   kernels, memo
        ("text_tokens", "functions.Text", "noop"),              # 0.47/0.46
        ("corpus_mix", "functions.Corpus", "noop"),             # 0.32/0.65
        ("lm_perplexity_filter", "functions.Lm", "noop"),       # 0.55/0.43  n-gram memo
    ],
    # sql_*, agg_*, join_*, window_* (operators.*): action-dominated
    # scans, joins and aggregates with no loops, eager materialization
    # or memos; the control for changes to those. Plus one etl_write
    # query per module, each writing parquet: the write path and the
    # multimodal codecs, which no other query reaches.
    "relational": [
        ("sql_q6", "operators.Analytics", "noop"),              # 0.35/0.37
        ("agg_cube", "operators.Aggregates", "noop"),           # 0.57/0.92
        ("join_broadcast", "operators.Joins", "noop"),          # 0.57/0.79
        ("window_rank", "operators.Windows", "noop"),           # 0.38/0.48
        ("ref_transpose", "pipeline.Reference", "parquet"),     # 0.55/0.83
        ("mm_transcode_g711", "multimodal.Multimodal", "parquet"),  # 0.33/0.58 codec
        ("stream_dedup", "streaming.Streaming", "parquet"),     # 0.42/0.50
        ("scan_filter_paths", "sources.Sources", "parquet"),    # 0.23/0.29
        ("layout_zorder", "operators.Layout", "parquet"),       # 0.73/0.89
    ],
}

# Warm passes per run, a fixed count: the run length does not depend on
# how fast the program is, so a speed-up changes no sample count.
WARM_PASSES = {"relational": 3, "iterative": 3}


def queries(workload):
    return [q for q, _, _ in WORKLOADS[workload]]


def tail_quantile(workload):
    """The quantile reported as query_p90_s: 0.9 when a run has at least
    100 warm samples, else the highest quantile that leaves ten samples
    above it (never below the median)."""
    n = WARM_PASSES[workload] * len(WORKLOADS[workload])
    return 0.9 if n >= 100 else round(max(0.5, 1 - 10 / n), 2)


# Modules reported per layer: every module that owns a query above.
MODULES = list(dict.fromkeys(m for w in WORKLOADS.values() for _, m, _ in w))
