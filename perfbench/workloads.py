"""The benchmark's workloads: which declared queries one sweep runs, on
which generated input shape (see gen.SHAPES), and why.

Each list is a fixed subset of the families the workload stands for,
sized so one sweep takes about four seconds on 4 cores (run.SWEEP_S). A
run has to fit its set-up, the correctness pass and four timed sweeps
into under a minute.
"""

WORKLOADS = {
    # Driver floor: small TPC-H-shaped inputs (60k lineitem), where frame
    # build, Catalyst and job scheduling dominate and executors idle. One
    # to three queries from each of the Core, Agg, Pivot, Scalar, Join,
    # Window, Sql and Stats families, including the two declared
    # rows-only sketches, plus a streaming aggregate of the event feed
    # joined onto the customer table.
    "olap_short": dict(
        shape="olap",
        tables=["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events"],
        queries=[
            "q_scan_parquet", "q_filter_predicate", "q_agg_distinct",
            "q_agg_approx_distinct", "q_agg_pivot", "q_json_extract",
            "q_join_inner", "q_join_semi", "q_window_rank", "q_sql_exists",
            "q_agg_sketch", "q_ab_test", "q_stream_enrich",
        ]),
    # Executor, shuffle and materialisation: a corpus with 20% of its
    # documents in exact-duplicate clusters of 2-8 and 20% in
    # near-duplicate pairs, so grouping and pair emission do real work;
    # BM25 materialises its term statistics; the event feed is deduped
    # by a watermarked stream.
    "corpus_dedup": dict(
        shape="corpus",
        tables=["documents"],
        queries=[
            "q_dedup_ngram", "q_dedup_containment", "q_dedup_exact",
            "q_text_bm25", "q_stream_dedup",
        ]),
}
