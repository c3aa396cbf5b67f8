"""Workload definitions: which contract keys each workload runs, why, and
how a result leaves the engine (its terminal action).

Each list is chosen by the layer it stresses (see README.md). A key is
never dropped from a list because it fails; a failure shows up in the
run's ``failed`` count instead. ``q_stream_join`` is left out of ``stream``
for run time only (see README.md); ``--keys`` runs it.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    sink: str  # "collect": rows delivered to the driver; "parquet": files written
    # Warm pass time at sf0.01 on a 4-CPU host. It converts ``--seconds``
    # into a fixed pass count, so every run of a workload does the same work
    # however fast the host happens to be.
    pass_s: float
    keys: tuple


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "warehouse",
            "star-schema QL and SQL analytics collected to the driver; "
            "exec, plan and driver transfer do the work",
            "collect",
            6.0,
            (
                "q_flagship_q1",
                "q_agg_rollup",
                "q_agg_product",
                "q_window_rank",
                "q_topk",
                "q_join_asof",
                "q_distinct_by",
                "q_sql_q5",
                "q_sql_q9",
                "q_sql_q13",
                "q_sql_q18",
                "q_sql_q21",
                "q_sql_q22",
            ),
        ),
        Workload(
            "graph",
            "iterative graph analytics; operators fire Spark jobs while the "
            "DataFrame is built, so the build layer does the work",
            "collect",
            16.0,
            (
                "q_graph_bfs",
                "q_graph_betweenness",
                "q_graph_pagerank",
                "q_graph_sssp",
                "q_graph_labelprop",
                "q_graph_components",
            ),
        ),
        Workload(
            "corpus",
            "LLM-data pipeline (dedup, text, similarity) written as parquet; "
            "string- and array-heavy rows, LSH/IVF shuffles and the file sink",
            "parquet",
            7.0,
            (
                "q_dedup_near",
                "q_dedup_semantic",
                "q_text_tfidf",
                "q_text_perplexity",
                "q_similarity_topk",
                "q_similarity_ivf",
                "q_corpus_budget_select",
                "q_pipeline_clean_corpus",
            ),
        ),
        Workload(
            "stream",
            "bounded availableNow replays through run_to_completion; "
            "the only workload where the streaming layer runs",
            "collect",
            25.0,
            (
                "q_stream_tumbling",
                "q_stream_fsm_tws",
                "q_stream_tws_chained",
                "q_stream_session_append",
                "q_stream_dedup",
                "q_stream_upsert_merge",
            ),
        ),
    )
}
