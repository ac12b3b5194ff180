"""The benchmark's workloads: registry keys run as one cold pass each.

Each list is a cut of a wider key family, sized so that one run (set-up
plus several timed passes) fits the benchmark's time budget on 4 cores
at the benchmark's input scale. ``perfbench/METRICS.md`` says which
layers each one stresses.
"""

from __future__ import annotations

from typing import NamedTuple


class Workload(NamedTuple):
    keys: tuple[str, ...]
    # Timed passes in a run of ``--seconds 25`` (about 25 s of passes on a
    # 4-core host); other ``--seconds`` values scale it. The count is fixed
    # before timing, not read off the clock, so every run of a workload
    # measures the same work: a fresh JVM keeps getting faster pass after
    # pass, and a run that fit more passes in its time would read faster
    # for that alone.
    passes: int


WORKLOADS: dict[str, Workload] = {
    # Single-plan relational keys (operators, workloads, functions). At
    # this input scale a key runs about five short jobs, some of them in
    # its build, and executors are busy about a tenth of the pass's core
    # time: the pass is per-job fixed cost, not per-row work.
    "olap": Workload(
        passes=5,
        keys=(
            "agg_groupby_basic",
            "agg_count_distinct",
            "join_multiway_star",
            "join_asof",
            "join_bucketed_colocate",
            "join_dpp_partitioned",
            "win_sessionize",
            "fn_json_extract",
            "tpch_q3_shipping_priority",
            "events_funnel_conversion",
        ),
    ),
    # Driver-orchestrated keys (pipeline, udx, etl, streaming): many jobs
    # per key, memo and checkpoint substrates, Python evaluation, table
    # commits and a streamed sink read back, plus one per-row-bound
    # similarity key. Time is per-job fixed cost.
    # The key count is odd and sim_embed_quantize (about 1.3 s, its
    # latency steady within a run) lies in the middle of the latency
    # order, so query_p50_s reads that one key's median. With an even key
    # count the median would fall between two keys: the mean of one key's
    # slowest and the next key's fastest run.
    # Left out because their latency alone varied by up to 2x between
    # passes of one run: graph_pagerank_fixed (connected components runs
    # the same checkpointed-iteration substrate) and stream_session_window.
    "pipelines": Workload(
        passes=3,
        keys=(
            "dedup_connected_components",
            "udf_pandas_vectorized",
            "etl_time_travel_read",
            "sim_embed_quantize",
            "stream_manifest_sink",
        ),
    ),
}
