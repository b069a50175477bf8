"""The benchmark's workloads: which registered contract jobs each runs.

Every job is a key of ``trembita_spark.contract.QUERIES`` that also has
a DuckDB oracle in ``contract.ORACLES``; the benchmark refuses to start
otherwise. ``pass_s`` is the nominal warm pass time on a 4-core host and
only sizes the number of warm passes a run makes from ``--seconds``, so
every run of a workload does the same amount of work.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    keys: tuple[str, ...]
    pass_s: float
    streams: bool = False


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "olap_star",
            "batch engine core: trembita-QL, SQL and Pipeline jobs over the star "
            "schema, plus the LLM dedup and similarity operators",
            (
                "q_flagship_q1",
                "q_sql_q5",
                "q_topk",
                "q_dedup_near",
                "q_similarity_topk",
            ),
            pass_s=4.2,
        ),
        Workload(
            "stream_ingest",
            "Structured Streaming write side: state-store commits, WAL and "
            "checkpoint writes, a parquet file sink, per-batch fixed costs",
            (
                "q_stream_tumbling",
                "q_stream_dedup",
                "q_stream_sink",
            ),
            pass_s=3.9,
            streams=True,
        ),
    )
}
