"""Metric names and units the benchmark reports, and the
``BENCHMARK.json`` built from them.

Print the file with ``python3 perfbench/spec.py > BENCHMARK.json``.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import OPERATOR_MODULES  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

RUN_SECONDS = 10

# name -> (unit, bound): reported by an untraced run (--trace 0). All
# three are CPU seconds of the benchmark's process tree; wall-clock
# figures are in the run's detail record (see README.md).
END_TO_END = {
    "setup_s": ("s", 0.25),
    "first_pass_cpu_s": ("s", 0.25),
    "pass_cpu_s": ("s", 0.25),
}
HIGHER_IS_BETTER = {"io.load_table_hit_ratio"}

STREAM_LAYER = {
    "streaming.run_to_completion_s": "s",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_p50_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.sink_bytes": "bytes",
}
SELF_TIME_LAYERS = ("contract", "io", "query", "pipeline", "operators", "streaming")


def per_layer() -> dict[str, str]:
    """name -> unit: reported by a traced run (--trace 1)."""
    m = {
        "session.get_session_s": "s",
        "contract.load_all_s": "s",
        "io.load_table_s": "s",
        "io.load_table_calls": "count",
        "io.load_table_hit_ratio": "ratio",
        "io.spread_scan_calls": "count",
        "io.spread_scan_fired_ratio": "ratio",
        "query.to_df_s": "s",
        "query.to_df_calls": "count",
        "pipeline.build_s": "s",
        "pipeline.calls": "count",
    }
    for mod in OPERATOR_MODULES:
        m[f"operators.{mod}.build_s"] = "s"
        m[f"operators.{mod}.calls"] = "count"
    for w in WORKLOADS.values():
        for key in w.keys:
            m[f"job.{key}.build_s"] = "s"
            m[f"job.{key}.exec_s"] = "s"
            m[f"job.{key}.tasks"] = "count"
            m[f"job.{key}.cpu_s"] = "s"
    m.update({"engine.stages": "count", "engine.tasks": "count", "engine.failed_tasks": "count"})
    m.update(STREAM_LAYER)
    for layer in SELF_TIME_LAYERS:
        m[f"{layer}.self_s"] = "s"
    m["trace.overhead_s"] = "s"
    m["olap_star.local1_pass_s"] = "s"
    m["process.peak_rss_mb"] = "MB"
    return m


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w.name, "why": w.why} for w in WORKLOADS.values()],
        "end_to_end": [
            {
                "name": name,
                "unit": unit,
                "better": "higher" if name in HIGHER_IS_BETTER else "lower",
                "bound": bound,
            }
            for name, (unit, bound) in END_TO_END.items()
        ],
        "per_layer": [
            {
                "name": name,
                "unit": unit,
                "better": "higher" if name in HIGHER_IS_BETTER else "lower",
            }
            for name, unit in per_layer().items()
        ],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
