"""Benchmark for trembita_spark: one closed-loop client on local[2].

Run from the repository root::

    python3 perfbench/run.py --workload olap_star --seed 1 --seconds 10 --trace 0

One run times set-up in a fresh probe process, opens its own Spark
session, computes every job's oracle checksum with DuckDB (untimed),
then runs a cold pass and a fixed number of warm passes over the
workload's contract jobs, each pass in an order drawn from ``--seed``.
Every job ends in the in-engine checksum fold and is compared with its
oracle. The end-to-end metrics are CPU seconds of the process tree,
which the hypervisor's steal does not inflate as it does wall time;
wall-clock figures go to the detail record. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` wraps the package's public functions from the outside and
prints the per-layer metrics. The last stdout line is the result object;
the line before it is a detail record (conf, loadavg, sample counts, job
orders, failures). See README.md beside this file.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spec  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# copies of the reference fixture tables; see fixtures/SHA256SUMS
FIXTURES = os.path.join(HERE, "fixtures")
SF = "0.01"
# Set-ups per run, each in a fresh process; setup_s is their median. A
# third did not fit the run budget and did not steady the median.
SETUP_SAMPLES = 2
# local[N] width: two task threads leave the other CPUs of a 4-CPU host to
# the JIT compiler and GC threads, so they do not take CPU from the tasks
CORES = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", default=SF, choices=("0.01", "0.001"), help="fixture scale (self-check uses less)")
    p.add_argument(
        "--corrupt-oracle",
        metavar="KEY",
        help="self-check: perturb KEY's expected checksum so every run of it must fail",
    )
    p.add_argument(
        "--setup-only",
        action="store_true",
        help="time set-up once, print it and exit (a run starts such probes itself)",
    )
    return p.parse_args(argv)


@dataclass
class Job:
    pass_idx: int
    key: str
    build_s: float = 0.0
    exec_s: float = 0.0
    cpu_s: float = 0.0  # process-tree CPU time of build, action and fold
    jit_s: float = 0.0  # the part of cpu_s in JIT compiler threads
    ok: bool = False
    engine: dict = field(default_factory=dict)

    @property
    def latency_s(self) -> float:
        return self.build_s + self.exec_s


def _heap_mb() -> int:
    """A driver heap that fits the host: a quarter of RAM, 1-4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(1024, min(4096, total_kb // 4096))


def _row_counts(sf_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {
        f[: -len(".parquet")]: pq.ParquetFile(os.path.join(sf_dir, f)).metadata.num_rows
        for f in sorted(os.listdir(sf_dir))
        if f.endswith(".parquet")
    }


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except OSError:
                pass
    return total


class Bench:
    def __init__(self, args, root: str, sf_dir: str, rows: dict, tmp_root: str):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.root = root
        self.sf_dir = sf_dir
        self.rows = rows
        self.tmp = tmp_root
        self.cores = min(CORES, len(os.sched_getaffinity(0)))
        self.pid = os.getpid()
        self.heap_mb = _heap_mb()
        self.rng = random.Random(args.seed)
        self.jobs: list[Job] = []
        self.orders: list[list[str]] = []
        self.pass_cpu: list[float] = []  # process-tree CPU seconds of each pass
        self.pass_jit: list[float] = []  # the part of pass_cpu in JIT compiler threads
        self.traced_passes: set[int] = set()
        self.pass_bytes: dict[int, int] = {}  # traced pass -> bytes under the temp root after it
        self.input_rows: dict[str, int] = {}
        self.failures: list[str] = []
        self.unmeasured_keys: list[str] = []  # workload keys without a correct traced sample
        self.tracer = None
        self.progress = None
        self.counter = None

    # -- environment ---------------------------------------------------------

    def _pin_environment(self) -> None:
        """Everything a Spark process writes goes under the run's temp
        root, and Spark's Python workers can import the package: the JVM
        snapshots this environment when it launches."""
        for sub in ("local", "tmp", "warehouse", "cwd"):
            os.makedirs(os.path.join(self.tmp, sub))
        path = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = self.root + (os.pathsep + path if path else "")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.tmp, "local")
        os.environ["TMPDIR"] = os.path.join(self.tmp, "tmp")
        tempfile.tempdir = None  # re-read TMPDIR
        os.chdir(os.path.join(self.tmp, "cwd"))  # derby.log, metastore_db
        sys.path.insert(0, self.root)

    def _extra_conf(self) -> dict[str, str]:
        return {
            "spark.driver.memory": f"{self.heap_mb}m",
            "spark.local.dir": os.path.join(self.tmp, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            # compiler threads that outlive every pass keep their CPU time
            # readable (observe.tree_cpu_s)
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.tmp, 'tmp')}"
            " -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.ui.showConsoleProgress": "false",
        }

    # -- phases --------------------------------------------------------------

    def setup(self) -> dict[str, float]:
        t = os.times()  # this process and the probes it reaped; no live child yet
        c0 = t.user + t.system + t.children_user + t.children_system
        t0 = time.perf_counter()
        from trembita_spark import contract
        from trembita_spark.session import get_session

        t1 = time.perf_counter()
        self.spark = get_session(
            app_name="perfbench", cpus=self.cores, extra_conf=self._extra_conf()
        )
        t2 = time.perf_counter()
        contract.load_all()
        t3 = time.perf_counter()
        self.contract = contract
        from observe import tree_cpu_s

        return {
            "setup_s": t3 - t0,
            "setup_cpu_s": tree_cpu_s(self.pid)[0] - c0,
            "get_session_s": t2 - t1,
            "load_all_s": t3 - t2,
        }

    def oracle(self) -> dict[str, tuple]:
        """Every job's expected (n_rows, sum, xor) triple from DuckDB."""
        import duckdb

        from trembita_spark import checksum

        missing = [k for k in self.workload.keys if k not in self.contract.ORACLES]
        if missing:
            raise SystemExit(f"workload keys without an oracle: {missing}")
        con = duckdb.connect()
        try:
            for name in self.rows:
                path = os.path.join(self.sf_dir, f"{name}.parquet")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
            expected = {
                k: checksum.duckdb_checksum(con, self.contract.ORACLES[k])
                for k in self.workload.keys
            }
        finally:
            con.close()
        bad = self.args.corrupt_oracle
        if bad is not None:
            n, s, x = expected[bad]
            expected[bad] = (n + 1, s, x)
        return expected

    def run_pass(self, pass_idx: int, traced: bool) -> float:
        from observe import tree_cpu_s
        from trembita_spark.checksum import spark_fold

        order = list(self.workload.keys)
        self.rng.shuffle(order)
        self.orders.append(order)
        if traced:
            self.traced_passes.add(pass_idx)
        if self.tracer is not None:
            self.tracer.enabled = traced
        total = 0.0
        cpu0, jit0 = tree_cpu_s(self.pid)
        for key in order:
            job = Job(pass_idx, key)
            tag = (pass_idx, key)
            group = f"perfbench-{pass_idx}-{key}"
            if self.progress is not None:
                self.progress.tag = tag
            if traced:
                self.tracer.job = tag
                self.counter.begin(group)
            try:
                c0, j0 = tree_cpu_s(self.pid)
                t0 = time.perf_counter()
                with self._span(f"contract.{key}"):
                    df = self.contract.QUERIES[key](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                with self._span(f"engine.{key}"):
                    got = tuple(spark_fold(df).collect()[0])
                t2 = time.perf_counter()
                c1, j1 = tree_cpu_s(self.pid)
                job.cpu_s, job.jit_s = c1 - c0, j1 - j0
                job.build_s, job.exec_s = t1 - t0, t2 - t1
                job.ok = got == self.expected[key]
                if not job.ok:
                    self.failures.append(f"pass {pass_idx} {key}: got {got}, oracle {self.expected[key]}")
                if key not in self.input_rows and not self.workload.streams:
                    self.input_rows[key] = self._scanned_rows(df)
            except Exception:
                self.failures.append(f"pass {pass_idx} {key}: {traceback.format_exc(limit=3)}")
                traceback.print_exc(file=sys.stderr)
            if traced:
                job.engine = self.counter.end(group, tag)
            total += job.latency_s
            self.jobs.append(job)
        cpu1, jit1 = tree_cpu_s(self.pid)
        self.pass_cpu.append(cpu1 - cpu0)
        self.pass_jit.append(jit1 - jit0)
        if self.tracer is not None:
            self.tracer.enabled = False
        if traced:
            self.pass_bytes[pass_idx] = _dir_bytes(self.tmp)
        return total

    def _span(self, name: str):
        import contextlib

        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def _scanned_rows(self, df) -> int:
        """Fixture rows the job's plan reads (each table once)."""
        names = {os.path.basename(f.rstrip("/"))[: -len(".parquet")] for f in df.inputFiles()}
        return sum(self.rows.get(n, 0) for n in names)

    def local1_pass(self) -> float:
        """One olap pass on a fresh local[1] session in the same JVM: the
        single-thread base for parallel speedup."""
        from trembita_spark.session import get_session

        self.spark.stop()
        self.spark = get_session(app_name="perfbench-local1", cpus=1, extra_conf=self._extra_conf())
        return self.run_pass(len(self.orders), traced=False)

    # -- the run -------------------------------------------------------------

    def run(self, probes: list[dict[str, float]]) -> dict:
        """``probes`` are set-up timings from fresh processes; this
        process's own set-up is one more sample."""
        self._pin_environment()
        load_start = os.getloadavg()
        self.setups = setups = probes + [self.setup()]  # before observe: it pays the pyspark import
        setup = {k: statistics.median(s[k] for s in setups) for k in setups[-1]}
        from observe import EngineCounter, RssSampler, StreamProgress, cpu_times, steal_share

        cpu_start = cpu_times()
        trace = self.args.trace == 1
        # Pass 0 is the cold pass, then come the warm passes 1..n_warm.
        # Wall-clock figures leave out warm pass 1, which still runs 20 to
        # 50% slower; the CPU metrics take each job's best warm pass.
        if trace:
            # traced, untraced, traced: a linear drift across the three
            # passes cancels out of the tracing overhead
            n_warm, traced_warm, untraced_warm = 4, {2, 4}, {3}
        else:
            n_warm = max(3, round(self.args.seconds / self.workload.pass_s))
            traced_warm, untraced_warm = set(), set(range(2, 1 + n_warm))
        measured = traced_warm | untraced_warm
        with RssSampler() as rss:
            try:
                t_oracle = time.perf_counter()
                self.expected = self.oracle()
                phases = {"oracle": time.perf_counter() - t_oracle}
                if self.workload.streams:
                    self.progress = StreamProgress()
                    self.spark.streams.addListener(self.progress)
                if trace:
                    from tracing import Tracer

                    self.tracer = Tracer()
                    self.tracer.install()
                    self.counter = EngineCounter(self.spark.sparkContext, self.progress)
                first = self.run_pass(0, traced=trace)
                t_warm = time.perf_counter()
                passes = [first] + [
                    self.run_pass(i, traced=i in traced_warm) for i in range(1, 1 + n_warm)
                ]
                phases["warm"] = time.perf_counter() - t_warm
                local1 = self.local1_pass() if trace and self.workload.name == "olap_star" else 0.0
                drained = self.progress.drain() if self.progress is not None else True
                conf = self._conf()
            finally:
                self.spark.stop()
        warm = {i: passes[i] for i in sorted(measured)}
        untraced = [passes[i] for i in sorted(untraced_warm)]
        attempted = len(self.jobs)
        failed = sum(not j.ok for j in self.jobs)
        if not drained:
            self.failures.append("streaming progress events did not all arrive")
        detail = {
            "workload": self.workload.name,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "sf": self.args.sf,
            "cores": self.cores,
            "conf": conf,
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "cpu_steal_share": steal_share(cpu_start, cpu_times()),
            "passes": {"cold": 1, "warm": n_warm, "wall_measured": len(measured), "traced": len(traced_warm)},
            "pass_times_s": passes,
            "pass_cpu_s": self.pass_cpu,
            "pass_jit_s": self.pass_jit,
            "setup_cpu_s": [s["setup_cpu_s"] for s in setups],
            "setup_wall_s": [s["setup_s"] for s in setups],
            "phases_s": phases,
            "job_s": {
                k: [round(j.latency_s, 4) for j in self.jobs if j.key == k] for k in self.workload.keys
            },
            "job_cpu_s": {
                k: [round(j.cpu_s, 3) for j in self.jobs if j.key == k] for k in self.workload.keys
            },
            "job_jit_s": {
                k: [round(j.jit_s, 3) for j in self.jobs if j.key == k] for k in self.workload.keys
            },
            "orders": self.orders,
            "fail_ratio": failed / attempted if attempted else 1.0,
            "failures": self.failures,
        }
        if trace:
            metrics = self._layer_metrics(setup, warm, untraced, local1)
            metrics["process.peak_rss_mb"] = rss.peak / 2**20
            units = spec.per_layer()
            # The result must name every per-layer metric; those that do not
            # apply to this workload print as 0 and are listed here.
            detail["not_measured"] = sorted(set(units) - set(metrics))
            metrics = {k: metrics.get(k, 0.0) for k in units}
            path = os.path.join(self.root, ".bench_build", "perfbench", "traces")
            os.makedirs(path, exist_ok=True)
            self.tracer.dump(os.path.join(path, f"{self.workload.name}-seed{self.args.seed}.json"))
        else:
            metrics, wall, samples = self._end_to_end(setup, first, warm)
            units = {k: u for k, (u, _b) in spec.END_TO_END.items()}
            detail["wall"] = wall
            detail["samples"] = samples
            detail["peak_rss_mb"] = rss.peak / 2**20
        result = {
            "correct": failed == 0 and drained and not self.unmeasured_keys,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }
        return {"detail": detail, "result": result}

    def _conf(self) -> dict[str, str]:
        get = self.spark.conf.get
        return {
            "master": self.spark.sparkContext.master,
            "driver_heap": self.spark.sparkContext.getConf().get("spark.driver.memory"),
            "shuffle_partitions": get("spark.sql.shuffle.partitions"),
            "aqe_min_partition_size": get("spark.sql.adaptive.coalescePartitions.minPartitionSize"),
            "broadcast_threshold": get("spark.sql.autoBroadcastJoinThreshold"),
        }

    # -- metrics -------------------------------------------------------------

    def _warm_jobs(self, passes) -> list[Job]:
        return [j for j in self.jobs if j.pass_idx in passes and j.ok]

    def _end_to_end(self, setup, first, warm):
        """The result's metrics, which are CPU seconds, and the wall-clock
        figures the detail record carries beside them."""
        from observe import quantile, tail

        # each job's lowest CPU time over the warm passes, JIT threads left out
        best: dict[str, float] = {}
        for j in self.jobs:
            if j.pass_idx > 0 and j.ok:
                best[j.key] = min(best.get(j.key, float("inf")), j.cpu_s - j.jit_s)
        metrics = {
            "setup_s": setup["setup_cpu_s"],
            "first_pass_cpu_s": self.pass_cpu[0],
            "pass_cpu_s": sum(best.values()),
        }
        jobs = self._warm_jobs(set(warm))
        latencies = [j.latency_s for j in jobs]
        if self.workload.streams:
            batches = self.progress.for_tags((j.pass_idx, j.key) for j in jobs)
            batch_s = [b["duration_ms"]["triggerExecution"] / 1000 for b in batches]
            rows = sum(b["rows"] for b in batches)
        else:  # a batch job is one "micro-batch": its action plus fold
            batch_s = [j.exec_s for j in jobs]
            rows = sum(self.input_rows.get(j.key, 0) for j in jobs)
        job_p, job_tail = tail(latencies)
        batch_p, batch_tail = tail(batch_s)
        wall = {
            "setup_s": setup["setup_s"],
            "first_pass_s": first,
            "pass_s": statistics.median(warm.values()),
            "job_p50_s": quantile(latencies, 0.5),
            "job_tail_s": job_tail,
            "stream_rows_per_s": rows / sum(batch_s),
            "batch_p50_s": quantile(batch_s, 0.5),
            "batch_tail_s": batch_tail,
        }
        samples = {
            "setup": len(self.setups),
            "job_cpu_best_s": best,
            "wall_pass": len(warm),
            "wall_job": len(latencies),
            "job_tail_percentile": job_p,
            "batch": len(batch_s),
            "batch_tail_percentile": batch_p,
            "input_rows": rows,
        }
        return metrics, wall, samples

    def _layer_metrics(self, setup, warm, untraced, local1) -> dict[str, float]:
        from observe import quantile
        from tracing import OPERATOR_MODULES, self_times

        spans = self.tracer.spans
        notes = self.tracer.results
        traced = sorted(self.traced_passes - {0})
        n = len(traced)

        def in_passes(passes):
            return lambda i: spans[i][4] is not None and spans[i][4][0] in passes

        def outer_total(prefix, passes):
            """Time in spans named ``prefix``* not nested in another such span."""
            keep = in_passes(passes)
            total = 0.0
            for i, (name, start, end, parent, _job) in enumerate(spans):
                if not name.startswith(prefix) or not keep(i) or end is None:
                    continue
                p = parent
                while p is not None and not spans[p][0].startswith(prefix):
                    p = spans[p][3]
                if p is None:
                    total += end - start
            return total

        def calls(name, passes):
            keep = in_passes(passes)
            return [i for i, s in enumerate(spans) if s[0] == name and keep(i)]

        def prefix_calls(prefix, passes):
            keep = in_passes(passes)
            return sum(1 for i, s in enumerate(spans) if s[0].startswith(prefix) and keep(i))

        m: dict[str, float] = {}
        m["session.get_session_s"] = setup["get_session_s"]
        m["contract.load_all_s"] = setup["load_all_s"]
        loads = calls("io.load_table", {0})
        m["io.load_table_s"] = outer_total("io.load_table", {0})
        m["io.load_table_calls"] = len(loads)
        if loads:  # a ratio over no calls is left out, not printed as measured
            m["io.load_table_hit_ratio"] = sum(bool(notes.get(i)) for i in loads) / len(loads)
        scans = calls("io.spread_scan", set(traced))
        m["io.spread_scan_calls"] = len(scans) / n
        if scans:
            m["io.spread_scan_fired_ratio"] = sum(bool(notes.get(i)) for i in scans) / len(scans)
        m["query.to_df_s"] = outer_total("query.to_df", set(traced)) / n
        m["query.to_df_calls"] = len(calls("query.to_df", set(traced))) / n
        m["pipeline.build_s"] = outer_total("pipeline.", set(traced)) / n
        m["pipeline.calls"] = prefix_calls("pipeline.", set(traced)) / n
        for mod in OPERATOR_MODULES:
            prefix = f"operators.{mod}."
            m[f"operators.{mod}.build_s"] = outer_total(prefix, set(traced)) / n
            m[f"operators.{mod}.calls"] = prefix_calls(prefix, set(traced)) / n
        jobs = self._warm_jobs(set(traced))
        for key in self.workload.keys:
            mine = [j for j in jobs if j.key == key]
            if not mine:
                self.unmeasured_keys.append(key)
                self.failures.append(f"{key}: no traced pass ran it correctly")
                continue
            m[f"job.{key}.build_s"] = statistics.median(j.build_s for j in mine)
            m[f"job.{key}.exec_s"] = statistics.median(j.exec_s for j in mine)
            m[f"job.{key}.tasks"] = statistics.median(j.engine["tasks"] for j in mine)
            m[f"job.{key}.cpu_s"] = statistics.median(j.cpu_s - j.jit_s for j in mine)
        for k in ("stages", "tasks", "failed_tasks"):
            m[f"engine.{k}"] = sum(j.engine.get(k, 0) for j in self.jobs if j.pass_idx in traced) / n
        if self.workload.streams:
            m.update(self._stream_metrics(traced, outer_total, quantile))
        for layer, secs in self_times(spans, in_passes(set(traced))).items():
            if layer in spec.SELF_TIME_LAYERS:
                m[f"{layer}.self_s"] = secs / n
        m["trace.overhead_s"] = statistics.median(warm[i] for i in traced) - statistics.median(untraced)
        if self.workload.name == "olap_star":
            m["olap_star.local1_pass_s"] = local1
        return m

    def _stream_metrics(self, traced, outer_total, quantile) -> dict[str, float]:
        n = len(traced)
        tags = [(j.pass_idx, j.key) for j in self.jobs if j.pass_idx in traced]
        batches = self.progress.for_tags(tags)
        last: dict[str, dict] = {}
        for b in batches:
            if b["run"] not in last or b["batch"] > last[b["run"]]["batch"]:
                last[b["run"]] = b

        def dur(name):
            return sum(b["duration_ms"].get(name, 0) for b in batches) / n

        return {
            "streaming.run_to_completion_s": outer_total("streaming.run_to_completion", set(traced)) / n,
            "streaming.batches": len(batches) / n,
            "streaming.input_rows": sum(b["rows"] for b in batches) / n,
            "streaming.trigger_p50_ms": quantile(
                [b["duration_ms"]["triggerExecution"] for b in batches], 0.5
            ),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.commit_offsets_ms": dur("commitOffsets"),
            "streaming.state_commit_ms": sum(b["state_commit_ms"] for b in batches) / n,
            "streaming.state_rows": sum(b["state_rows"] for b in last.values()) / n,
            "streaming.state_memory_bytes": max((b["state_memory_bytes"] for b in batches), default=0),
            "streaming.sink_bytes": sum(self.pass_bytes[i] for i in traced) / n,
        }


def _stop_descendants(timeout_s: float = 30.0) -> None:
    """Shut the JVM gateway down and wait until no child process of this
    one is left (the JVM, its Python workers); kill what outlives the
    wait."""
    from observe import descendants

    try:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout_s)
    except Exception:
        traceback.print_exc(file=sys.stderr)
    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def _setup_probe(args) -> dict[str, float]:
    """Set-up timings of a fresh process (a new interpreter and JVM),
    which stops its JVM before it exits."""
    cmd = [
        sys.executable, os.path.abspath(__file__), "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", "1", "--sf", args.sf, "--setup-only",
    ]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=150)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"set-up probe failed with exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    args = parse_args(argv)
    tuned = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    if tuned:
        print(f"refusing to run with tuning variables set: {', '.join(tuned)}", file=sys.stderr)
        return 2
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "trembita_spark", "__init__.py")):
        print("trembita_spark/ not found: run from the repository root", file=sys.stderr)
        return 2
    build = os.path.join(root, ".bench_build", "perfbench")
    sf_dir = os.path.join(FIXTURES, f"sf{args.sf}")
    rows = _row_counts(sf_dir)
    os.makedirs(os.path.join(build, "tmp"), exist_ok=True)
    # setup_s is an end-to-end metric; a traced run times its one set-up
    probes = [] if args.setup_only or args.trace else [_setup_probe(args) for _ in range(SETUP_SAMPLES - 1)]
    tmp_root = tempfile.mkdtemp(prefix="run-", dir=os.path.join(build, "tmp"))
    try:
        bench = Bench(args, root, sf_dir, rows, tmp_root)
        if args.setup_only:
            bench._pin_environment()
            report = {"result": bench.setup()}
            bench.spark.stop()
        else:
            report = bench.run(probes)
    finally:
        _stop_descendants()
        os.chdir(root)
        shutil.rmtree(tmp_root, ignore_errors=True)
    if "detail" in report:
        print(json.dumps(report["detail"]))
    print(json.dumps(report["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
