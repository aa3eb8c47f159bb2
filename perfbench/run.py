"""Seeded cold/warm pass benchmark of the engine's public entry points.

    python3 perfbench/run.py --workload basket --seed 1 --seconds 10 --trace 0

One driver process on ``local[<cores>]``:

1. set-up: SparkSession (``session.get_spark``) + the seeded inputs
   (``perfbench/inputs.py``) + one trivial job. The first set-up starts
   the JVM; ``SETUPS`` more each stop the session and set up again on a
   new input path, and ``setup_s`` is their median.
2. one cold pass over the workload's queries on the last set-up's
   session and data, which no query has touched yet;
3. ``WARMUP_PASSES`` untimed warm passes, the first of which collects
   the query results, then timed warm passes until ``--seconds`` have
   elapsed;
4. the output check (``perfbench/check.py``) of the collected results
   and the sink files, outside the timed passes.

A query is timed as ``queries()[name](spark, dir)`` (the build: plans,
operators and ml construction, with any eager job they run) plus its
action: the noop sink, or ``sources.sinks.write_csv``/``write_parquet``
for the queries in ``workloads.SINKS``.

With ``--trace 1`` the run also reads Spark's status store after each
query (``perfbench/tracer.py``), alternates traced and untraced warm
passes to measure the tracing overhead, prints the per-layer metrics,
and writes the spans to ``.perfbench/traces/``. The last line of
standard output is always the one-line JSON result.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
#: set-ups repeated on the started JVM, whose median is ``setup_s``
SETUPS = 3
#: warm passes before the timed ones. Warm passes keep getting faster as
#: the JIT compiles the driver's planning code; a fixed count, not a
#: time, puts every host at the same point of that curve before timing.
WARMUP_PASSES = 2
#: initial driver heap and fixed young generation. The program's own
#: maximum heap stays; without these the JVM starts near 250 MB and
#: grows the heap at GC-timing-dependent moments, which made peak RSS
#: spread by a third of its median from run to run
HEAP_START, YOUNG = "2g", "512m"
#: fewest timed warm passes, whatever ``--seconds`` says
MIN_PASSES = 3


def parse_args(argv: list[str]) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _quantile(values: list[float], q: int) -> float:
    """The q-th percentile, interpolated between samples."""
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot."""
    with open("/proc/stat") as f:
        ticks = int(f.readline().split()[8])
    return ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Bench:
    """One benchmark run: its session, inputs, passes and results."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(OUT, f"run-{args.workload}-s{args.seed}-{os.getpid()}")
        for sub in ("local", "tmp", "warehouse", "sinks"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        # everything the JVM, its Python workers and the program write
        # stays under the run's work directory
        os.environ.update(
            SPARK_GRAFT_CPUS=str(self.nproc),
            SPARK_LOCAL_DIRS=os.path.join(self.work, "local"),
            TMPDIR=os.path.join(self.work, "tmp"),
            PYTHONPATH=os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        )
        self.conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # no hsperfdata file, which the JVM would write to /tmp
            "spark.driver.extraJavaOptions": f"-Xms{HEAP_START} -Xmn{YOUNG} "
            + "-XX:-UsePerfData -Djava.io.tmpdir="
            + os.path.join(self.work, "tmp"),
        }
        from perfbench.workloads import WORKLOADS

        self.names = list(WORKLOADS[args.workload])
        self.spark = None
        self.data_dir = None
        self.failures: dict[str, str] = {}
        self.attempted = 0
        self.tracer = None

    # -- set-up ---------------------------------------------------------

    def set_up(self, k: int) -> float:
        """Stop any session, write fresh seeded inputs, start a session
        and run one trivial job; return the seconds it took."""
        from perfbench import inputs
        from big_data_instacart_market_basket_analysis_spark.session import get_spark

        t0 = time.perf_counter()
        old = self.data_dir
        if self.spark is not None:
            self.spark.stop()
        self.data_dir = inputs.generate(
            os.path.join(self.work, f"setup{k}"), self.args.seed, self.nproc
        )
        self.spark = get_spark("perfbench", self.conf)
        self.spark.range(self.nproc, numPartitions=self.nproc).count()
        if old is not None:
            shutil.rmtree(old)
        return time.perf_counter() - t0

    # -- passes ---------------------------------------------------------

    def _act(self, name: str, df, collect: bool):
        """Run the query's action; with ``collect``, return its result as
        an Arrow table instead, except for a parquet sink, whose files
        the output check reads."""
        from big_data_instacart_market_basket_analysis_spark.sources import sinks
        from perfbench.workloads import SINKS

        kind = SINKS.get(name)
        if collect and kind != "parquet":
            return df.toArrow()
        if kind == "csv":
            sinks.write_csv(df, os.path.join(self.work, "sinks", name))
        elif kind == "parquet":
            sinks.write_parquet(df, os.path.join(self.work, "sinks", name))
        else:
            df.write.format("noop").mode("overwrite").save()
        return None

    def run_pass(self, traced: bool, collect: bool = False) -> dict:
        tracer = self.tracer if traced else None
        queries = self.queries
        out = {"traced": traced, "times": {}, "counters": {}, "spans": [], "tables": {}}
        t_pass, w_pass = time.perf_counter(), time.time()
        for name in self.names:
            if name in self.failures:
                continue
            self.attempted += 1
            try:
                if tracer:
                    tracer.begin(name, "build")
                w0, t0 = time.time(), time.perf_counter()
                df = queries[name](self.spark, self.data_dir)
                w1, t1 = time.time(), time.perf_counter()
                if tracer:
                    tracer.begin(name, "action")
                table = self._act(name, df, collect)
                w2, t2 = time.time(), time.perf_counter()
            except Exception:  # a failing query is counted, not fatal
                self.failures[name] = traceback.format_exc(limit=3)
                continue
            out["times"][name] = (t1 - t0, t2 - t1)
            if table is not None:
                out["tables"][name] = table
            if tracer:
                counters, span = tracer.finish(name, (w0, w1), (w1, w2))
                out["counters"][name] = counters
                out["spans"].append(span)
        out["wall"] = time.perf_counter() - t_pass
        out["span"] = (w_pass, time.time())
        if self.tracer is not None:
            out["persisted_rdds"], out["storage_bytes"] = self.tracer.storage()
        return out

    # -- output check ---------------------------------------------------

    def check(self, tables: dict) -> dict[str, int]:
        """Check every query's output: the Arrow ``tables`` a collecting
        pass returned, and the files of the parquet sinks. Return each
        query's row count."""
        import pyarrow.parquet as pq

        from perfbench.check import check_query, csv_rows
        from perfbench.workloads import EXPECTED_ROWS, SINKS

        oracles = self.entry.oracle_sql()
        rows = {}
        for name in self.names:
            if name in self.failures:
                continue
            self.attempted += 1
            kind = SINKS.get(name)
            path = os.path.join(self.work, "sinks", name)
            try:
                if kind == "parquet":
                    table = pq.read_table(path)
                else:
                    table = tables[name]
                rows[name] = table.num_rows
                written = csv_rows(path) if kind == "csv" else table.num_rows
                if written != table.num_rows:
                    reason = f"CSV sink wrote {written} rows of {table.num_rows}"
                else:
                    reason = check_query(
                        table, oracles.get(name), EXPECTED_ROWS.get(name), self.data_dir
                    )
            except Exception:
                reason = traceback.format_exc(limit=3)
            if reason:
                self.failures[name] = reason
        return rows

    # -- whole run ------------------------------------------------------

    def run(self) -> tuple[dict, dict, dict, dict]:
        args = self.args
        load_start, steal_start = os.getloadavg()[0], _steal_s()
        import __spark_entry__ as entry

        self.entry = entry
        self.queries = entry.queries()
        self.set_up(0)
        session_start_s = time.perf_counter() - T_PROCESS
        setups = [self.set_up(k) for k in range(1, SETUPS + 1)]
        if args.trace:
            from perfbench.tracer import StatusTracer

            self.tracer = StatusTracer(self.spark)

        cold = self.run_pass(traced=bool(args.trace))
        # the first untimed pass collects the results the output check
        # compares, so the check does not run every query once more
        tables = self.run_pass(traced=False, collect=True)["tables"]
        for _ in range(WARMUP_PASSES - 1):
            self.run_pass(traced=False)
        # the high-water mark after a fixed amount of work, so it does
        # not depend on how many passes a host fits in the timed window
        jvm_pid = self.spark.sparkContext._gateway.proc.pid
        peak_rss_mb = (
            _vm_hwm_kb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        ) / 1024
        warm = []
        t_warm = time.perf_counter()
        while len(warm) < MIN_PASSES or time.perf_counter() - t_warm < args.seconds:
            warm.append(self.run_pass(traced=bool(args.trace) and len(warm) % 2 == 0))
        t_check = time.perf_counter()
        result_rows = self.check(tables)
        check_s = time.perf_counter() - t_check

        plain = [p for p in warm if not p["traced"]] or warm
        samples = [b + a for p in plain for b, a in p["times"].values()]
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": self.nproc,
            "default_parallelism": self.spark.sparkContext.defaultParallelism,
            "spark_version": self.spark.version,
            "queries": self.names,
            "warm_passes": len(plain),
            "warm_pass_walls": [p["wall"] for p in plain],
            "warm_query_s": {
                n: statistics.median(sum(p["times"][n]) for p in plain if n in p["times"])
                for n in plain[0]["times"]
            },
            "query_samples": len(samples),
            "check_s": check_s,
            "result_rows": result_rows,
            "loadavg_1m_start": load_start,
            "loadavg_1m_end": os.getloadavg()[0],
            "cpu_steal_s": _steal_s() - steal_start,
        }
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "cold_pass_s": (cold["wall"], "s"),
            "warm_pass_s": (statistics.median(p["wall"] for p in plain), "s"),
            "query_p50_s": (_quantile(samples, 50), "s"),
            "query_p90_s": (_quantile(samples, 90), "s"),
            "failed_frac": (len(self.failures) / len(self.names), "ratio"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
        layers = {}
        if args.trace:
            layers = self.layer_metrics(session_start_s, cold, warm, result_rows)
        return env, metrics, layers, {"cold": cold, "warm": warm, "rows": result_rows}

    def layer_metrics(self, session_start_s, cold, warm, result_rows) -> dict:
        from perfbench.workloads import SINKS

        traced = [p for p in warm if p["traced"]]
        plain = [p for p in warm if not p["traced"]]

        def med(f) -> float:
            return statistics.median(f(p) for p in traced)

        def total(key: str, names=None):
            return med(
                lambda p: sum(
                    c[key] for n, c in p["counters"].items() if names is None or n in names
                )
            )

        def worst(key: str):
            return med(lambda p: max((c[key] for c in p["counters"].values()), default=0))

        warm_query = {
            n: statistics.median(sum(p["times"][n]) for p in traced if n in p["times"])
            for n in cold["times"]
            if any(n in p["times"] for p in traced)
        }
        cold_extra = sum(sum(cold["times"][n]) - w for n, w in warm_query.items())
        busy = total("build_s") + total("action_s")
        parallelism = self.spark.sparkContext.defaultParallelism
        out_rows = sum(result_rows.values())
        sink_names = set(SINKS)
        return {
            "session.start_s": (session_start_s, "s"),
            "sources.input_bytes": (total("input_bytes"), "B"),
            "sources.input_rows": (total("input_rows"), "count"),
            "sources.scan_tasks": (total("scan_tasks"), "count"),
            "sources.rows_per_result_row": (
                total("input_rows") / out_rows if out_rows else 0.0,
                "ratio",
            ),
            "sinks.write_s": (total("action_s", sink_names), "s"),
            "sinks.output_bytes": (total("output_bytes", sink_names), "B"),
            "operators.build_s": (total("build_s"), "s"),
            "operators.build_jobs": (total("build_jobs"), "count"),
            "staging.cold_extra_s": (cold_extra, "s"),
            "staging.persisted_rdds": (
                max(p["persisted_rdds"] for p in [cold, *warm]),
                "count",
            ),
            "staging.storage_bytes": (
                max(p["storage_bytes"] for p in [cold, *warm]),
                "B",
            ),
            "exec.action_s": (total("action_s"), "s"),
            "exec.jobs": (total("build_jobs") + total("action_jobs"), "count"),
            "exec.stages": (total("stages"), "count"),
            "exec.tasks": (total("tasks"), "count"),
            "exec.run_s": (total("run_s"), "s"),
            "exec.cpu_s": (total("cpu_s"), "s"),
            "exec.cpu_util": (total("cpu_s") / (busy * parallelism), "ratio"),
            "exec.gc_s": (total("gc_s"), "s"),
            "exec.failed_tasks": (total("failed_tasks"), "count"),
            "exec.stage_retries": (total("stage_retries"), "count"),
            "exec.driver_gap_s": (total("driver_gap_s"), "s"),
            "exec.task_skew": (worst("task_skew"), "ratio"),
            "exec.peak_exec_mem_bytes": (worst("peak_exec_mem_bytes"), "B"),
            "shuffle.write_bytes": (total("shuffle_write_bytes"), "B"),
            "shuffle.read_bytes": (total("shuffle_read_bytes"), "B"),
            "shuffle.spill_bytes": (total("spill_bytes"), "B"),
            "plans.exchanges": (total("exchanges"), "count"),
            "plans.nl_joins": (total("nl_joins"), "count"),
            "python.eval_nodes": (total("python_nodes"), "count"),
            "python.rows": (total("python_rows"), "count"),
            "trace.overhead_s": (
                med(lambda p: p["wall"]) - statistics.median(p["wall"] for p in plain),
                "s",
            ),
        }

    def close(self) -> None:
        """Stop the session and the JVM, wait for it, drop the inputs."""
        try:
            if self.spark is not None:
                from pyspark import SparkContext

                gateway = SparkContext._gateway
                self.spark.stop()
                proc = gateway.proc
                gateway.shutdown()
                proc.stdin.close()  # the JVM exits on EOF of its stdin
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)


def _query_rows(passes: dict) -> list[dict]:
    """Per query: cold total, and median warm build and action over the
    traced warm passes, with the jobs of one traced pass."""
    traced = [p for p in passes["warm"] if p["traced"]]
    out = []
    for name, (cb, ca) in passes["cold"]["times"].items():
        runs = [p for p in traced if name in p["times"]]
        if not runs:
            continue
        c = runs[0]["counters"][name]
        out.append(
            {
                "query": name,
                "cold_s": cb + ca,
                "build_s": statistics.median(p["times"][name][0] for p in runs),
                "action_s": statistics.median(p["times"][name][1] for p in runs),
                "jobs": c["build_jobs"] + c["action_jobs"],
                "rows": passes["rows"].get(name, 0),
            }
        )
    return out


def _write_trace(path: str, env: dict, passes: dict, table: list[dict], layers: dict) -> None:
    """Spans (workload -> pass -> query -> build/action -> job -> stage),
    the per-query build/action table and the per-layer metrics, which
    include the tracing overhead."""
    root = {"name": env["workload"], "kind": "workload", "children": []}
    for label, p in [("cold", passes["cold"])] + [
        (f"warm{i}", p) for i, p in enumerate(passes["warm"])
    ]:
        root["children"].append(
            {
                "name": label,
                "kind": "pass",
                "traced": p["traced"],
                "start": p["span"][0],
                "end": p["span"][1],
                "children": p["spans"],
            }
        )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"env": env, "queries": table, "layers": layers, "spans": root}, f)


def main(argv: list[str]) -> int:
    # import the benchmark as the ``perfbench`` package, never its
    # modules as top-level names
    sys.path[0] = ROOT
    args = parse_args(argv)
    bench = Bench(args)
    try:
        env, metrics, layers, passes = bench.run()
    finally:
        bench.close()
    print(json.dumps({"env": env}))
    for name, (value, unit) in metrics.items():
        print(f"{args.workload:10s} {name:24s} {value:12.4f} {unit}")
    print(f"{args.workload:10s} query samples: {env['query_samples']}")
    for name, reason in bench.failures.items():
        print(f"FAILED {name}: {reason.strip().splitlines()[-1]}")
    if args.trace:
        table = _query_rows(passes)
        print(
            f"{'query':28s} {'cold_s':>8s} {'build_s':>8s} {'action_s':>8s} "
            f"{'jobs':>5s} {'rows':>8s}"
        )
        for r in table:
            print(
                f"{r['query']:28s} {r['cold_s']:8.3f} {r['build_s']:8.3f} "
                f"{r['action_s']:8.3f} {r['jobs']:5d} {r['rows']:8d}"
            )
        for name, (value, unit) in layers.items():
            print(f"{args.workload:10s} {name:28s} {value:16.4f} {unit}")
        path = os.path.join(OUT, "traces", f"{args.workload}-s{args.seed}.json")
        _write_trace(path, env, passes, table, layers)
        print(f"spans written to {os.path.relpath(path, ROOT)}")
        reported = layers
    else:
        reported = {k: v for k, v in metrics.items() if k != "failed_frac"}
    result = {
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in reported.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
