"""The repository benchmark: one seeded workload per run, in a single
``local[nproc]`` Spark process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

A run generates (or reuses) the workload's inputs and their DuckDB
oracle answers for ``--seed`` in a child process (``perfbench/gen.py``),
loads the registry, starts the session, and runs every query of the
workload once untimed: that pass warms the JVM and checks each output
against the query's oracle answer (``tools/check_oracle.compare``).  It
then runs whole passes over the query list until ``--seconds`` have
passed, each query timed from its build until its sink returns, with
``clear_scratch`` after it as ``bench.py`` does.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json:

- ``setup_s``: the time from process start until the first timed pass
  is ready to run: interpreter start, imports, ``registry.queries()``,
  ``get_spark`` and the warm-up pass.  Input generation with oracle
  answers (``prepare_s``) and the output comparison (``compare_s``) are
  left out and printed on their own lines.
- ``pass_s``: the mean wall time of a timed pass.  Passes within a run
  swing by up to 2x on a shared 4-core host, and with three passes the
  mean spreads less between runs than the median does.
- ``peak_rss_mb``: peak resident memory (VmHWM) of the driver JVM plus
  this process.  The heap is neither fixed nor pre-touched, so it shows
  what the program's heap grows to.

``query_s.p50``, ``query_s.tail`` (when a run has eleven or more
executions) and ``failed_ops`` are printed on their own lines.
``--trace 1`` alternates untraced and traced passes; traced passes tag
each query's jobs with a job group, read its stages from Spark's status
store and record spans (``perfbench/ledger.py``).  It prints the
per-layer metrics of BENCHMARK.json, where each operator layer's value
is the per-pass sum over the queries tagged with that layer in
``perfbench/workloads.json``, as the median over traced passes.  The
spans are written to ``.perfbench/traces/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines before
it print every metric with its unit.  Inputs, oracle answers, Spark's
local dirs and every file the run writes stay under ``.perfbench/`` in
the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
ENGINE = "graphdb_cia_factbook_spark"

LAYER_METRICS = ("build_s", "action_s", "driver_s", "jobs", "stages",
                 "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                 "slot_util", "shuffle_write_mb", "shuffle_read_mb",
                 "spill_mb")
LEDGER_SUMS = ("jobs", "stages", "tasks", "executor_run_s",
               "executor_cpu_s", "gc_s", "shuffle_write_mb",
               "shuffle_read_mb", "spill_mb", "job_busy_s")


def _since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _pin_environment() -> int:
    """Pin cores, memory and every scratch path under WORK."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.driver.defaultJavaOptions="
        f"'-Djava.io.tmpdir={tmp}' pyspark-shell")
    return cpus


def _prepare(seed: int, scale: float, names: list[str]):
    """Inputs for (seed, scale) and the oracle answers of ``names``,
    cached under WORK/data and made in a child process; returns (data
    dir, answers, seconds)."""
    data = os.path.join(WORK, "data", f"seed{seed}-scale{scale:g}")
    t0 = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"),
                    str(seed), repr(scale), data, *names],
                   stdout=sys.stderr, check=True)
    with open(os.path.join(data, "oracles.pkl"), "rb") as f:
        answers = pickle.load(f)
    return data, answers, time.perf_counter() - t0


def _tail(times: list[float]) -> tuple[float, float] | None:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; None below eleven samples."""
    s = sorted(times)
    n = len(s)
    if n < 11:
        return None
    return s[n - 11], 100.0 * (n - 10) / n


def _overhead(walls: list[tuple[float, bool]]) -> float:
    """Tracing overhead: the median over traced passes of the pass wall
    minus the mean of the untraced passes on either side, which cancels
    the warm-up drift between consecutive passes."""
    return statistics.median(
        walls[i][0] - (walls[i - 1][0] + walls[i + 1][0]) / 2
        for i in range(1, len(walls) - 1) if walls[i][1])


class Bench:
    """One workload on one session."""

    def __init__(self, spark, queries, sinks, data, ledger=None,
                 tracer=None):
        from graphdb_cia_factbook_spark import sources
        from graphdb_cia_factbook_spark.session import clear_scratch

        self.spark, self.queries, self.sinks = spark, queries, sinks
        self.data = data
        self.ledger, self.tracer = ledger, tracer
        self.clear_scratch = clear_scratch
        self.write_parquet = sources.write_parquet
        self.out_dir = os.path.join(WORK, "out")
        self.attempted = self.failed = 0

    def _sink(self, name: str, df) -> None:
        if self.sinks[name] == "noop":
            df.write.format("noop").mode("overwrite").save()
        else:
            self.write_parquet(df, os.path.join(self.out_dir, name))

    def _written(self, name: str) -> dict:
        path = os.path.join(self.out_dir, name)
        files = [os.path.join(path, f) for f in os.listdir(path)
                 if not f.startswith((".", "_"))]
        return {"files_written": len(files),
                "bytes_written_mb":
                    sum(os.path.getsize(f) for f in files) / 1e6}

    def check_pass(self, oracles: dict) -> float:
        """Untimed warm-up: every query once, output compared with its
        oracle answer.  Returns the seconds spent comparing."""
        from tools.check_oracle import compare

        spent = 0.0
        for name in self.sinks:
            self.attempted += 1
            try:
                got = self.queries[name](self.spark, self.data).toPandas()
            except Exception as exc:  # noqa: BLE001 -- counted, reported
                self.failed += 1
                print(f"FAIL {name}: {type(exc).__name__}: {exc}",
                      file=sys.stderr)
                self.clear_scratch(self.spark)
                continue
            self.clear_scratch(self.spark)
            t0 = time.perf_counter()
            verdict = compare(name, got, oracles[name])
            spent += time.perf_counter() - t0
            if verdict != "OK":
                self.failed += 1
                print(f"FAIL {name}: {verdict}", file=sys.stderr)
        return spent

    def run_query(self, name: str, group: str | None):
        """One timed execution; returns (seconds, ledger record) or
        None when it raised."""
        self.attempted += 1
        tracer = self.tracer if group else None
        try:
            if group:
                self.ledger.tag(group)
            lo = time.time()
            t0 = time.perf_counter()
            df = self.queries[name](self.spark, self.data)
            t1 = time.perf_counter()
            self._sink(name, df)
            t2 = time.perf_counter()
            hi = time.time()
        except Exception as exc:  # noqa: BLE001 -- counted, reported
            self.failed += 1
            print(f"FAIL {name}: {type(exc).__name__}: {exc}",
                  file=sys.stderr)
            self.clear_scratch(self.spark)
            return None
        rec = {"build_s": t1 - t0, "action_s": t2 - t1}
        if self.sinks[name] == "parquet":
            rec.update(self._written(name), write_s=t2 - t1)
        if group:
            rec.update(self.ledger.read(group, lo, hi))
            self.ledger.untag()
            tracer.record("build", lo, lo + (t1 - t0))
            tracer.record("action", lo + (t1 - t0), hi)
        with tracer.span("clear") if tracer else nullcontext():
            t3 = time.perf_counter()
            rec["rdds_dropped"] = self.clear_scratch(self.spark)
            rec["clear_s"] = time.perf_counter() - t3
        return t2 - t0, rec

    def run_pass(self, index: int, traced: bool):
        """One pass over the query list; returns (wall seconds, per-query
        seconds, per-query ledger records)."""
        times, recs = [], {}
        t0 = time.perf_counter()
        for name in self.sinks:
            group = f"perfbench-{index}-{name}" if traced else None
            with (self.tracer.span("query", query=name) if traced
                  else nullcontext()) as span:
                out = self.run_query(name, group)
            if span is not None and out is not None:
                span["counts"] = out[1]
            if out is not None:
                times.append(out[0])
                recs[name] = out[1]
        return time.perf_counter() - t0, times, recs


def layer_metrics(recs: dict, layers: dict, operator_layers: list,
                  cpus: int) -> dict:
    """Per-layer sums for one traced pass."""
    out = {}
    for layer in operator_layers:
        mine = [r for q, r in recs.items() if layers[q] == layer]
        sums = {k: sum(r.get(k, 0) for r in mine)
                for k in LEDGER_SUMS + ("build_s", "action_s", "driver_s")}
        busy = sums.pop("job_busy_s")
        sums["slot_util"] = (sums["executor_run_s"] / (busy * cpus)
                             if busy > 0 else 0.0)
        for k in LAYER_METRICS:
            out[f"{layer}.{k}"] = sums[k]
    out["session.clear_s"] = sum(r["clear_s"] for r in recs.values())
    out["session.rdds_dropped"] = sum(r["rdds_dropped"]
                                      for r in recs.values())
    out["session.stages_unrecorded"] = sum(r["stages_unrecorded"]
                                           for r in recs.values())
    for k in ("write_s", "files_written", "bytes_written_mb"):
        out[f"sources.{k}"] = sum(r.get(k, 0) for r in recs.values())
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="override the workload's input scale "
                         "(the self-test runs a tiny one)")
    args = ap.parse_args(argv)

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec_all = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    if args.workload not in spec_all["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"engine package {ENGINE}/ not found beside perfbench/",
              file=sys.stderr)
        return 2
    spec = spec_all["workloads"][args.workload]
    scale = spec["scale"] if args.scale is None else args.scale
    cpus = _pin_environment()
    sinks = {q["query"]: q["sink"] for q in spec["queries"]}
    run_dir = os.path.join(WORK, "run")
    os.makedirs(run_dir, exist_ok=True)
    os.chdir(run_dir)  # spark-warehouse/ and derby files land here
    data, oracles, prepare_s = _prepare(args.seed, scale, list(sinks))
    sys.path.insert(0, ROOT)

    t0 = time.perf_counter()
    from graphdb_cia_factbook_spark import registry
    queries = registry.queries()
    load_s = time.perf_counter() - t0

    from graphdb_cia_factbook_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    try:
        bench, setup_s, compare_s, walls, traced_recs, all_times = _measure(
            args, spark, queries, sinks, spec_all, data, cpus, oracles,
            prepare_s)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle \
            .current().pid()
        peak_rss_mb = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)

    info = {"prepare_s": (prepare_s, "s"), "compare_s": (compare_s, "s"),
            "registry_load_s": (load_s, "s"),
            "session_start_s": (start_s, "s"),
            "failed_ops": (bench.failed / bench.attempted, "share")}
    untraced = [p for p, tr in walls if not tr]
    metrics = {}
    if args.trace:
        traced = [p for p, tr in walls if tr]
        per = {k: statistics.median(m[k] for m in traced_recs)
               for k in traced_recs[0]}
        per["session.start_s"] = start_s
        per["registry.load_s"] = load_s
        per["trace.overhead_s"] = _overhead(walls)
        names = [(m["name"], m["unit"]) for m in declared["per_layer"]]
        metrics = {n: {"value": per[n], "unit": u} for n, u in names}
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        bench.tracer.dump(
            os.path.join(WORK, "traces",
                         f"{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed,
             "overhead_s": per["trace.overhead_s"],
             "untraced_pass_s": untraced, "traced_pass_s": traced})
        info["trace_overhead_s"] = (per["trace.overhead_s"], "s")
    else:
        e2e = {"setup_s": setup_s, "pass_s": statistics.mean(untraced),
               "peak_rss_mb": peak_rss_mb}
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in declared["end_to_end"]}
        info["query_s.p50"] = (statistics.median(all_times), "s")
        tail = _tail(all_times)
        if tail is not None:
            info["query_s.tail"] = (tail[0], "s")
            info["query_s.tail_percentile"] = (tail[1], "pct")
        info["executions"] = (len(all_times), "count")
        info["passes"] = (len(untraced), "count")
        print("pass walls:", " ".join(f"{p:.3f}" for p in untraced),
              file=sys.stderr)
        print("query times:", " ".join(f"{t:.3f}" for t in all_times),
              file=sys.stderr)
    for name, (value, unit) in info.items():
        print(f"{name} {value:.6g} {unit}")
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": bench.failed == 0,
                      "attempted": bench.attempted, "failed": bench.failed,
                      "metrics": metrics}))
    return 0


def _measure(args, spark, queries, sinks, spec_all, data, cpus, oracles,
             prepare_s):
    """Warm-up and check pass, then timed passes; returns (bench,
    setup_s, compare_s, pass walls, traced layer metrics, untraced
    query times)."""
    from ledger import Ledger, Tracer

    bench = Bench(spark, queries, sinks, data,
                  Ledger(spark) if args.trace else None,
                  Tracer() if args.trace else None)
    compare_s = bench.check_pass(oracles)
    setup_s = _since_process_start() - prepare_s - compare_s
    walls, traced_recs, all_times = [], [], []
    t_end = time.perf_counter() + args.seconds

    def more() -> bool:
        # at least three passes: the first timed pass still runs slower
        # (JIT, heap growth); a traced run also needs a traced pass
        # between two untraced ones
        return time.perf_counter() < t_end or len(walls) < 3

    index = 0
    with bench.tracer.span("run") if args.trace else nullcontext():
        while more():
            traced = bool(args.trace) and index % 2 == 1
            if traced:
                with bench.tracer.span("pass", index=index):
                    wall, times, recs = bench.run_pass(index, True)
                traced_recs.append(layer_metrics(
                    recs, spec_all["layers"], spec_all["operator_layers"],
                    cpus))
            else:
                wall, times, recs = bench.run_pass(index, False)
                all_times.extend(times)
            walls.append((wall, traced))
            index += 1
    return bench, setup_s, compare_s, walls, traced_recs, all_times


if __name__ == "__main__":
    sys.exit(main())
