"""Fresh-input benchmark of the catalog, run as a closed loop.

    python3 perfbench/run.py --workload fresh --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

One client on one driver thread submits each catalog entry of the workload
only after the previous one has finished through the ``noop`` sink, on
``local[nproc]``.  The program reads only input directories generated here
from ``--seed``.  Before timing, every (entry, input directory) runs once
and its output is hash-compared with the entry's DuckDB oracle on that
directory; the timed passes then run until ``--seconds`` have passed,
always ending on a whole pass.  The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``).  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.stats import tail  # noqa: E402

# ``fresh``: one entry per layer the traced run reports, each from the
# paper's pipeline stages.  Two directories alternate, so cachereg and
# Spark's caches always miss.
# ``rerun_cached``: cachereg users only, each re-reading the directory it
# read last time, so their cached bases hit and carry most of a pass.
# ``layers`` must record spans in a traced run of the workload.
# README.md records why each entry was chosen.
WORKLOADS = {
    "fresh": {
        "rerun": False,
        "entries": [
            "dq_profile",
            "tx_normalizer_chain",
            "mm_audio_qc",
            "dedup_fuzzy_levenshtein",
            "stream_tumbling_counts",
            "s4_k3_delimited_roundtrip",
        ],
        "layers": ["sources", "operators", "functions", "multimodal",
                   "streaming", "sinks", "scratch"],
    },
    "rerun_cached": {
        "rerun": True,
        "entries": [
            "dq_profile",
            "w11_gap_fill_ffill",
            "agg_hll_union_mergeable",
            "dedup_minhash_lsh",
            "graph_triangle_copurchase",
        ],
        "layers": ["cachereg"],
    },
}
INPUT_DIRS = 2
# Four passes: a run's median pass then always averages the two middle
# passes, past the first (slowest) one; with a pass count that follows the
# run length, runs of three and four passes differed by 10-20% in pass_s.
# Traced runs need four for their untraced/traced/traced/untraced order.
MIN_PASSES = 4
WORK = ".perfbench_work"
END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "ok_ratio": "ratio",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def prepare_env(work: str) -> None:
    """Keep every file the program and Spark write inside ``work``."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    # Python workers import the package by name; they start from the JVM's
    # environment, not from this interpreter's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable


def cpu_steal_s() -> float:
    """Time the hypervisor gave this host's CPUs to others (Linux only);
    printed so a slow run can be told apart from a slow program."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def start_session(extra_conf: dict | None):
    """``get_spark`` plus the warm-up every later query would otherwise pay:
    JVM code paths and the Python-worker pool."""
    from pyspark.sql import functions as F

    from tts_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
    t1 = time.perf_counter()
    ident = F.pandas_udf(lambda s: s, "long")
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n * 100, 1, n).select(F.sum(ident(F.col("id")))).collect()
    return spark, t1 - t0, time.perf_counter() - t1


def jvm_peak_rss_mb(spark) -> float:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (Linux /proc; any of a process's
    threads may have started a child)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = []
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids += [int(k) for k in f.read().split()]
        except OSError:
            continue
        out += kids
        todo += kids
    return out


def stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait for the JVM and the Python workers
    it started to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = descendants(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in children:
        while alive(pid) and time.monotonic() < deadline + 10:
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
            time.sleep(0.05)


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Oracle:
    """DuckDB views over one input directory."""

    def __init__(self, in_dir: str) -> None:
        import duckdb
        import pyarrow.parquet as pq

        from perfbench.inputs import TABLES

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.rows = {}
        for t in TABLES:
            path = os.path.join(in_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
            self.rows[t] = pq.ParquetFile(path).metadata.num_rows

    def input_rows(self, sql: str) -> int:
        return sum(n for t, n in self.rows.items() if re.search(rf"\b{t}\b", sql))

    def compare(self, spark_pdf, sql: str) -> str | None:
        from tools.driver_sim import value_hash

        want = self.con.execute(sql).fetchdf()
        if sorted(spark_pdf.columns) != sorted(want.columns):
            return f"columns {sorted(spark_pdf.columns)} != {sorted(want.columns)}"
        if len(spark_pdf) != len(want):
            return f"rows {len(spark_pdf)} != {len(want)}"
        got_h, want_h = value_hash(spark_pdf), value_hash(want)
        if got_h != want_h:
            return f"hash {got_h} != {want_h}"
        return None


class Runner:
    """One workload in one Spark session: the check, then the timed passes."""

    def __init__(self, spark, name: str, dirs: list[str], tracer=None) -> None:
        from tts_data_pipeline_spark.plans import catalog

        self.spark = spark
        self.name = name
        self.spec = WORKLOADS[name]
        self.entries = self.spec["entries"]
        self.dirs = dirs
        self.tracer = tracer
        self.queries = catalog.queries()
        self.oracles = catalog.oracle_sql()
        self.bad: dict[tuple[str, str], str] = {}
        self.invocations: list[dict] = []
        self.per_entry: dict[str, list[float]] = {e: [] for e in self.entries}

    def dir_for(self, entry_index: int, label) -> str:
        """The input of one invocation.  ``rerun`` workloads keep each entry
        on one directory; the others alternate, so an entry never reads the
        directory its previous invocation read."""
        if self.spec["rerun"]:
            return self.dirs[entry_index % len(self.dirs)]
        return self.dirs[label % len(self.dirs)]

    def _tag(self, entry: str, label, phase: str) -> None:
        tag = f"{self.name}|{entry}|{label}|{phase}"
        self.spark.sparkContext.setLocalProperty("perfbench.tag", tag)
        if self.tracer is not None:
            self.tracer.retag(tag)

    def check(self) -> None:
        """First output of every (entry, directory) against its oracle."""
        oracles = {d: Oracle(d) for d in self.dirs}
        labels = [0] if self.spec["rerun"] else range(len(self.dirs))
        for i, entry in enumerate(self.entries):
            for label in labels:
                d = self.dir_for(i, label)
                self._tag(entry, f"c{label}", "check")
                t0 = time.perf_counter()
                try:
                    pdf = self.queries[entry](self.spark, d).toPandas()
                    err = oracles[d].compare(pdf, self.oracles[entry])
                except Exception as ex:  # noqa: BLE001 - reported, counted
                    err = f"{type(ex).__name__}: {str(ex).splitlines()[0][:200]}"
                status = "OK  " if err is None else "FAIL"
                print(f"check {status} {entry} {os.path.basename(d)} "
                      f"[{time.perf_counter() - t0:.2f} s]"
                      + ("" if err is None else f": {err}"), flush=True)
                if err is not None:
                    self.bad[(entry, d)] = err
        self.rows_per_pass = sum(
            oracles[self.dir_for(i, 0)].input_rows(self.oracles[e])
            for i, e in enumerate(self.entries)
        )

    def invoke(self, i: int, entry: str, label: int) -> tuple[float, bool]:
        d = self.dir_for(i, label)
        rec = {"prefix": f"{self.name}|{entry}|{label}", "pass": label}
        ok = True
        t0 = time.perf_counter()
        rec["start"] = time.time()
        try:
            self._tag(entry, label, "build")
            df = self.queries[entry](self.spark, d)
            rec["build_end"] = time.time()
            self._tag(entry, label, "action")
            df.write.format("noop").mode("overwrite").save()
        except Exception as ex:  # noqa: BLE001 - reported, counted
            ok = False
            print(f"FAIL {entry} {os.path.basename(d)} pass {label}: "
                  f"{type(ex).__name__}: {str(ex).splitlines()[0][:200]}",
                  flush=True)
        dt = time.perf_counter() - t0
        log(f"  {entry} pass {label}: {dt:.3f} s")
        rec["end"] = time.time()
        rec.setdefault("build_end", rec["end"])
        self.invocations.append(rec)
        if (entry, d) in self.bad:
            ok = False
        return dt, ok

    def timed(self, seconds: float):
        """Whole passes until ``seconds`` have passed (at least MIN_PASSES)."""
        latencies, passes, failed = [], [], 0
        t_start = time.perf_counter()
        label = 0
        while label < MIN_PASSES or time.perf_counter() - t_start < seconds:
            if self.tracer is not None:
                self.tracer.active = traced_pass(label)
            tp = time.perf_counter()
            for i, entry in enumerate(self.entries):
                dt, ok = self.invoke(i, entry, label)
                latencies.append(dt)
                self.per_entry[entry].append(dt)
                failed += not ok
            passes.append(time.perf_counter() - tp)
            label += 1
        if self.tracer is not None:
            self.tracer.active = False
            self.tracer.retag(None)
        self.spark.sparkContext.setLocalProperty("perfbench.tag", None)
        return latencies, passes, failed


def end_to_end(setup_s, latencies, passes, attempted, failed):
    # MIN_PASSES * len(entries) >= 11, so some percentile always has ten
    # samples beyond it
    t = tail(latencies)
    values = {
        "setup_s": setup_s,
        "pass_s": statistics.median(passes),
        "latency_p50_s": statistics.median(latencies),
        "latency_tail_s": t[0],
        "ok_ratio": (attempted - failed) / attempted,
    }
    return values, t


def run_all(args) -> int:
    """Every workload, each in its own process, as a single run of one
    workload would see it."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        res = subprocess.run(cmd, cwd=os.getcwd(), stdout=subprocess.PIPE, text=True)
        lines = res.stdout.rstrip("\n").splitlines()
        for line in lines[:-1]:
            print(f"[{name}] {line}", flush=True)
        if res.returncode != 0 or not lines:
            print(f"[{name}] exited with {res.returncode}", flush=True)
            return 1
        out = json.loads(lines[-1])
        merged["correct"] &= out["correct"]
        merged["attempted"] += out["attempted"]
        merged["failed"] += out["failed"]
        for k, v in out["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
    print(json.dumps(merged, separators=(",", ":")))
    return 0 if merged["correct"] else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)

    t_proc = time.perf_counter()
    steal0 = cpu_steal_s()
    try:
        import pyspark  # noqa: F401

        from tts_data_pipeline_spark.plans import catalog  # noqa: F401
        from perfbench.inputs import make_input_dirs
    except ImportError as ex:
        log(f"cannot import the program from {ROOT}: {ex}")
        return 2
    import_s = time.perf_counter() - t_proc
    work = os.path.join(os.getcwd(), WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)

    tracer = None
    extra_conf = None
    if args.trace:
        from perfbench import tracing

        tracer = tracing.Tracer()
        os.makedirs(os.path.join(work, "eventlog"))
        extra_conf = tracing.event_log_conf(os.path.join(work, "eventlog"))

    spark = None
    try:
        spark, start_s, warm_s = start_session(extra_conf)
        t0 = time.perf_counter()
        with redirect_stdout(sys.stderr):
            dirs = make_input_dirs(work, args.seed, INPUT_DIRS)
        inputs_s = time.perf_counter() - t0

        if tracer is not None:
            tracer.attach(spark)
            tracer.install()
        runner = Runner(spark, args.workload, dirs, tracer)
        t0 = time.perf_counter()
        runner.check()
        check_s = time.perf_counter() - t0
        latencies, passes, failed = runner.timed(args.seconds)
        peak_rss = jvm_peak_rss_mb(spark) + (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        )
        if tracer is not None:
            traced = {p for p in range(len(passes)) if traced_pass(p)}
            scratch_mb = (
                sum(mb for tag, _, mb in tracer.scratch_dirs
                    if tracing.pass_of(tag) in traced),
                tracing.dir_mb(os.environ["TMPDIR"]),
            )
            time.sleep(1.0)  # let the listener buses drain
    finally:
        if spark is not None:
            stop_session(spark)

    attempted = len(latencies)
    values, t = end_to_end(import_s + start_s + warm_s, latencies, passes, attempted, failed)
    print(f"workload {args.workload}: {len(runner.entries)} entries, {INPUT_DIRS} input dirs, "
          f"closed loop, 1 client, local[{os.cpu_count()}], seed {args.seed}")
    print(f"setup_s        {values['setup_s']:.3f} s  (imports {import_s:.3f} s + "
          f"get_spark {start_s:.3f} s + warm-up {warm_s:.3f} s)")
    print(f"inputs_s       {inputs_s:.3f} s  (not in setup_s)")
    print(f"check_s        {check_s:.3f} s  (not timed)")
    print(f"pass_s         {values['pass_s']:.3f} s  (median of {len(passes)} passes, "
          f"{runner.rows_per_pass} input rows per pass)")
    print(f"latency_p50_s  {values['latency_p50_s']:.3f} s  (n={attempted})")
    print(f"latency_tail_s {t[0]:.3f} s  (p{t[1]:.1f}, n={t[2]})")
    print(f"failed_ratio   {failed}/{attempted} = {failed / attempted:.4f}")
    print(f"cpu_steal_s    {cpu_steal_s() - steal0:.2f} s  (host CPU time taken by "
          f"other guests during this run)")
    print("passes_s       " + " ".join(f"{x:.3f}" for x in passes))
    for entry, xs in runner.per_entry.items():
        print(f"entry {entry:32s} median {statistics.median(xs):.3f} s  "
              + " ".join(f"{x:.3f}" for x in xs))
    for (entry, d), err in sorted(runner.bad.items()):
        print(f"failed {entry} on {os.path.basename(d)}: {err}")

    correct = failed == 0 and not runner.bad
    status = 0
    if tracer is None:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    else:
        logs = os.listdir(os.path.join(work, "eventlog"))
        jobs = tracing.parse_event_log(os.path.join(work, "eventlog", logs[0]))
        layer = tracing.layer_metrics(tracer, jobs, runner.invocations, traced, *scratch_mb)
        layer["trace.span_overhead_s"] = statistics.median(
            [x for p, x in enumerate(passes) if p in traced]
        ) - statistics.median([x for p, x in enumerate(passes) if p not in traced])
        layer["session.import_s"] = import_s
        layer["session.start_s"] = start_s
        layer["session.warm_s"] = warm_s
        layer["session.peak_rss_mb"] = peak_rss
        problems = trace_problems(args.workload, layer)
        for msg in problems:
            print(f"trace FAIL: {msg}")
        correct = correct and not problems
        status = 1 if problems else 0
        spans_path = os.path.join(
            os.getcwd(), WORK, f"trace-{args.workload}-{args.seed}.json"
        )
        with open(spans_path, "w") as f:
            json.dump({"spans": tracer.spans, "jobs": jobs,
                       "invocations": runner.invocations,
                       "cache_lookups": tracer.cache_lookups,
                       "batches": tracer.batches}, f)
        print(f"trace          {len(tracer.spans)} spans, {len(jobs)} jobs -> "
              f"{os.path.relpath(spans_path)}")
        for k in sorted(layer):
            print(f"  {k:28s} {layer[k]:.4f} {tracing.unit_of(k)}")
        metrics = {k: {"value": v, "unit": tracing.unit_of(k)} for k, v in layer.items()}

    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return status


def traced_pass(p: int) -> bool:
    """Traced runs trace passes in the order untraced, traced, traced,
    untraced, so the warm-up trend across passes cancels out of the span
    overhead (median traced pass minus median untraced pass).  The event
    log and the listeners are on in every pass of a traced run, so that
    figure covers the span wrappers and job tags only."""
    return p % 4 in (1, 2)


def trace_problems(workload: str, layer: dict) -> list[str]:
    """Layers that recorded nothing where they should do most of their work,
    and a cachereg hit ratio that contradicts the workload's design."""
    spec = WORKLOADS[workload]
    out = [f"layer {x} recorded no spans on {workload}"
           for x in spec["layers"] if layer[f"{x}.calls"] == 0]
    hit_ratio = layer["cachereg.hit_ratio"]
    if spec["rerun"] != (hit_ratio > 0):
        out.append(f"cachereg.hit_ratio is {hit_ratio:.3f} on {workload}")
    return out


if __name__ == "__main__":
    sys.exit(main())
