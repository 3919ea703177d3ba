"""Closed-loop query benchmark for mit_mapreduce_spark.

One process, one client: the pinned queries of a workload run back to
back on ``local[<cores>]``, each timed as its build plus a full
materialization through the ``noop`` sink. Run from the repository
root::

    python3 perfbench/run.py --workload admission --seed 1 \
        --seconds 24 --trace 0

A run reads the project's sf0.01 fixture tables, shipped under
``fixtures/``, starts the session, warms the pandas workers, makes one untimed pass that checks every
query against its DuckDB oracle through ``testing.compare``, then runs
timed passes (query order permuted by ``--seed``) until ``--seconds``
have passed. The last line of stdout is one JSON object: the
end-to-end metrics with ``--trace 0``; with ``--trace 1`` the Spark
event log is on and the per-layer metrics derived from it
(``tracing``).
Run artifacts (stderr, event log, spans) go under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DATA_DIR = os.path.join(HERE, "fixtures", "sf0.01")
MIN_PASSES = 2
WARM_S = 6.0
WORK = os.path.join(ROOT, ".perfbench")
MEMORY_TABLE = re.compile(r"^stream_[0-9a-f]{12}$")


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cached(name: str, build) -> str:
    """Directory ``<WORK>/cache/<name>``, built once by ``build(tmp)``
    and moved into place, so an interrupted build never leaves a
    half-written cache behind."""
    dst = os.path.join(WORK, "cache", name)
    if not os.path.isdir(dst):
        tmp = f"{dst}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        os.replace(tmp, dst)
    return dst


def _digest(*parts: str) -> str:
    return hashlib.sha256("\0".join(parts).encode()).hexdigest()[:16]


def oracle_db(data_dir: str, oracles: dict[str, str]) -> str:
    """A DuckDB file holding each oracle's result as table ``q_<name>``.

    The oracles depend only on the fixture tables and their SQL, so
    they are computed once per (data, SQL) and every run compares its
    fresh Spark output against the stored result. (The manifest's
    oracle alone takes about 25 s in DuckDB.)"""
    from mit_mapreduce_spark.testing import run_oracle

    key = _digest(data_dir, json.dumps(oracles, sort_keys=True))

    def build(tmp: str) -> None:
        db = os.path.join(tmp, "oracle.duckdb")
        for name, sql in oracles.items():
            run_oracle(f"ATTACH '{db}' AS oc; "
                       f'CREATE TABLE oc."q_{name}" AS {sql}', data_dir)

    return os.path.join(cached(f"oracle-{key}", build), "oracle.duckdb")


class Bench:
    """One benchmark run: session, passes, and what they measured."""

    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.names = list(WORKLOADS[args.workload])
        self.rng = random.Random(args.seed)
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.phases: list[tracing.Phase] = []
        self.passes: list[tuple[int, float, float]] = []
        self.pass_s: list[float] = []
        self.query_s: list[float] = []
        self.outcomes: dict[str, list[bool]] = {n: [] for n in self.names}
        self.stderr_marks: list[int] = []
        self.memory_tables: list[int] = []

    def log(self, msg: str) -> None:
        print(msg, flush=True)

    # -- session -----------------------------------------------------

    def start(self) -> None:
        from mit_mapreduce_spark import operators
        from mit_mapreduce_spark.session import get_spark

        operators.load_all()
        self.queries = operators.QUERIES
        self.oracles = {n: operators.ORACLES[n] for n in self.names
                        if n in operators.ORACLES}
        missing = [n for n in self.names if n not in self.queries]
        if missing:
            raise RuntimeError(f"queries not registered: {missing}")
        self.data_dir = DATA_DIR
        # one-off per checkout and oracle SQL: kept out of setup_s
        t0 = time.perf_counter()
        self.oracle_file = oracle_db(self.data_dir, self.oracles)
        self.prep_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        # spawn the pandas workers here, not in the first query
        n = self.cores
        self.spark.range(n).repartition(n) \
            .mapInPandas(lambda it: it, "id long") \
            .write.format("noop").mode("overwrite").save()
        self.workers_s = time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the session and its JVM, and wait for both."""
        from pyspark import SparkContext

        if not hasattr(self, "spark"):
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def jvm_pid(self) -> int | None:
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    # -- passes ------------------------------------------------------

    def clear_memos(self) -> None:
        """Start every query cold: empty the package's module-level
        frame memos, if it still has any."""
        mod = sys.modules.get("mit_mapreduce_spark.operators.mmdedup")
        for attr in ("_ADMISSION_MEMO", "_MANIFEST_MEMO",
                     "_ADMISSION_CTX_MEMO"):
            memo = getattr(mod, attr, None)
            if isinstance(memo, dict):
                memo.clear()

    def tag(self, phase_group: str) -> None:
        if self.args.trace:
            self.spark.sparkContext.setJobGroup(phase_group, phase_group)

    def check(self, name: str, df) -> tuple[bool, str]:
        from mit_mapreduce_spark.testing import compare

        if name in self.oracles:
            sql = (f"ATTACH '{self.oracle_file}' AS oc (READ_ONLY); "
                   f'SELECT * FROM oc."q_{name}"')
            return compare(df, sql, self.data_dir)
        rows = df.count()
        return rows > 0, f"rows-only: {rows} rows"

    def run_query(self, name: str, pass_no: int,
                  check: bool) -> float | None:
        """Build and run one query, through the noop sink or, with
        ``check``, through its correctness check; returns its wall
        seconds, or ``None`` if it raised or failed the check."""
        self.clear_memos()
        self.tag(f"{name}:{pass_no}:build")
        w0, c0 = time.time(), time.perf_counter()
        try:
            df = self.queries[name](self.spark, self.data_dir)
            c1, w1 = time.perf_counter(), time.time()
            self.phases.append(tracing.Phase(name, pass_no, "build", w0, w1))
            self.tag(f"{name}:{pass_no}:exec")
            w2, c2 = time.time(), time.perf_counter()
            if check:
                ok, msg = self.check(name, df)
            else:
                df.write.format("noop").mode("overwrite").save()
                ok, msg = True, ""
            c3, w3 = time.perf_counter(), time.time()
            self.phases.append(tracing.Phase(name, pass_no, "exec", w2, w3))
        except Exception as e:  # noqa: BLE001 — a failing query is recorded
            ok, msg = False, f"raised {type(e).__name__}: {e}"
            traceback.print_exc()  # to the captured stderr
        self.outcomes[name].append(ok)
        if not ok:
            self.log(f"FAILED {name} (pass {pass_no}): {msg[:500]}")
            return None
        return (c1 - c0) + (c3 - c2)

    def run_pass(self, pass_no: int, check: bool = False) -> float:
        order = list(self.names)
        self.rng.shuffle(order)
        self.stderr_marks.append(os.fstat(2).st_size)
        w0, c0 = time.time(), time.perf_counter()
        for name in order:
            t = self.run_query(name, pass_no, check)
            if t is not None and pass_no > 0:
                self.query_s.append(t)
        elapsed = time.perf_counter() - c0
        self.passes.append((pass_no, w0, time.time()))
        self.memory_tables.append(sum(
            1 for t in self.spark.catalog.listTables()
            if t.isTemporary and MEMORY_TABLE.match(t.name)))
        return elapsed

    def run(self) -> None:
        self.start()
        # untimed: pass -1 checks correctness; pass 0 repeats until
        # WARM_S, since a pass's time keeps falling while the JIT
        # compiles the query paths
        self.check_pass_s = self.run_pass(-1, check=True)
        self.warm_pass_s = 0.0
        while self.warm_pass_s < WARM_S:
            self.warm_pass_s += self.run_pass(0)
        self.setup_s = process_age() - self.prep_s
        self.log(f"setup {self.setup_s:.2f} s (oracle cache "
                 f"{self.prep_s:.2f} s not counted): session {self.start_s:.2f} s, "
                 f"pandas workers {self.workers_s:.2f} s, correctness pass "
                 f"{self.check_pass_s:.2f} s, warm pass "
                 f"{self.warm_pass_s:.2f} s")
        # timed passes until the next one would end nearer past the
        # budget than short of it
        begin = time.perf_counter()
        while True:
            self.pass_s.append(self.run_pass(len(self.pass_s) + 1))
            elapsed = time.perf_counter() - begin
            if (len(self.pass_s) >= MIN_PASSES and elapsed
                    + statistics.mean(self.pass_s) / 2 >= self.args.seconds):
                break
        self.stderr_marks.append(os.fstat(2).st_size)
        pid = self.jvm_pid()
        self.peak_rss_mb = vm_hwm_mb("self") + (vm_hwm_mb(pid) if pid else 0)


def end_to_end(b: Bench) -> dict[str, dict]:
    try:
        tail, pct, n = stats.tail_pick(b.query_s)
        b.log(f"query_tail_s {tail:.6g} s (p{pct:.1f} of {n} query "
              "samples; not a bound metric)")
    except ValueError as e:
        b.log(f"query_tail_s not reported: {e}")
    b.log(f"peak_rss_mb {b.peak_rss_mb:.1f} MB (driver JVM + driver "
          "Python VmHWM; not a bound metric)")
    return {
        "pass_s": {"value": statistics.median(b.pass_s), "unit": "s"},
        "query_p50_s": {"value": statistics.median(b.query_s), "unit": "s"},
        "setup_s": {"value": b.setup_s, "unit": "s"},
    }


def unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_s"):
        return "s"
    if "_mb" in name:
        return "MB"
    if name.endswith(("_frac", "_share", "_per_task")):
        return "ratio"
    return "count"


def per_layer(b: Bench, log_dir: str) -> dict[str, dict]:
    tr = tracing.Trace(tracing.read_event_log(log_dir), b.phases)
    timed = len(b.pass_s)
    m = tracing.layer_metrics(tr, b.cores, timed)
    with open(os.path.join(b.run_dir, "stderr.log"), errors="replace") as f:
        text = f.read()
    errors, acc_ids = [], []
    for i in range(len(b.stderr_marks) - 1):
        seg = text[b.stderr_marks[i]:b.stderr_marks[i + 1]]
        e, ids = tracing.stderr_errors(seg)
        errors.append(e)
        acc_ids += ids
    by_query: dict[str, int] = {}
    for acc in acc_ids:
        q = tr.acc_query(acc) or "<unattributed>"
        by_query[q] = by_query.get(q, 0) + 1
    for q, k in sorted(by_query.items()):
        b.log(f"stderr: {k} non-existent-accumulator traces -> {q}")
    m["exec.stderr_errors"] = sum(errors[-timed:]) / timed
    m["streaming.memory_tables"] = b.memory_tables[-1]
    m["session.start_s"] = b.start_s
    m["session.warm_pass_s"] = b.warm_pass_s
    m["trace.pass_s"] = statistics.median(b.pass_s)
    # the harness gap: pass wall time not inside any build or exec phase
    m["trace.harness_gap_s"] = (sum(b.pass_s) - sum(
        p.end - p.start for p in b.phases if p.pass_no >= 1)) / timed
    b.log(f"reconcile per pass: build_s {m['operators.build_s']:.3f} + "
          f"sink_s {m['exec.sink_s']:.3f} + harness gap "
          f"{m['trace.harness_gap_s']:.3f} = mean pass "
          f"{statistics.mean(b.pass_s):.3f} s")
    with open(os.path.join(b.run_dir, "trace.json"), "w") as f:
        json.dump({"metrics": m, "accumulator_traces": by_query,
                   "stderr_errors_per_pass": errors,
                   "spans": tr.spans(b.passes)}, f)
    b.log(f"spans and per-layer metrics: {b.run_dir}/trace.json")

    return {k: {"value": v, "unit": unit(k)} for k, v in sorted(m.items())}


def reap(marker: str) -> None:
    """Wait for (then kill) any process still carrying this run's
    environment marker, such as Python workers the JVM left behind."""
    deadline = time.monotonic() + 15
    needle = f"PERFBENCH_RUN={marker}".encode()
    while True:
        left = []
        for pid in filter(str.isdigit, os.listdir("/proc")):
            if int(pid) == os.getpid():
                continue
            try:
                with open(f"/proc/{pid}/environ", "rb") as f:
                    if needle in f.read().split(b"\0"):
                        left.append(int(pid))
            except OSError:
                continue
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.2)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "mit_mapreduce_spark",
                                       "__init__.py")):
        print(f"perfbench: package mit_mapreduce_spark not found under "
              f"{ROOT}", file=sys.stderr)
        return 2

    marker = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", marker)
    # only the latest run's artifacts are kept
    shutil.rmtree(os.path.join(WORK, "runs"), ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # a clean drain scratch: the package stages stream inputs there
    shutil.rmtree(os.path.join(ROOT, ".scratch"), ignore_errors=True)
    cores = len(os.sched_getaffinity(0))
    env = os.environ
    env["PERFBENCH_RUN"] = marker
    env["SPARK_GRAFT_CPUS"] = str(cores)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    env["TMPDIR"] = tmp
    # pandas workers import the package, so it must be on their path
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    # every JVM (the launcher too) keeps its temporary files in the run
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    submit = []
    log_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        submit += ["--conf spark.eventLog.enabled=true",
                   f"--conf spark.eventLog.dir=file://{log_dir}",
                   "--conf spark.eventLog.compress=false"]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])

    # Spark's own log output (and any worker noise) goes to a file; a
    # copy of the original stderr is kept for a fatal error.
    fatal = os.fdopen(os.dup(2), "w")
    err_fd = os.open(os.path.join(run_dir, "stderr.log"),
                     os.O_WRONLY | os.O_CREAT | os.O_APPEND)
    os.dup2(err_fd, 2)
    sys.stderr = os.fdopen(2, "w", buffering=1)

    b = Bench(args, run_dir)
    try:
        b.run()
    except Exception:  # noqa: BLE001 — reported, then the run fails
        print(traceback.format_exc(), file=fatal)
        print(f"perfbench: run failed; Spark log in {run_dir}/stderr.log",
              file=fatal, flush=True)
        return 1
    finally:
        try:
            b.stop()
        finally:
            reap(marker)
    shutil.rmtree(env["SPARK_LOCAL_DIRS"], ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)

    timed_tables = b.memory_tables[-len(b.pass_s):]
    for i, (s, mt) in enumerate(zip(b.pass_s, timed_tables), 1):
        b.log(f"pass {i}: pass_s {s:.3f} streaming.memory_tables {mt}")
    failed, attempted, frac = stats.failed_frac(b.outcomes)
    b.log(f"failed_frac {frac:.4f} ({failed} of {attempted} query runs)")
    metrics = per_layer(b, log_dir) if args.trace else end_to_end(b)
    for k, v in metrics.items():
        b.log(f"{k} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
