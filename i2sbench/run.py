"""i2s benchmark: one workload, one client, fixed work per pass.

    python3 i2sbench/run.py --workload sql_serving --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The first run generates the input
tables (sf0.1, pinned generator) and their expected answers under
.bench_build/i2sbench/; later runs reuse them, and neither step counts as
set-up. Each run then starts the engine on local[<cores>], runs the
workload's untimed warm-up passes, and times whole passes until --seconds
of pass time have elapsed. Every answer is checked; a wrong or failed
operation counts in `failed` and its time is not a sample.

The last stdout line is the result: with --trace 0 the end-to-end metrics,
with --trace 1 the per-layer metrics of a run with the layer trace
installed (layertrace.py). The line before it holds the run's detail: the
warm-up curve, pass times and sample counts.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict

import answers
import layertrace
import workloads as W

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "i2sbench")
# scale factor of the inputs; the self-tests set 0.001
SF = os.environ.get("I2SBENCH_SF", "0.1")
# driver heap, well below the memory of a small machine
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "pass_p50_s": "s",
}


def _per_layer() -> dict[str, str]:
    names = ["session.table_calls", "session.table_s", "session.table_jobs",
             "session.register_tables_s", "queries.build_s",
             "queries.build_jobs", "spark.jobs_per_op"]
    names += [f"{o}{suffix}" for o in layertrace.OPERATORS
              for suffix in ("_s", "_jobs")]
    names += ["catalyst.analysis_ms", "catalyst.optimization_ms",
              "catalyst.planning_ms", "execution.s", "execution.jobs",
              "execution.stages", "execution.tasks",
              "execution.shuffle_write_bytes", "dialect.translate_s",
              "engine.sql_s", "server.execute_s", "server.fetch_s",
              "server.fetch_calls", "server.rows_fetched", "admission.wait_s",
              "admission.queued"]
    names += [f"op.{c}_p50_s" for c in W.OP_CLASSES]
    names += ["process.cpu_ms_per_op", "process.peak_rss_mb",
              "traced.ops_per_s"]

    def unit(n: str) -> str:
        if n.endswith("_ms") or "_ms_" in n:
            return "ms"
        if n.endswith("ops_per_s"):
            return "1/s"
        if n.endswith("_s") or n == "execution.s":
            return "s"
        if n.endswith("_bytes"):
            return "B"
        if n.endswith("_mb"):
            return "MB"
        return "jobs/op" if n == "spark.jobs_per_op" else "count"

    return {n: unit(n) for n in names}


# --- inputs and expected answers ---------------------------------------------

def ensure_inputs() -> str:
    """Generate the input tables once per checkout."""
    sf_dir = os.path.join(BUILD, "data", f"sf{SF}")
    if not os.path.isdir(sf_dir):
        from gen_testdata import generate

        tmp = f"{sf_dir}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.redirect_stdout(sys.stderr):
            generate(float(SF), tmp)
        os.rename(tmp, sf_dir)
    return sf_dir


def expectation_specs(workload: str) -> dict[str, str]:
    """Expected-answer key -> its source: a DuckDB statement, or the BPE
    reference."""
    if workload == W.SqlServing.name:
        return W.serving_expectations()
    specs = W.iterative_expectations()
    specs[W.BPE] = f"bpe_merges:{W.BPE_MERGES}"
    return specs


def ensure_expected(sf_dir: str, specs: dict[str, str]) -> dict[str, dict]:
    """Fingerprints of the expected answers, cached per checkout by the
    hash of their source."""
    path = os.path.join(BUILD, f"expected-sf{SF}.json")
    cache = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    con = None
    for key, spec in specs.items():
        digest = hashlib.sha256(spec.encode()).hexdigest()
        if cache.get(key, {}).get("spec") == digest:
            continue
        con = con or answers.duckdb_connection(sf_dir, W.TABLES)
        if key == W.BPE:
            merges = answers.bpe_merges(answers.bpe_word_freqs(con),
                                        W.BPE_MERGES)
            fp = answers.fingerprint(["rank", "lhs", "rhs", "pair_count"],
                                     merges)
        else:
            fp = answers.duckdb_fingerprint(con, spec)
        cache[key] = {"spec": digest, "fp": fp}
    if con is not None:
        con.close()
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, path)
    return {k: cache[k]["fp"] for k in specs}


def check(expected: dict[str, dict], key: str, columns, rows) -> bool:
    if key == W.SESSION:
        return len(rows) == 1 and bool(rows[0][0])
    if key == W.EMPTY:
        return not rows
    return answers.matches(expected[key], columns, rows)


# --- engine lifetime ----------------------------------------------------------

def _sweep_stale_runs() -> None:
    """Remove run directories left by runs that were killed."""
    if not os.path.isdir(BUILD):
        return
    for d in os.listdir(BUILD):
        if not d.startswith("run-"):
            continue
        try:
            os.kill(int(d[4:]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
        except PermissionError:
            pass


def start_spark(run_dir: str, cpus: int):
    """The engine's own session, with every directory it writes (temp
    files, shuffle and spill, warehouse tables) inside `run_dir`."""
    import shlex

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_CPUS=str(cpus),
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.sql.warehouse.dir="
            + shlex.quote(os.path.join(run_dir, "warehouse"))
            + " pyspark-shell"),
    )
    tempfile.tempdir = tmp
    from impalatogo_spark.session import get_spark

    return get_spark("i2sbench", cpus=cpus)


def stop_spark(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at end of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._gateway.proc.pid  # noqa: SLF001
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024.0


# HotSpot's JIT compiler threads. Their CPU is warm-up that continues in
# the background for many passes (a third of the CPU of a timed
# sql_serving pass after four warm-up passes), so it is not charged to
# the operations.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]] | None:
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    comm, rest = raw[raw.index("(") + 1:].rsplit(")", 1)
    return comm, rest.split()


def cpu_sample() -> tuple[dict, dict]:
    """CPU ticks (user + system) of this process and every process it
    started — the driver JVM, Spark's Python workers — by pid, and of
    their JIT compiler threads by (pid, tid). Exited children count
    through their parent's reaped-children fields."""
    procs = {}
    for d in os.listdir("/proc"):
        st = _stat(f"/proc/{d}/stat") if d.isdigit() else None
        if st is not None:
            f = st[1]
            procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    tree, grew = {os.getpid()}, True
    while grew:
        grew = False
        for pid, (ppid, _) in procs.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    jit = {}
    for pid in tree:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            st = _stat(f"/proc/{pid}/task/{tid}/stat")
            if st is not None and st[0].startswith(JIT_THREADS):
                jit[(pid, tid)] = int(st[1][11]) + int(st[1][12])
    return {p: procs[p][1] for p in tree if p in procs}, jit


def cpu_between(a, b) -> float:
    """CPU seconds from sample a to sample b, without JIT compilation. A
    compiler thread that exited in between had gone idle first (HotSpot
    retires idle compiler threads), so it adds nothing."""
    total = sum(v - a[0].get(p, 0) for p, v in b[0].items())
    jit = sum(v - a[1].get(k, 0) for k, v in b[1].items())
    return (total - jit) / os.sysconf("SC_CLK_TCK")


def live_cache(sc) -> tuple[int, int]:
    """(persisted RDDs, cached blocks) alive in the context."""
    rdds = len(sc._jsc.getPersistentRDDs())  # noqa: SLF001
    blocks = sum(int(r.numCachedPartitions())
                 for r in sc._jsc.sc().getRDDStorageInfo())  # noqa: SLF001
    return rdds, blocks


# --- the measurement loop -----------------------------------------------------

class Run:
    """Warm-up and timed passes of one workload, with their checks."""

    def __init__(self, wl, expected, next_job_id=None):
        self.wl, self.expected, self.next_job_id = wl, expected, next_job_id
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def run_pass(self, index: int) -> dict:
        """Run one pass. Its time is the sum of its steps' times, so the
        answer checks between steps are not counted; the CPU time the
        checks take is returned for the same reason."""
        busy, samples, jobs, ops, check_cpu = 0.0, [], 0, 0, 0.0
        for cls, key, fn in self.wl.ops(index):
            j0 = self.next_job_id() if self.next_job_id else 0
            t = time.perf_counter()
            try:
                cols, rows = fn()
                err = None
            except Exception as e:  # a failed operation, not a failed run
                err = f"{cls}: {type(e).__name__}: {e}"
            dt = time.perf_counter() - t
            busy += dt
            if key is None:
                continue
            ops += 1
            jobs += (self.next_job_id() - j0) if self.next_job_id else 0
            self.attempted += 1
            c = time.process_time()
            if err is None and not check(self.expected, key, cols, rows):
                err = f"{cls}: answer differs from expected ({key})"
            check_cpu += time.process_time() - c
            if err is not None:
                self.failed += 1
                self.errors.append(err)
                continue
            samples.append((cls, dt))
        return {"s": busy, "samples": samples, "ops": ops, "jobs": jobs,
                "check_cpu_s": check_cpu}


def layer_metrics(spans, sc) -> dict[str, float]:
    """One pass's per-layer totals from its spans."""
    parts = layertrace.self_parts(spans)
    m: dict[str, float] = defaultdict(float)
    exec_jobs: set[int] = set()
    frames = []
    for sp in spans:
        dur = sp.t1 - sp.t0
        self_s, self_jobs = parts[id(sp)]
        n = sp.name
        if n == "session.table":
            m["session.table_calls"] += 1
            m["session.table_s"] += dur
            m["session.table_jobs"] += sp.j1 - sp.j0
        elif n == "session.register_tables":
            m["session.register_tables_s"] += dur
        elif n == "queries.build":
            m["queries.build_s"] += self_s
            m["queries.build_jobs"] += len(self_jobs)
        elif n in layertrace.OPERATORS:
            m[f"{n}_s"] += self_s
            m[f"{n}_jobs"] += len(self_jobs)
        elif n == "dialect.translate":
            m["dialect.translate_s"] += dur
        elif n == "engine.sql":
            m["engine.sql_s"] += self_s
            frames.append(sp.result)
        elif n == "admission.admit":
            m["admission.wait_s"] += dur
        elif n == "server.execute":
            m["server.execute_s"] += dur
        elif n == "server.fetch":
            m["server.fetch_s"] += dur
            m["server.rows_fetched"] += len(sp.result or ())
        if n in layertrace.EXECUTION:
            m["execution.s"] += self_s
            exec_jobs |= self_jobs
            if n == "execution":
                frames.append(sp.result)
    tracker = sc.statusTracker()
    stages: set[int] = set()
    for j in exec_jobs:
        info = tracker.getJobInfo(j)
        stages.update(info.stageIds if info is not None else ())
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            m["execution.stages"] += 1
            m["execution.tasks"] += info.numCompletedTasks
    m["execution.jobs"] = len(exec_jobs)
    from impalatogo_spark.plans import shuffle_write_bytes

    for df in frames:
        if df is None:
            continue
        phases = df._jdf.queryExecution().tracker().phases()  # noqa: SLF001
        for phase in ("analysis", "optimization", "planning"):
            p = phases.get(phase)
            if p.isDefined():
                m[f"catalyst.{phase}_ms"] += p.get().durationMs()
        m["execution.shuffle_write_bytes"] += shuffle_write_bytes(df)
    return m


def measure(spark, wl_cls, seed: int, seconds: float, traced: bool,
            expected, sf_dir: str, inputs_s: float) -> tuple[dict, dict]:
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()  # noqa: SLF001
    tracer = layertrace.Tracer(dag.nextJobId) if traced else None
    if tracer is not None:
        tracer.install()
    try:
        wl = wl_cls(spark, sf_dir, seed, tracer)
        try:
            return _loop(spark, wl, seconds, expected, tracer,
                         dag.nextJobId if traced else None, inputs_s)
        finally:
            wl.close()
    finally:
        if tracer is not None:
            tracer.uninstall()


def _loop(spark, wl, seconds, expected, tracer, next_job_id, inputs_s):
    sc = spark.sparkContext
    run = Run(wl, expected, next_job_id)
    curve, cache_after = [], []
    for i in range(wl.warmup_passes):
        curve.append(run.run_pass(i)["s"])
        cache_after.append(live_cache(sc))
        if tracer is not None:
            tracer.take()
    setup_s = time.perf_counter() - T_START - inputs_s
    baseline = cache_after[-1]
    passes, layers = [], defaultdict(list)
    counters = wl.counters()
    i = wl.warmup_passes
    while not passes or sum(p["s"] for p in passes) < seconds:
        cpu0 = cpu_sample()
        p = run.run_pass(i)
        p["cpu_s"] = cpu_between(cpu0, cpu_sample()) - p["check_cpu_s"]
        i += 1
        passes.append(p)
        cache_after.append(live_cache(sc))
        if tracer is not None:
            lm = layer_metrics(tracer.take(), sc)
            now = wl.counters()
            for k, v in now.items():
                lm[k] = v - counters[k]
            counters = now
            lm["spark.jobs_per_op"] = p["jobs"] / max(p["ops"], 1)
            for k, v in lm.items():
                layers[k].append(v)
    leaked = [c for c in cache_after[wl.warmup_passes:]
              if c[0] > baseline[0] or c[1] > baseline[1]]
    timed_s = sum(p["s"] for p in passes)
    good = sum(len(p["samples"]) for p in passes)
    by_class = defaultdict(list)
    for p in passes:
        for cls, dt in p["samples"]:
            by_class[cls].append(dt)
    ops_per_s = good / timed_s
    pass_p50_s = statistics.median(p["s"] for p in passes)
    cpu_ms_per_op = statistics.median(
        1000.0 * p["cpu_s"] / max(len(p["samples"]), 1) for p in passes)
    peak_mb = peak_rss_mb(spark)
    if tracer is None:
        values = {"setup_s": setup_s, "ops_per_s": ops_per_s,
                  "pass_p50_s": pass_p50_s}
        units = END_TO_END
    else:
        units = _per_layer()
        values = {n: 0.0 for n in units}
        for k, v in layers.items():
            values[k] = sum(v) / len(v)  # per pass
        for cls, xs in by_class.items():
            values[f"op.{cls}_p50_s"] = statistics.median(xs)
        values["process.cpu_ms_per_op"] = cpu_ms_per_op
        values["process.peak_rss_mb"] = peak_mb
        values["traced.ops_per_s"] = ops_per_s
    correct = run.failed == 0 and not leaked and run.attempted > 0
    result = {
        "correct": correct, "attempted": run.attempted, "failed": run.failed,
        "metrics": {n: {"value": values[n], "unit": u}
                    for n, u in units.items()},
    }
    detail = {
        "workload": wl.name, "cpu_ms_per_op": cpu_ms_per_op,
        "peak_rss_mb": peak_mb, "warmup_curve_s": curve,
        "timed_pass_s": [p["s"] for p in passes],
        "samples": {c: len(xs) for c, xs in by_class.items()},
        "class_p50_s": {c: statistics.median(xs)
                        for c, xs in by_class.items()},
        "live_cache_after_pass": cache_after, "cache_growth": leaked,
        "inputs_s": inputs_s, "errors": run.errors[:20],
        "timed_pass_cpu_s": [p["cpu_s"] for p in passes],
    }
    return result, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "impalatogo_spark",
                                       "__init__.py")):
        print(f"i2sbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    os.makedirs(BUILD, exist_ok=True)
    _sweep_stale_runs()

    t = time.perf_counter()
    sf_dir = ensure_inputs()
    expected = ensure_expected(sf_dir, expectation_specs(args.workload))
    inputs_s = time.perf_counter() - t

    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    spark = None
    try:
        spark = start_spark(run_dir, len(os.sched_getaffinity(0)))
        result, detail = measure(spark, W.WORKLOADS[args.workload], args.seed,
                                 args.seconds, bool(args.trace), expected,
                                 sf_dir, inputs_s)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    if detail["errors"]:
        print("\n".join(detail["errors"]), file=sys.stderr)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
