"""The repository benchmark: one seeded workload, end-to-end metrics, and a
traced per-layer ledger.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. Each run:

1. generates the workload's inputs from ``--seed`` (``gen.py``) in a work
   directory inside the checkout, and computes every expected result: the
   DuckDB oracle of each registered query, the generator's exact counts for
   each MapReduce facade job. This is the benchmark's own work, done in a
   child process, and no metric includes it;
2. starts the measured session (its set-up time is ``setup_s``), runs one
   cold pass over the workload's jobs, a few settling passes, then about
   ``--seconds`` worth of warm passes. Each pass is a closed loop: one job
   in flight, each built, then run to completion by its action, with caches
   released between jobs outside the timed part;
3. checks every result against its expected hash;
4. with ``--trace 1``, restarts the session with Spark's event log on, runs
   the settling and warm passes again, and turns the log into the per-layer
   ledger (``ledger.py``).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones. The lines before it
describe the run: environment, input hashes, per-query rows and the two
correctness counts (``failed_ratio``, ``result_mismatches``).
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# oracle result hashes by (query, oracle SQL, input file hashes); a DuckDB
# oracle can take seconds, and a seed run again in this checkout reuses it
ORACLE_CACHE = os.path.join(WORK_ROOT, "oracle-cache.json")
MIN_WARM_PASSES = 3


# --------------------------------------------------------------------------
# workloads


@dataclass(frozen=True)
class Job:
    """One unit of a pass. ``build`` is the call into the layer that returns
    a lazy result (a DataFrame or RDD); ``act`` runs it to completion. Both
    are timed. ``fetch`` turns what ``act`` returned into ``(columns, rows)``
    for the check, untimed. ``metric`` names the ``mapreduce.*`` per-layer
    metric that times a facade call."""

    name: str
    build: Callable
    act: Callable
    fetch: Callable | None = None
    metric: str | None = None


def _query_job(name: str) -> Job:
    def build(spark, ctx):
        return ctx.specs[name].fn(spark, ctx.table_dir)

    def act(df, ctx):
        return df.columns, [tuple(r) for r in df.collect()]

    return Job(name, build, act)


def _split_words(offset, line):
    return [(w, 1) for w in line.split()]


def _mr_words(spark, ctx):
    from tiny_mapreduce_rpc_server_spark.operators.mapreduce import MapReduceEngine

    return MapReduceEngine(spark).map_reduce(
        ctx.corpus_files, map_fn=_split_words, flat_map=True
    )


def _save_kv(rdd, ctx):
    from tiny_mapreduce_rpc_server_spark.operators.mapreduce import MapReduceEngine

    out = os.path.join(ctx.work, "out", "save_text")
    MapReduceEngine(ctx.spark).save_text(rdd, out)
    return out


def _read_kv_files(out: str, ctx) -> tuple[list[str], list[tuple[str, int]]]:
    rows = []
    for name in sorted(os.listdir(out)):
        if name.startswith("part-"):
            with open(os.path.join(out, name), encoding="utf-8") as f:
                for line in f:
                    k, v = line.rstrip("\n").rsplit(" ", 1)
                    rows.append((k, int(v)))
    return ["key", "value"], rows


def _df_wordcount(spark, ctx):
    from tiny_mapreduce_rpc_server_spark.operators.mapreduce import word_count

    return word_count(spark.read.text(ctx.corpus_files))


def _collect_df(df, ctx):
    return ["key", "value"], [tuple(r) for r in df.collect()]


# facade jobs, checked against the generator's exact word counts
FACADE_JOBS = ("mr_wordcount_save", "df_wordcount")


@dataclass(frozen=True)
class Workload:
    """``corpus_files`` is the number of generated line files; ``pass_s`` the
    nominal warm pass time on 4 cores, which turns ``--seconds`` into a pass
    count; ``settle`` the uncounted passes before the warm ones. Why each
    workload exists is recorded in ``BENCHMARK.json`` and the README."""

    corpus_files: int
    jobs: tuple[Job, ...]
    pass_s: float
    settle: int


def _workloads() -> dict[str, Workload]:
    return {
        # JVM only, job-floor bound: planning, job count, scheduling gaps
        "etl": Workload(
            corpus_files=4,
            jobs=(
                _query_job("q1_pricing_summary"),
                _query_job("q9_product_profit"),
                _query_job("sessionize"),
                Job("df_wordcount", _df_wordcount, _collect_df,
                    metric="mapreduce.df_wordcount_s"),
            ),
            pass_s=2.5,
            # the JIT is still speeding these jobs up for about five passes
            settle=5,
        ),
        # executor work on Python workers: eager gates, an Arrow kernel, the
        # RDD worker and the text sink
        "dedup_mapreduce": Workload(
            corpus_files=2,
            jobs=(
                _query_job("dedup_simhash_clusters"),
                Job("mr_wordcount_save", _mr_words, _save_kv, _read_kv_files,
                    metric="mapreduce.save_s"),
            ),
            pass_s=3.5,
            settle=4,
        ),
    }


WORKLOADS = _workloads()


# --------------------------------------------------------------------------
# results and expected results


def result_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result, canonicalised exactly as the
    repository's oracle comparator does (``tests/oracle_utils.py``)."""
    from oracle_utils import _rowset

    canon = [sorted(cols)] + _rowset(list(cols), list(rows))
    return hashlib.sha256(repr(canon).encode()).hexdigest()


@dataclass
class Tally:
    """Correctness counts of one run. A failed execution is also counted
    as attempted; a mismatch is an execution that finished with a result
    whose hash differs from the expected one."""

    attempted: int = 0
    failed: int = 0
    mismatches: dict[str, int] = field(default_factory=dict)
    errors: dict[str, str] = field(default_factory=dict)

    def check(self, name: str, got: str, expected: str) -> None:
        if got != expected:
            self.mismatches[name] = self.mismatches.get(name, 0) + 1

    @property
    def result_mismatches(self) -> int:
        return sum(self.mismatches.values())

    @property
    def failed_ratio(self) -> float:
        return self.failed / max(self.attempted, 1)


def prepare(workload: str, seed: int, in_dir: str) -> dict:
    """Generate inputs and expected result hashes."""
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    import duckdb

    import gen
    from oracle_utils import duckdb_connect
    from tiny_mapreduce_rpc_server_spark.registry import all_queries

    t0 = time.perf_counter()
    inputs = gen.generate(in_dir, seed, WORKLOADS[workload].corpus_files)
    t_gen = time.perf_counter() - t0
    specs = all_queries()
    try:
        with open(ORACLE_CACHE) as f:
            cache = json.load(f)
    except FileNotFoundError:
        cache = {}
    expected = {}
    con = duckdb_connect(in_dir)
    try:
        for job in WORKLOADS[workload].jobs:
            if job.name in FACADE_JOBS:
                expected[job.name] = result_hash(
                    ["key", "value"], list(inputs.word_counts.items())
                )
                continue
            oracle = specs[job.name].oracle
            key = hashlib.sha256(
                json.dumps([job.name, oracle, sorted(inputs.hashes.items())]).encode()
            ).hexdigest()
            if key not in cache:
                cur = con.execute(oracle)
                cols = [d[0] for d in cur.description]
                cache[key] = result_hash(cols, cur.fetchall())
            expected[job.name] = cache[key]
    finally:
        con.close()
    with open(ORACLE_CACHE + ".tmp", "w") as f:
        json.dump(cache, f)
    os.replace(ORACLE_CACHE + ".tmp", ORACLE_CACHE)
    return {
        "expected": expected,
        "table_dir": inputs.table_dir,
        "corpus_files": inputs.corpus_files,
        "hashes": inputs.hashes,
        "input_bytes": inputs.total_bytes,
        "gen_s": t_gen,
        "oracle_s": time.perf_counter() - t0 - t_gen,
        "duckdb": duckdb.__version__,
    }


# --------------------------------------------------------------------------
# sessions and passes


def start_session(extra_conf: dict[str, str] | None = None):
    """Import the package, build the session and run a first trivial job;
    returns ``(spark, seconds)``. This is what a user pays before any query."""
    t0 = time.perf_counter()
    from tiny_mapreduce_rpc_server_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the JVM's own temp files (artifact dirs, native libraries) stay in
        # the run's work directory too
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    conf.update(extra_conf or {})
    spark = get_spark("perfbench", extra_conf=conf)
    spark.range(1).count()
    return spark, time.perf_counter() - t0


@dataclass
class Ctx:
    """Per-run state the jobs read: the session, the inputs, the specs."""

    spark: object
    table_dir: str
    corpus_files: list[str]
    specs: dict
    work: str  # run_pass empties work/out after every pass


@dataclass
class Segment:
    """One timed call into the program: epoch-ms bounds for lining up with
    the event log, and its wall seconds."""

    job: str
    phase: str
    start_ms: float
    end_ms: float

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


def run_pass(ctx: Ctx, wl_name: str, wl: Workload, pass_id: int,
             expected: dict, tally: Tally) -> tuple[float, list[Segment]]:
    """One closed-loop pass; returns its wall seconds (sum of the timed
    calls) and the timed segments."""
    from tiny_mapreduce_rpc_server_spark import release_caches

    sc = ctx.spark.sparkContext
    sc.setLocalProperty("perfbench.pass", str(pass_id))
    segments: list[Segment] = []
    for job in wl.jobs:
        release_caches()
        ctx.spark.catalog.clearCache()
        group = f"{wl_name}.{job.name}"
        tally.attempted += 1
        try:
            sc.setJobGroup(group, "build")
            t0 = time.time() * 1000.0
            lazy = job.build(ctx.spark, ctx)
            t1 = time.time() * 1000.0
            sc.setJobGroup(group, "action")
            res = job.act(lazy, ctx)
            t2 = time.time() * 1000.0
            cols, rows = job.fetch(res, ctx) if job.fetch else res
        except Exception as exc:  # a failing job is counted, not fatal
            tally.failed += 1
            tally.errors[job.name] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        segments += [Segment(job.name, "build", t0, t1),
                     Segment(job.name, "action", t1, t2)]
        tally.check(job.name, result_hash(cols, rows), expected[job.name])
    shutil.rmtree(os.path.join(ctx.work, "out"), ignore_errors=True)
    return sum(s.seconds for s in segments), segments


def warm_passes(ctx, wl_name, wl, first_id, seconds, expected, tally):
    """``wl.settle`` uncounted passes, then ``seconds`` worth of warm passes
    at the workload's nominal pass time (at least MIN_WARM_PASSES).

    The passes after the cold one still start Python workers for further
    task slots and JIT-compile hot paths; the first ones run 10-40% slower
    than later ones, so they are not counted. Passes keep getting a little
    faster for a while, so the count is fixed by the arguments rather than
    by the clock: a slow run must not stop earlier on the curve than a fast
    one."""
    for pid in range(first_id, first_id + wl.settle):
        run_pass(ctx, wl_name, wl, pid, expected, tally)
    n = max(MIN_WARM_PASSES, round(seconds / wl.pass_s))
    walls, segs = [], []
    first = first_id + wl.settle
    for pid in range(first, first + n):
        wall, s = run_pass(ctx, wl_name, wl, pid, expected, tally)
        walls.append(wall)
        segs.append(s)
    return walls, segs


def retained_heap_mb(spark) -> float:
    """JVM heap still in use after full GCs: what the session keeps (cached
    plans, pinned blocks, broadcast state) once the passes are done. Spark's
    ContextCleaner drops the shuffles and broadcasts a GC found unreachable
    some time after that GC, so the heap is read after three more GCs half a
    second apart, and the least reading is kept."""
    gc.collect()  # drop Python proxies that keep JVM objects reachable
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    jvm.java.lang.System.gc()
    readings = []
    for _ in range(3):
        time.sleep(0.5)
        jvm.java.lang.System.gc()
        readings.append((rt.totalMemory() - rt.freeMemory()) / 1e6)
    return min(readings)


def stop_jvm() -> None:
    """Stop the active session, if any, and wait for the driver JVM to exit.
    The gateway JVM exits when its stdin closes. Safe to call again, and
    when no JVM was started."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None or gateway.proc.poll() is not None:
        return
    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:  # the JVM may already be going away
            pass
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


# prctl(2) option: orphaned descendants are re-parented to this process
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant. Spark's
    Python daemons and workers are children of the JVM; without this, those
    that end after it would be left to init, unwaited-for."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # ended meanwhile
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(entry))
    return kids


def reap_descendants(grace_s: float = 10.0) -> None:
    """Wait until no process this one started, directly or through others,
    is left, reaping each. Those still running after ``grace_s`` get SIGTERM,
    and SIGKILL five seconds later."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        kids = _children()
        if not kids:
            return
        late = time.monotonic() - deadline
        if late > 0:
            sig = signal.SIGKILL if late > 5.0 else signal.SIGTERM
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# --------------------------------------------------------------------------
# main


def _environment(work: str) -> dict[str, str]:
    """Environment of the measured session and the Spark workers: the
    package importable by Python workers, every temporary file in the work
    directory, and all of this machine's cores."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    for key, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "spark-local")):
        env[key] = os.path.join(work, sub)
        os.makedirs(env[key], exist_ok=True)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    return env


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: run only ``prepare`` and write its result to this file
    ap.add_argument("--prepare-into", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "tiny_mapreduce_rpc_server_spark")):
        print("perfbench: the package is not beside perfbench/", file=sys.stderr)
        return 2
    if args.prepare_into:
        in_dir = os.path.join(os.path.dirname(args.prepare_into),
                              f"in-{args.workload}-s{args.seed}")
        with open(args.prepare_into, "w") as f:
            json.dump(prepare(args.workload, args.seed, in_dir), f)
        return 0

    wl = WORKLOADS[args.workload]
    start = os.getloadavg(), cpu_ticks()
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    become_subreaper()
    # a SIGTERM unwinds through the finally below like an error would
    signal.signal(signal.SIGTERM, lambda sig, frame: sys.exit(128 + sig))
    try:
        os.environ.update(_environment(work))
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
        # inputs and expected results in a child process, so that its memory
        # and imports stay out of the measured driver
        prep_file = os.path.join(work, "prepared.json")
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--prepare-into", prep_file],
            check=True,
        )
        with open(prep_file) as f:
            prep = json.load(f)
        print(f"# prepared inputs in {prep['gen_s']:.2f}s, expected results in "
              f"{prep['oracle_s']:.2f}s (not measured)", flush=True)
        return _measure(args, wl, work, prep, start)
    finally:
        stop_jvm()
        reap_descendants()
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, wl, work, prep, start) -> int:
    spark, setup = start_session()
    from tiny_mapreduce_rpc_server_spark.registry import all_queries

    ctx = Ctx(spark, prep["table_dir"], prep["corpus_files"], all_queries(), work)
    tally = Tally()
    expected = prep["expected"]
    cold, cold_segs = run_pass(ctx, args.workload, wl, 0, expected, tally)
    walls, segs = warm_passes(ctx, args.workload, wl, 1, args.seconds, expected, tally)
    warm = statistics.median(walls)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    rss_parts = (vm_hwm_mb(jvm_pid), vm_hwm_mb("self"))
    rss = sum(rss_parts)
    retained = retained_heap_mb(spark)

    if args.trace:
        metrics = _trace(args, wl, ctx, expected, tally, warm, setup)
        metrics["driver.peak_rss_mb"] = _metric(rss, "MB")
    else:
        metrics = {
            "setup_s": _metric(setup, "s"),
            "cold_pass_s": _metric(cold, "s"),
            "warm_pass_s": _metric(warm, "s"),
            "input_mb_per_s": _metric(prep["input_bytes"] / 1e6 / warm, "MB/s"),
            "retained_heap_mb": _metric(retained, "MB"),
        }
    stop_jvm()
    loadavg0, (steal0, total0) = start
    steal1, total1 = cpu_ticks()

    import pyspark

    print("# env " + json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": [round(x, 2) for x in loadavg0],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        # share of CPU time the hypervisor gave to other guests during the
        # run: a high share slows every timed metric
        "steal_ratio": round((steal1 - steal0) / max(total1 - total0, 1), 4),
        "pyspark": pyspark.__version__, "duckdb": prep["duckdb"],
        "input_mb": round(prep["input_bytes"] / 1e6, 3),
        "input_sha256": prep["hashes"],
    }), flush=True)
    print(f"# setup {setup:.3f}s, cold pass "
          f"{cold:.3f}s, warm passes {[round(w, 3) for w in walls]}, peak RSS "
          f"JVM {rss_parts[0]:.0f} MB + Python {rss_parts[1]:.0f} MB, retained "
          f"heap {retained:.0f} MB", flush=True)
    # end-to-end figures outside the bounded metrics: both counts are 0 on a
    # correct program, and the JVM's peak RSS swings with G1 heap sizing
    print(f"# failed_ratio {tally.failed_ratio:.4f} ratio, result_mismatches "
          f"{tally.result_mismatches} count, peak_rss_mb {rss:.1f} MB", flush=True)
    for name, n in sorted(tally.mismatches.items()):
        print(f"# MISMATCH {name}: {n} execution(s) differ from the expected "
              "result", flush=True)
    for name, err in sorted(tally.errors.items()):
        print(f"# FAILED {name}: {err}", flush=True)
    for job in wl.jobs:
        times = {
            phase: [sum(s.seconds for s in p if s.job == job.name and s.phase == phase)
                    for p in segs]
            for phase in ("build", "action")
        }
        cold_s = sum(s.seconds for s in cold_segs if s.job == job.name)
        print(f"# job {job.name}: cold {cold_s:.3f}s, warm median build "
              f"{statistics.median(times['build']):.3f}s + action "
              f"{statistics.median(times['action']):.3f}s", flush=True)
    for name, m in metrics.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}", flush=True)
    print(json.dumps({
        "correct": tally.failed == 0 and tally.result_mismatches == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def _trace(args, wl, ctx, expected, tally, untraced_warm, session_start) -> dict:
    """Restart the session with the event log on, repeat the warm passes,
    and turn the log into the per-layer metrics (median over traced warm
    passes). Then restart without the log and repeat them once more: passes
    keep speeding up as the JVM warms, so the traced median is compared with
    the mean of the untraced medians before and after it."""
    import ledger

    log_dir = os.path.join(ctx.work, "eventlog")
    os.makedirs(log_dir)
    ctx.spark.stop()
    ctx.spark, _ = start_session({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    cores = ctx.spark.sparkContext.defaultParallelism
    walls, segs = warm_passes(ctx, args.workload, wl, 1000, args.seconds,
                              expected, tally)
    first = 1000 + wl.settle
    ctx.spark.stop()
    ctx.spark, _ = start_session()
    after, _ = warm_passes(ctx, args.workload, wl, 2000, args.seconds,
                           expected, tally)
    (log,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    jobs = ledger.read_jobs(log)
    per_pass = [
        ledger.pass_metrics(jobs, first + i, s, cores, {j.name: j.metric for j in wl.jobs})
        for i, s in enumerate(segs)
    ]
    out = {
        name: _metric(statistics.median(p[name] for p in per_pass), unit)
        for name, unit in ledger.METRICS.items()
        if name in per_pass[0]
    }
    out["session.start_s"] = _metric(session_start, "s")
    out["trace.overhead_ratio"] = _metric(
        statistics.median(walls) / ((untraced_warm + statistics.median(after)) / 2),
        "ratio",
    )
    rows = ledger.query_rows(jobs, first, segs[0], cores)
    for r in rows:
        print("# ledger " + json.dumps(r), flush=True)
    return out


if __name__ == "__main__":
    sys.exit(main())
