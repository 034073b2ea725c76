"""Benchmark entry point: one workload per process, closed loop.

    python3 perfbench/run.py --workload terasort --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run from the repository root.  One client runs one pass at a time; each
pass goes from the generated input files to a complete result in a sink.
Inputs come from ``--seed`` and are cached under ``.bench_data/``; scratch
files go to ``.bench_work/`` and are removed at the end.  With
``--trace 0`` the last stdout line carries the end-to-end metrics, with
``--trace 1`` the per-layer ones.  ``--workload all`` runs every workload,
each in its own process.  See README.md in this directory.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, as far as set-up time is concerned

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("terasort", "dedup")

END_TO_END = {"setup_s": "s", "pass_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s", "session.first_pass_s": "s", "session.gc_ms": "ms",
    "session.jvm_cpu_s": "s", "registry.import_s": "s",
    "sources.scan_s": "s", "sources.write_s": "s", "sources.input_rows": "count",
    "sources.input_mb": "MB",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.records": "count",
    "shuffle.fetch_wait_ms": "ms",
    "operators.sort_s": "s", "operators.spill_mb": "MB",
    "operators.dedup.signatures_s": "s", "operators.dedup.pairs_s": "s",
    "operators.dedup.cc_s": "s", "operators.dedup.cc_jobs": "count", "operators.dedup.cc_rounds": "count",
    "operators.dedup.prefix_pairs_s": "s",
    "functions.python_cpu_s": "s",
    "queries.terasort_s": "s", "queries.dedup_minhash_near_pairs_s": "s",
    "queries.dedup_cluster_canonical_star_s": "s", "queries.dedup_prefix_filter_pairs_s": "s",
    "queries.jobs": "count", "queries.tasks": "count", "queries.driver_gap_s": "s",
    "cache.released": "count",
    "trace.pass_s": "s", "trace.overhead_s": "s",
}
TRACED_PASSES = 2


def calibration_probe() -> float:
    """bench.py's fixed single-thread CPU probe (the same loop), recorded
    with each result to show host contention; results are never rescaled."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(12_000_000):
        acc += i * i
    return round(time.perf_counter() - t0, 3)


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def run_all(args) -> int:
    """Every workload, each in a fresh process; prints their records."""
    status = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed",
               str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        sys.stdout.write(proc.stdout)
        status = status or proc.returncode
    return status


class Session:
    """The Spark session of one run and the processes it starts."""

    def __init__(self, slots: int, work: str, event_dir: str | None):
        from uda_spark.session import get_spark

        conf = {
            # A fixed 2 GB driver heap (the program's default is 8 GB): with
            # the larger cap, G1 grows the heap to anywhere between 4 and 6
            # GB from run to run, so peak memory would measure the
            # collector's timing more than the program.
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        }
        if event_dir:
            conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir,
                         "spark.eventLog.compress": "false"})
        self.spark = get_spark("perfbench", master=f"local[{slots}]", shuffle_partitions=slots,
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        jvm = self.spark.sparkContext._jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._gc_beans = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())

    def gc_ms(self) -> int:
        return sum(int(b.getCollectionTime()) for b in self._gc_beans)

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and the Python workers it
        started have exited."""
        import procstat
        from pyspark import SparkContext

        started = [p for p in procstat.tree() if p != os.getpid()]
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
        except Exception:  # an interrupted call can leave the gateway unusable
            traceback.print_exc()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        for pid in started:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass


def one_pass(wl, tracer=None):
    """Run every query of a pass; returns ({query: result}, {query: seconds})."""
    results, seconds = {}, {}
    for q in wl.queries:
        t = time.perf_counter()
        if tracer is None:
            results[q] = wl.run_query(q)
        else:
            with tracer.span(f"queries.{q}"):
                results[q] = wl.run_query(q)
        seconds[q] = time.perf_counter() - t
    return results, seconds


def checked(wl, results) -> bool:
    """Whether every query of a pass gave the right result."""
    if results is None:  # the pass raised
        return False
    ok = True
    for q, res in results.items():
        try:
            good = wl.check(q, res)
        except Exception:
            traceback.print_exc()
            good = False
        if not good:
            log(f"{wl.name}: wrong result for {q}")
        ok = ok and good
    return ok


def timed_passes(wl, seconds: float, min_passes: int, max_passes: int | None = None):
    """Closed loop: passes until ``seconds`` have elapsed and at least
    ``min_passes`` ran.  Each pass records wall and process-tree CPU and
    keeps its results, which are checked after the session has stopped,
    so the checks' memory and time stay out of every metric."""
    import procstat

    samples, began = [], time.perf_counter()
    while (len(samples) < min_passes or time.perf_counter() - began < seconds) and (
        max_passes is None or len(samples) < max_passes
    ):
        c0, t0 = procstat.cpu_s(procstat.tree()), time.perf_counter()
        try:
            results, _ = one_pass(wl)
        except Exception:
            log(traceback.format_exc())
            results = None
        wall = time.perf_counter() - t0
        cpu = procstat.cpu_s(procstat.tree()) - c0
        samples.append({"wall_s": wall, "cpu_s": cpu, "results": results})
    return samples


def traced_passes(wl, sess, tracer, n: int):
    """Passes with a span per query."""
    import procstat

    out = []
    for _ in range(n):
        pids = procstat.tree()
        c = (procstat.cpu_s(procstat.python_workers(pids)), procstat.cpu_s([sess.jvm_pid]), sess.gc_ms())
        released = wl.released
        with tracer.span("pass") as span:
            results, seconds = one_pass(wl, tracer)
        pids = procstat.tree()
        out.append({
            "span": span, "seconds": seconds, "results": results,
            "python_cpu_s": procstat.cpu_s(procstat.python_workers(pids)) - c[0],
            "jvm_cpu_s": procstat.cpu_s([sess.jvm_pid]) - c[1],
            "gc_ms": sess.gc_ms() - c[2],
            "released": wl.released - released,
            "cc_rounds": wl.cc_rounds(),
        })
    return out


def program_digest() -> str:
    """Digest of the program's source, so counts recorded by a traced run
    are only compared with runs of the same program."""
    h = hashlib.sha1()
    for top, dirs, files in os.walk(os.path.join(ROOT, "uda_spark")):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(top, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def layer_metrics(wl, tracer, events, passes, untraced_pass_s: float) -> tuple[dict, list[dict]]:
    from spans import MB

    by_name = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)

    def span_s(name: str) -> float:
        return by_name[name][-1].seconds if name in by_name else 0.0

    med = statistics.median
    counts = []
    for p in passes:
        jobs = tracer.jobs_under(p["span"])
        tot = events.totals(jobs)
        tot["gap_s"] = p["span"].seconds - events.busy_seconds(jobs, p["span"].start, p["span"].end)
        counts.append(tot)
    last = counts[-1]
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({
        "session.start_s": span_s("session.start"),
        "session.first_pass_s": by_name["warmup"][0].seconds,
        "session.gc_ms": med(p["gc_ms"] for p in passes),
        "session.jvm_cpu_s": med(p["jvm_cpu_s"] for p in passes),
        "registry.import_s": span_s("registry.import"),
        "sources.scan_s": span_s("sources.scan"),
        "sources.input_rows": last["input_records"],
        "sources.input_mb": last["files_read_bytes"] / MB,
        "shuffle.write_mb": last["shuffle_write_bytes"] / MB,
        "shuffle.read_mb": last["shuffle_read_bytes"] / MB,
        "shuffle.records": last["shuffle_write_records"],
        "shuffle.fetch_wait_ms": med(c["fetch_wait_ms"] for c in counts),
        "operators.spill_mb": last["spill_disk_bytes"] / MB,
        "functions.python_cpu_s": med(p["python_cpu_s"] for p in passes),
        "queries.jobs": last["jobs"],
        "queries.tasks": last["tasks"],
        "queries.driver_gap_s": med(c["gap_s"] for c in counts),
        "cache.released": med(p["released"] for p in passes),
        "operators.dedup.cc_rounds": passes[-1]["cc_rounds"] or 0,
        "trace.pass_s": statistics.mean(p["span"].seconds for p in passes),
    })
    m["trace.overhead_s"] = m["trace.pass_s"] - untraced_pass_s
    for q in wl.queries:
        m[f"queries.{q}_s"] = med(p["seconds"][q] for p in passes)
    if "operators.sort" in by_name:
        m["operators.sort_s"] = span_s("operators.sort")
        m["sources.write_s"] = span_s("sources.write") - span_s("operators.sort")
    for part in ("signatures", "pairs", "cc", "prefix_pairs"):
        m[f"operators.dedup.{part}_s"] = span_s(f"operators.dedup.{part}")
    if "operators.dedup.cc" in by_name:
        m["operators.dedup.cc_jobs"] = len(tracer.jobs_under(by_name["operators.dedup.cc"][-1]))
    return m, counts


COUNT_KEYS = ("jobs", "tasks", "shuffle_write_records")


def self_checks(wl, tracer, events, passes, counts, input_rows: int, record_path: str) -> dict[str, str | None]:
    """Exact-count self-checks of the traced run: check name -> None when
    it held, else what differed.

    passes_agree: every traced pass ran the same jobs, tasks, shuffle
      records and connected-components rounds.
    same_seed_run: those counts equal the ones an earlier traced run
      recorded for the same seed, input size and program source.  The
      first such run records them beside the cached input instead.
    records_eq_input: terasort shuffles exactly its input rows (no combiner).
    """
    got = [{**{k: c[k] for k in COUNT_KEYS}, "cc_rounds": p["cc_rounds"]} for c, p in zip(counts, passes)]
    out = {}
    differ = [k for k in got[0] if len({g[k] for g in got}) != 1]
    out["passes_agree"] = None
    if differ:
        per_query = [
            {s.name: {k: events.totals(tracer.jobs_under(s))[k] for k in COUNT_KEYS}
             for s in tracer.subtree(p["span"]) if s.parent == p["span"].sid}
            for p in passes
        ]
        out["passes_agree"] = f"{', '.join(differ)} differ between traced passes: {got}; per query {per_query}"
    if os.path.exists(record_path):
        with open(record_path) as f:
            earlier = json.load(f)
        out["same_seed_run"] = None if earlier == got[-1] else f"earlier run {earlier}, this run {got[-1]}"
    else:
        with open(record_path + ".tmp", "w") as f:
            json.dump(got[-1], f)
        os.replace(record_path + ".tmp", record_path)
        log(f"{wl.name}: counts recorded for later traced runs with this seed: {got[-1]}")
    if wl.name == "terasort":
        shuffled = counts[-1]["shuffle_write_records"]
        out["records_eq_input"] = None if shuffled == input_rows else (
            f"terasort shuffled {shuffled} records, input has {input_rows}")
    return out


def run_workload(args) -> int:
    # The program must come from this checkout; without it, fail before
    # doing anything else.
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import uda_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program from {ROOT}: {e}")
        return 2
    import gen
    import procstat
    from spans import EventLog, Tracer
    from workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    load_before = [round(x, 2) for x in os.getloadavg()]
    t = time.perf_counter()
    data_dir, summary = gen.cached_inputs(os.path.join(ROOT, ".bench_data"), cls.name, args.seed, cls.size,
                                          keep=cls.cache_keep)
    gen_s = time.perf_counter() - t

    work = os.path.join(ROOT, ".bench_work", f"{cls.name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp", "events"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    slots = min(4, len(os.sched_getaffinity(0)))
    traced = bool(args.trace)
    tracer = Tracer()
    wl = cls(data_dir, summary, work)
    sess = None
    try:
        with procstat.PeakRss() as rss:
            with tracer.span("session.start"):
                sess = Session(slots, work, os.path.join(work, "events") if traced else None)
            if traced:
                tracer.bind(sess.spark)
            with tracer.span("registry.import"):
                wl.bind(sess.spark)
            for _ in range(wl.warmup):
                with tracer.span("warmup"):
                    one_pass(wl)
            setup_s = time.perf_counter() - T0 - gen_s
            if traced:
                # Untraced, traced, traced, untraced: the two kinds sit at
                # the same mean position, so a warm-up trend cancels out
                # of the tracing overhead.
                samples = timed_passes(wl, 0, 1, 1)
                passes = traced_passes(wl, sess, tracer, TRACED_PASSES)
                samples += timed_passes(wl, 0, 1, 1)
                wl.layers(tracer)
            else:
                samples, passes = timed_passes(wl, args.seconds, wl.min_passes), []
        sess.stop()
        sess = None
        for s in samples + passes:
            s["ok"] = checked(wl, s.pop("results"))
        if traced:
            events = EventLog(os.path.join(work, "events"))
            untraced = statistics.mean(s["wall_s"] for s in samples)
            metrics, counts = layer_metrics(wl, tracer, events, passes, untraced)
            record = os.path.join(data_dir, f"_traced_counts_{program_digest()}.json")
            checks = self_checks(wl, tracer, events, passes, counts, summary.get("rows", 0), record)
            units = {**PER_LAYER, **{f"queries.{q}_s": "s" for q in wl.queries}}
        else:
            metrics = {
                "setup_s": setup_s,
                "pass_s": statistics.median(s["wall_s"] for s in samples),
                "cpu_s": statistics.median(s["cpu_s"] for s in samples),
                "peak_rss_mb": rss.peak_mb,
            }
            checks = {}
            units = END_TO_END
    finally:
        if sess is not None:
            sess.stop()
        shutil.rmtree(work, ignore_errors=True)

    host = {
        "nproc": len(os.sched_getaffinity(0)), "task_slots": slots,
        "loadavg_before": load_before, "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "calib_probe_s": calibration_probe(), "gen_s": round(gen_s, 3),
        "passes": [round(s["wall_s"], 3) for s in samples],
    }
    n_passes = len(samples) + len(passes)
    bad_passes = sum(not s["ok"] for s in samples) + sum(not p["ok"] for p in passes)
    for name, value in metrics.items():
        print(f"{cls.name} {name} {value:.6g} {units[name]}")
    print(f"{cls.name} error_rate {bad_passes / n_passes:.6g} ratio ({bad_passes}/{n_passes} passes)")
    print(f"{cls.name} host {json.dumps(host)}")
    for name, problem in checks.items():
        print(f"{cls.name} selfcheck {name} {'FAILED: ' + problem if problem else 'ok'}")
    # A failed self-check fails the run like a wrong result does.
    attempted = n_passes + len(checks)
    failed = bad_passes + sum(p is not None for p in checks.values())
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("all",) + WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # Turn SIGTERM into an exit, so the session is stopped and the JVM and
    # its workers are waited for on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
