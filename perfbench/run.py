"""Benchmark of the mosaic engine: one workload per run, closed loop.

    python3 perfbench/run.py --workload query_index --seed 1 --seconds 10 --trace 0

One Python process runs one pass at a time on ``local[N]``
(N = min(4, usable cores)) for ``--seconds``, checks every pass's output
after its timed region, and prints one JSON object as the last stdout line.
The query_index pass computes its row checksum inside the pass, as an
observed aggregate on its noop write (about 5% of its wall time).
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is a separate run
that reports per-layer metrics from spans and Spark's event log, and writes
the spans and a per-layer table under ``.perfbench/reports/``.

Workloads (see ``workloads.py``):
  query_index    pages -> scan, geocode, tile, score, per-tile rank -> noop sink
  catalog_build  pages -> geocode, strips, trimmed footprints -> geo table
  mosaic_build   catalog -> cutline, footprint join, composite, BMP tiles, lineage

End-to-end metrics (median over the timed passes unless noted):
  wall_s       wall time of one pass, from its first action until its output is written
  cpu_s        user + system CPU of the process tree (Python, JVM, Python workers)
  peak_rss_mb  sum of peak resident sets over the process tree at the end of the run
  setup_s      session start + the input build + the warm-up passes
  ok_ratio     passes whose output check passed / passes attempted

Before the metrics, the run prints a line ``input: {...}`` describing the
input, the set-up phases and a same-window CPU calibration (context only).
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# after one warm-up pass the next still ran 20-40% slower than the steady passes
WARMUP_PASSES = 2
# pages generated from the seed; the mosaic workload only needs enough to fill its catalog
DEFAULT_PAGES = {"query_index": 200_000, "catalog_build": 100_000, "mosaic_build": 20_000}
HEAP = "2g"

END_TO_END_UNITS = {"wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB", "setup_s": "s",
                    "ok_ratio": "fraction"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["query_index", "catalog_build", "mosaic_build"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measuring time; at least one pass always runs")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pages", type=int, default=None,
                    help="pages generated from the seed (default: per workload)")
    return ap.parse_args(argv)


def cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def git_commit() -> str:
    try:
        # the ceiling keeps git from searching directories above the checkout
        out = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10,
                             env=dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT)))
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def confine_to(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into ``work``."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def session_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.driver.memory": HEAP,
        # G1 sizes its young generation from pause-time predictions, so the
        # JVM's peak resident set moved by up to a quarter between runs; the
        # parallel collector grows the heap with what the engine allocates
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",  # this Python has no zstd module
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every child process is gone."""
    from perfbench.proctree import descendants, running

    me = os.getpid()
    children = [p for p in descendants(me) if p != me]
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while True:
        alive = running(children)
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, out


def run_passes(wl, seconds: float, first: int, traced=None):
    """Closed loop until ``seconds`` have passed (at least one pass).
    Returns (walls, cpus, attempted, failed, pass labels)."""
    from perfbench.proctree import cpu_seconds

    me = os.getpid()
    walls, cpus, labels = [], [], []
    attempted = failed = 0
    deadline = time.perf_counter() + seconds
    k = first
    while attempted == 0 or time.perf_counter() < deadline:
        attempted += 1
        k += 1
        c0 = cpu_seconds(me)
        t0 = time.perf_counter()
        try:
            if traced is None:
                result = wl.run_pass(k)
            else:
                with traced.span(f"pass{k}", "run") as label:
                    result = wl.traced_pass(traced, k, label)
                labels.append(label)
        except Exception:  # a failed pass is counted, reported and the loop goes on
            result = None
            traceback.print_exc(file=sys.stderr)
        walls.append(time.perf_counter() - t0)
        cpus.append(cpu_seconds(me) - c0)
        if result is not None:
            try:
                wl.check(result)
            except Exception:
                result = None
                traceback.print_exc(file=sys.stderr)
        failed += result is None
        wl.clean(k)
    return walls, cpus, attempted, failed, labels


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        from imagery_utils_spark.session import get_spark
        from scaling_bench import cpu_calibration

        import perfbench.workloads as W
        from perfbench import tracing
        from perfbench.proctree import peak_rss_mb
    except ImportError as e:
        print(f"perfbench: the engine package is missing from this checkout ({e})",
              file=sys.stderr)
        return 2

    n = cores()
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    confine_to(work)
    calibration = cpu_calibration(n, n=5_000_000)  # before the JVM: it forks
    try:
        session_s, spark = timed(get_spark, f"local[{n}]", "perfbench", n,
                                 session_conf(work, bool(args.trace)))
        try:
            spark.sparkContext.setLogLevel("ERROR")
            ctx = W.Context(spark, n, args.seed, args.pages or DEFAULT_PAGES[args.workload], work)
            wl = W.WORKLOADS[args.workload](ctx)
            build_s, _ = timed(wl.build_inputs)
            warm_s = 0.0
            for k in range(-WARMUP_PASSES, 0):
                wall, result = timed(wl.run_pass, k)
                warm_s += wall
                if k == -1:
                    check_s, _ = timed(wl.prepare_checks)
                    wl.check(result)  # the warm-up must be right before anything is timed
                wl.clean(k)
            setup_s = session_s + build_s + warm_s
            if args.trace:
                # untraced passes first, for the tracing overhead
                tracer = tracing.Tracer(spark.sparkContext)
                plain_walls, _, n_plain, f_plain, _ = run_passes(wl, args.seconds / 2, 0)
                walls, _, attempted, failed, labels = run_passes(
                    wl, args.seconds / 2, 1000, tracer)
                attempted, failed = attempted + n_plain, failed + f_plain
                if labels:
                    wl.microbench(tracer, labels[-1])
            else:
                walls, cpus, attempted, failed, _ = run_passes(wl, args.seconds, 0)
                print(f"passes: wall_s={[round(w, 3) for w in walls]} "
                      f"cpu_s={[round(c, 2) for c in cpus]}", flush=True)
            rss = peak_rss_mb(os.getpid())
        finally:
            stop_session(spark)
        info = dict(wl.info, workload=args.workload, seed=args.seed, cores=n,
                    commit=git_commit(), cpu_calibration_mops=calibration,
                    session_s=round(session_s, 3), build_s=round(build_s, 3),
                    warmup_s=round(warm_s, 3), oracle_s=round(check_s, 3))
        print("input: " + json.dumps(info), flush=True)
        if args.trace:
            units = tracing.metric_units()
            values = tracing.per_layer(tracer, tracing.read_event_log(
                os.path.join(work, "eventlog")), labels)
            values["session.self_s"] = session_s
            values[tracing.OVERHEAD[0]] = statistics.median(walls) - statistics.median(plain_walls)
            report = os.path.join(ROOT, ".perfbench", "reports",
                                  f"{args.workload}-seed{args.seed}")
            tracing.write_report(report, tracer, values, units)
            print(f"trace: {report}.spans.jsonl {report}.layers.txt", flush=True)
        else:
            units = END_TO_END_UNITS
            values = {"wall_s": statistics.median(walls), "cpu_s": statistics.median(cpus),
                      "peak_rss_mb": rss, "setup_s": setup_s,
                      "ok_ratio": (attempted - failed) / attempted}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
