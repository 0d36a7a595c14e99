#!/usr/bin/env python3
"""Crawl-loop benchmark for crawld_spark.

    python3 perfbench/run.py --workload recrawl_polite --seed 1 --seconds 20 --trace 0

Runs one workload of ``perfbench/workloads.json`` in a closed loop with one
client (the next round or wave starts after the previous one committed) in
one process with a Spark session at ``local[nproc]`` and
``spark.sql.shuffle.partitions = nproc``. It generates every input from
``--seed``, measures for ``--seconds`` (and at least three steps), checks
the results against the reference simulator or the input generator outside
the timer, prints every metric with its unit, and as its last line one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a separate
run with benchmark-side spans around each layer (see ``trace.py``) and the
Spark event log on; it reports the per-layer metrics, prints the per-layer
table with self times, and the tracing overhead against the last untraced
run of the same workload in this checkout.

Exit codes: 0 all checks passed, 1 a step raised or a check failed,
2 the program or an input is missing.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
MIN_STEPS = 3  # every run times a first step, a resume step and one after it
LOCK_WAIT_S = 60.0

END_TO_END = {
    "setup_s": "s",
    "step_s_p50": "s",
    "urls_per_s": "1/s",
    "warehouse_mb_per_step": "MB",
}
# the names these carry on each kind of workload, for the printed report
ALIASES = {
    "crawl": {"step_s_p50": "round_s_p50", "urls_per_s": "crawl_pages_per_s"},
    "admit": {"step_s_p50": "wave_s_p50", "urls_per_s": "admit_urls_per_s"},
}

PER_LAYER = {
    "resume_s": "s",
    "session.start_s": "s",
    "synth_web.generate_s": "s",
    "rounds.bootstrap_s": "s",
    "rounds.fused_job_s": "s",
    "rounds.self_s": "s",
    "rounds.jobs": "count",
    "rounds.stages": "count",
    "rounds.tasks": "count",
    "tables.read_s": "s",
    "tables.commit_s": "s",
    "tables.write_s": "s",
    "tables.write.frontier_s": "s",
    "tables.write.fetched_s": "s",
    "tables.write.seen_shards_s": "s",
    "tables.write.host_state_s": "s",
    "tables.write.rounds_s": "s",
    "tables.frontier_deltas": "count",
    "tables.compactions": "count",
    "tables.bytes_written": "bytes",
    "tables.files_written": "count",
    "seen.admit_s": "s",
    "seen.unique_candidates": "count",
    "seen.suspects": "count",
    "seen.fp_survivors": "count",
    "seen.admitted": "count",
    "seen.dirty_shards": "count",
    "seen.admit_ratio": "ratio",
    "seen.suspect_ratio": "ratio",
    "rank.global_rank_s": "s",
    "rank.rows": "count",
    "politeness.schedule_s": "s",
    "politeness.fetch": "count",
    "politeness.denied": "count",
    "politeness.fetch_ratio": "ratio",
    "functions.pages_extracted": "count",
    "functions.links_extracted": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
}
WRITE_TABLES = ("frontier", "fetched", "seen_shards", "host_state", "rounds")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ------------------------------------------------------------ run hygiene


class _Terminated(Exception):
    pass


def _on_term(signum, frame):
    raise _Terminated(f"signal {signum}")


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the ppid is the 2nd field after the parenthesised command name
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(d))
    return out


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    live = list(pids)
    while live and time.monotonic() < deadline:
        live = [p for p in live if os.path.exists(f"/proc/{p}")]
        if live:
            time.sleep(0.1)
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it started,
    and wait until each has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = _children(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when this pipe closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        _wait_gone(workers, 20.0)


# ---------------------------------------------------------------- the run


def start_session(tmp: Path, n: int, event_dir: Path | None):
    from crawld_spark import shiplib
    from crawld_spark.session import get_spark

    # the package zip for executors goes to this run's temp dir, not /tmp
    zip_path = str(tmp / "crawld_spark_pyfiles.zip")

    def ensure_shipped(spark) -> None:
        sc = spark.sparkContext
        if getattr(sc, shiplib._SHIPPED_ATTR, False):
            return
        shiplib.build_pyfiles_zip(zip_path)
        sc.addPyFile(zip_path)
        setattr(sc, shiplib._SHIPPED_ATTR, True)

    shiplib.ensure_shipped = ensure_shipped
    # the session's generic warm-up is off: each workload's own untimed
    # set-up (bootstrap, warm-up wave) runs the same code paths first and
    # takes the lazy start-up costs into setup_s, about 6 s sooner, which
    # leaves the time for a third timed step within the run budget
    os.environ["SPARK_GRAFT_WARMUP"] = "0"
    conf = {
        "spark.local.dir": str(tmp / "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": str(tmp / "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + str(event_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)


def run_workload(args, params: dict, tmp: Path) -> dict:
    from perfbench import trace
    from perfbench import workloads as wl

    n = nproc()
    warehouse = str(tmp / "warehouse")
    event_dir = None
    if args.trace:
        event_dir = tmp / "events"
        event_dir.mkdir()
    t_setup = time.perf_counter()
    spark = start_session(tmp, n, event_dir)
    t_session = time.perf_counter()
    res: dict = {"kind": params["kind"]}
    try:
        tracer = trace.Tracer(spark.sparkContext) if args.trace else trace.NullTracer()
        tracer.record("session.start", t_setup, t_session)
        work = wl.WORKLOADS[params["kind"]](spark, params, args.seed, warehouse, n, tracer)
        taps, on_release = {}, None
        if args.trace and params["kind"] == "crawl":
            taps = {"seen.admit": work.tap_admit, "politeness.schedule": work.tap_schedule}
            on_release = work.on_release
        installed = trace.install(tracer, taps, on_release) if args.trace else nullcontext()
        with installed:
            work.setup()
            res["setup_s"] = time.perf_counter() - t_setup
            wh_setup = wl.warehouse_stats(warehouse)
            steps, times, items, failed = [], [], [], set()
            wh_counted = None
            k = work.first_step
            t_loop = time.perf_counter()
            # whole steps only: another step starts while it would still end
            # within --seconds at the median step time so far
            while len(steps) < MIN_STEPS or (
                time.perf_counter() - t_loop + statistics.median(times) <= args.seconds
            ):
                try:
                    work.prepare(k)
                    tracer.step = k
                    with tracer.span(work.step_span):
                        t0 = time.perf_counter()
                        n_items = work.step(k)
                        dt = time.perf_counter() - t0
                except Exception:
                    traceback.print_exc()
                    failed.add(k)
                    steps.append(k)
                    break
                finally:
                    tracer.step = None
                steps.append(k)
                times.append(dt)
                items.append(n_items)
                if len(steps) == MIN_STEPS and args.trace:
                    wh_counted = wl.warehouse_stats(warehouse)
                if work.exhausted():
                    break
                k += 1
            wh_end = wl.warehouse_stats(warehouse)
            t_check = time.perf_counter()
            fails, extracted = ({}, {}) if failed else work.check(MIN_STEPS)
            res["phases"] = {
                "session": t_session - t_setup,
                "workload_setup": t_loop - t_session,
                "loop": t_check - t_loop,
                "check": time.perf_counter() - t_check,
            }
        for k, msgs in sorted(fails.items()):
            for m in msgs:
                print(f"CHECK FAILED step {k}: {m}", file=sys.stderr)
            failed.add(k)
        ok_steps = [s for s in steps if s not in failed]
        res.update(steps=steps, failed=sorted(failed), times=times, items=items)
        if times and len(times) == len(steps):
            res["metrics"] = {
                "setup_s": res["setup_s"],
                "step_s_p50": statistics.median(times),
                "urls_per_s": statistics.median(i / t for i, t in zip(items, times)),
                "warehouse_mb_per_step": (wh_end["bytes"] - wh_setup["bytes"]) / len(steps) / 1e6,
            }
            res["resume_s"] = times[1]
        if args.trace and ok_steps == steps:
            res["layers"] = (tracer, work, steps, wh_setup, wh_counted or wh_end, extracted)
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
        res.setdefault("phases", {})["stop"] = time.perf_counter() - t_stop
    return res


def per_layer_metrics(tracer, work, steps, wh_setup, wh_counted, extracted, event_dir) -> dict:
    from perfbench import trace

    groups = trace.read_event_log(str(event_dir))
    spans = tracer.spans
    trace.annotate(spans, groups)
    kids = trace.children_index(spans)
    counted = steps[:MIN_STEPS]

    def first(name):
        return next((s.end - s.start for s in spans if s.name == name), 0.0)

    def per_step(pred, value) -> dict:
        out: dict = {}
        for s in spans:
            if s.step in steps and pred(s):
                out[s.step] = out.get(s.step, 0.0) + value(s)
        return out

    dur = lambda s: s.end - s.start  # noqa: E731
    named = lambda n: (lambda s: s.name == n)  # noqa: E731
    med = lambda by: trace.per_step_median(by, steps)  # noqa: E731

    def spark_subtree(s) -> dict:
        """Spark work of a span and its descendants, the benchmark's own
        counting jobs left out."""
        out = {k: s.attrs.get(k, 0) for k in trace.SPARK_KEYS}
        for c in kids.get(s.sid, []):
            if c.name.startswith("bench."):
                continue
            for key, v in spark_subtree(c).items():
                out[key] += v
        return out

    step_spans = [s for s in spans if s.name == work.step_span and s.step in steps]
    step_spark = {s.step: spark_subtree(s) for s in step_spans}
    rounds = [s for s in step_spans if s.name == "rounds.round"]

    def write_wall(step) -> float:
        iv = [(s.start, s.end) for s in spans
              if s.step == step and s.name.startswith("tables.write.")]
        return trace.union_len(iv)

    c = work.layer_counts(counted)
    m = {
        "resume_s": step_spans[1].end - step_spans[1].start,
        "session.start_s": first("session.start"),
        "synth_web.generate_s": first("synth_web.generate"),
        "rounds.bootstrap_s": first("rounds.bootstrap"),
        "rounds.fused_job_s": med(per_step(named("rounds.fused_job"), dur)),
        "rounds.self_s": med({s.step: s.attrs["self_s"] for s in rounds}),
        "rounds.jobs": med({s.step: step_spark[s.step]["jobs"] for s in rounds}),
        "rounds.stages": med({s.step: step_spark[s.step]["stages"] for s in rounds}),
        "rounds.tasks": med({s.step: step_spark[s.step]["tasks"] for s in rounds}),
        "tables.read_s": med(per_step(named("tables.read"), dur)),
        "tables.commit_s": med(per_step(named("tables.commit"), dur)),
        "tables.write_s": med({st: write_wall(st) for st in steps}),
        "tables.frontier_deltas": wh_counted["frontier_deltas"],
        "tables.compactions": wh_counted["compactions"] - wh_setup["compactions"],
        "tables.bytes_written": wh_counted["bytes"] - wh_setup["bytes"],
        "tables.files_written": wh_counted["files"] - wh_setup["files"],
        "seen.admit_s": med(per_step(named("seen.admit"), dur)),
        "seen.unique_candidates": c["unique_candidates"],
        "seen.suspects": c["suspects"],
        "seen.fp_survivors": c["fp_survivors"],
        "seen.admitted": c["admitted"],
        "seen.dirty_shards": c["dirty_shards"],
        "seen.admit_ratio": c["admitted"] / c["unique_candidates"] if c["unique_candidates"] else 0.0,
        "seen.suspect_ratio": c["suspects"] / c["unique_candidates"] if c["unique_candidates"] else 0.0,
        "rank.global_rank_s": med(per_step(named("rank.global_rank"), dur)),
        "rank.rows": c["rank_rows"],
        "politeness.schedule_s": med(per_step(named("politeness.schedule"), dur)),
        "politeness.fetch": c["fetch"],
        "politeness.denied": c["denied"],
        "politeness.fetch_ratio": c["fetch"] / c["eligible"] if c["eligible"] else 0.0,
        "functions.pages_extracted": extracted["pages_extracted"],
        "functions.links_extracted": extracted["links_extracted"],
        "spark.jobs": med({st: v["jobs"] for st, v in step_spark.items()}),
        "spark.tasks": med({st: v["tasks"] for st, v in step_spark.items()}),
        "spark.shuffle_read_bytes": med({st: v["shuffle_read_bytes"] for st, v in step_spark.items()}),
        "spark.shuffle_write_bytes": med({st: v["shuffle_write_bytes"] for st, v in step_spark.items()}),
    }
    for t in WRITE_TABLES:
        m[f"tables.write.{t}_s"] = med(per_step(named(f"tables.write.{t}"), dur))
    return m, trace.layer_table(spans, steps)


def print_layer_table(rows) -> None:
    print("\nper-span table over the timed steps (spark columns: the span's own job groups)")
    head = ("span", "calls", "total_s", "self_s", "jobs", "stages", "tasks", "shuf_r_MB", "shuf_w_MB")
    print("{:<28} {:>5} {:>9} {:>9} {:>6} {:>6} {:>6} {:>9} {:>9}".format(*head))
    for name, calls, total, self_s, jobs, stages, tasks, sr, sw in rows:
        print(f"{name:<28} {calls:>5} {total:>9.3f} {self_s:>9.3f} {jobs:>6} {stages:>6} "
              f"{tasks:>6} {sr / 1e6:>9.2f} {sw / 1e6:>9.2f}")


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import crawld_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    with open(HERE / "workloads.json") as f:
        all_params = json.load(f)
    if args.workload not in all_params or args.workload.startswith("_"):
        names = [k for k in all_params if not k.startswith("_")]
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2
    params = all_params[args.workload]

    WORK.mkdir(exist_ok=True)
    lock = open(WORK / "lock", "w")
    deadline = time.monotonic() + LOCK_WAIT_S
    while True:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
            break
        except BlockingIOError:
            if time.monotonic() > deadline:
                print("perfbench: another benchmark run holds the lock", file=sys.stderr)
                return 2
            time.sleep(0.5)

    tmp = WORK / f"run-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    old_term = signal.signal(signal.SIGTERM, _on_term)
    try:
        res = run_workload(args, params, tmp)
        layers = None
        if "layers" in res:
            layers = per_layer_metrics(*res["layers"], tmp / "events")
            (WORK / "spans").mkdir(exist_ok=True)
            res["layers"][0].write(str(WORK / "spans" / f"{args.workload}-seed{args.seed}.json"))
    except _Terminated as e:
        print(f"perfbench: terminated ({e})", file=sys.stderr)
        return 1
    finally:
        signal.signal(signal.SIGTERM, old_term)
        shutil.rmtree(tmp, ignore_errors=True)
        fcntl.flock(lock, fcntl.LOCK_UN)
        lock.close()

    attempted = len(res["steps"])
    failed = len(res["failed"])
    correct = failed == 0 and "metrics" in res
    alias = ALIASES[res["kind"]]
    print(f"workload {args.workload}  seed {args.seed}  steps {res['steps']}  "
          f"step times {[round(t, 3) for t in res['times']]}")
    print("phases (s): " + "  ".join(f"{k} {v:.2f}" for k, v in res["phases"].items()))
    print(f"fail_ratio {failed / max(attempted, 1):.3f}  ({failed} of {attempted} steps failed)")
    if "resume_s" in res:
        print(f"resume_s {res['resume_s']:.4f} s  (the fresh engine's first step)")
    e2e = res.get("metrics", {})
    for name, val in e2e.items():
        print(f"{name:<24} {val:>14.4f} {END_TO_END[name]:<4} {alias.get(name, '')}")

    last_untraced = WORK / "results" / f"{args.workload}.json"
    if args.trace == 0:
        if correct:
            last_untraced.parent.mkdir(exist_ok=True)
            last_untraced.write_text(json.dumps({"seed": args.seed, "metrics": e2e}))
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    else:
        metrics = {}
        if layers is not None:
            m, rows = layers
            print_layer_table(rows)
            print("\nper-layer metrics (times: median per step; counts: first "
                  f"{MIN_STEPS} steps)")
            for name, val in m.items():
                print(f"{name:<30} {val:>16.4f} {PER_LAYER[name]}")
            metrics = {k: {"value": m[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
            if last_untraced.exists():
                base = json.loads(last_untraced.read_text())
                print(f"\ntracing overhead: traced minus untraced (seed {base['seed']})")
                for name, val in e2e.items():
                    if name in base["metrics"]:
                        d = val - base["metrics"][name]
                        print(f"{name:<24} {d:>+14.4f} {END_TO_END[name]}")
            else:
                print("\ntracing overhead: no untraced run of this workload in this checkout yet")
        else:
            correct = False
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
