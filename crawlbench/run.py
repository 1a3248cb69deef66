"""crawlfe benchmark: one workload, one seed, one result line.

    python3 crawlbench/run.py --workload {backfill,pit_query} \\
        --seed N --seconds S --trace {0,1}

Runs from the root of a checkout that holds the ``crawlfe`` package
and exits non-zero without a result if it does not. The session is
``local[4]``; inputs come from ``fixtures.py`` (cached under
``.crawlbench/cache``); every output is checked against
``crawlfe.oracle`` outside the timed region. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). Lines before it are a readable report. Metric
definitions, workload choices and known defects are in NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
SETUP_REPS = 3
DRIVER_MEM = "1g"
EXTRACT_SAMPLE = 1000  # pages for the in-process extract/textfeat timings
_T0 = time.perf_counter()


def _import_crawlfe() -> bool:
    """Put the checkout's crawlfe first on the path of this process and
    of the Python workers Spark starts; refuse any other copy."""
    if not os.path.isfile(os.path.join(ROOT, "crawlfe", "__init__.py")):
        return False
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import crawlfe

    return os.path.dirname(os.path.abspath(crawlfe.__file__)) == os.path.join(
        ROOT, "crawlfe")


def start_session(run_dir: str, cores: int, event_log: str | None):
    from crawlfe.conf import get_spark

    # every temporary file of the run stays in the run directory: the
    # gateway's connection file, both JVMs' tmpdir and no hsperfdata
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    extra = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app="crawlbench", cores=cores, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    from tracing import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = [proc.pid, *descendants(proc.pid)] if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    for pid in pids:
        while time.time() < deadline and os.path.exists(f"/proc/{pid}"):
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def phase(name: str) -> None:
    """Progress line on stderr: seconds since start, phase name."""
    print(f"[crawlbench {time.perf_counter() - _T0:7.2f}s] {name}",
          file=sys.stderr, flush=True)


def _attempt(wl, runs: list) -> None:
    """One run_once; an exception counts as one failed operation."""
    from workloads import Op, Run

    try:
        runs.append(wl.run_once())
    except Exception:
        traceback.print_exc()
        runs.append(Run(float("nan"), [Op(None, ok=False)]))


def measure(wl, seconds: float, runs: list) -> None:
    """Complete runs back to back for ``seconds``: at least one, and no
    further run once the last one's length would carry past the end."""
    end = time.perf_counter() + seconds
    while True:
        t0 = time.perf_counter()
        _attempt(wl, runs)
        if time.perf_counter() + (time.perf_counter() - t0) > end:
            return


def summarize(wl, runs, setups, warm_s, session_s, peak_rss) -> tuple[dict, dict]:
    """(end-to-end metrics for the JSON line, extra report figures)."""
    med = statistics.median
    walls = [r.wall_s for r in runs if math.isfinite(r.wall_s)] or [math.nan]
    timed = [o for r in runs for o in r.ops if o.latency_s is not None]
    lat = [o.latency_s for o in timed] or [math.nan]
    wall_s, op_s = med(walls), med(lat)
    e2e = {
        "setup_s": (session_s + warm_s + med(setups), "s"),
        "wall_s": (wall_s, "s"),
        "op_s_p50": (op_s, "s"),
        "pages_per_s": (wl.pages_per_s(wall_s, op_s), "pages/s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }
    ops = [o for r in runs for o in r.ops]
    extra = {
        "timed_runs": sum(math.isfinite(r.wall_s) for r in runs),
        "op_samples": len(lat),
        "op_latencies_s": [round(x, 3) for x in lat],
        "error_ratio": sum(o.ok is not True for o in ops) / max(1, len(ops)),
    }
    if wl.name == "pit_query":
        extra["query_s_p50"] = op_s
        extra["probes_per_s"] = (
            sum(o.items for o in timed) / sum(o.latency_s for o in timed))
        extra["latency_s_by_probes"] = {
            n: med([o.latency_s for o in timed if o.items == n])
            for n in wl.sizes}
        extra["stored_bytes_per_page"] = (
            wl.io_stats()["stored_bytes"] / wl.n_pages)
    return e2e, extra


def kernel_timings(fx: str) -> dict:
    """extract / textfeat cost per page, in-process on a fixed sample of
    the workload's pages (the first EXTRACT_SAMPLE in fixture order)."""
    import glob

    import pandas as pd

    from crawlfe.extract import _Fallback, _fast_scan, extract_text
    from crawlfe.textfeat import featurize_batch, sha256_hex

    files = sorted(glob.glob(os.path.join(fx, "**", "*.parquet"), recursive=True))
    html = []
    for f in files:
        if "probes-" in f:
            continue
        html.extend(pd.read_parquet(f, columns=["html"])["html"])
        if len(html) >= EXTRACT_SAMPLE:
            break
    html = html[:EXTRACT_SAMPLE]
    n = len(html)

    def best_of_3(fn):
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            out = fn()
            times.append(time.perf_counter() - t0)
        return min(times) / n * 1e6, out

    ex_us, texts = best_of_3(lambda: [extract_text(h) for h in html])
    fast = 0
    for h in html:
        try:
            _fast_scan(bytes(h).decode("utf-8", errors="replace"))
            fast += 1
        except _Fallback:
            pass
    tf_us, _ = best_of_3(lambda: featurize_batch(texts))
    sha_us, _ = best_of_3(lambda: [sha256_hex(t) for t in texts])
    return {"extract_us": ex_us, "fastpath": fast / n, "textfeat_us": tf_us,
            "sha_us": sha_us}


def scaling_legs(args, expected, pps4: float) -> dict:
    """backfill pages/s at local[1] (this script again, in its own JVM
    pinned to one CPU) against ``pps4``, this run's untraced local[4]
    job, next to scripts/scaling_evidence.py's busy-loop calibration at
    the same pinnings."""
    import importlib.util

    cmd = [sys.executable, os.path.abspath(__file__), "--workload", "backfill",
           "--seed", str(args.seed), "--seconds", "1", "--trace", "0",
           "--cores", "1", "--setup-reps", "1", "--expect", json.dumps(expected)]
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT,
                         timeout=120)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    pps1 = res["metrics"]["pages_per_s"]["value"]
    spec = importlib.util.spec_from_file_location(
        "scaling_evidence", os.path.join(ROOT, "scripts", "scaling_evidence.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    c1, c4 = mod.cpu_calibration(1), mod.cpu_calibration(CORES)
    return {"eff": pps4 / (CORES * pps1), "calib": c4 / (CORES * c1),
            "pps1": pps1, "pps4": pps4, "ok": [res["correct"]]}


def trace_metrics(wl, tracer, groups, kern, scaling, untraced_wall,
                  traced_wall, session_s) -> dict:
    from tracing import layer_metrics

    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s["self_s"] = s["end"] - s["start"]
    for s in spans:
        if s["parent"] is not None:
            by_id[s["parent"]]["self_s"] -= s["end"] - s["start"]
    L = {name: layer_metrics(spans, groups, name)
         for name in ("features", "windows", "asof")}
    io = {name: sum(s["end"] - s["start"] for s in spans
                    if s["layer"] == "io" and s["name"] == name)
          for name in ("stage", "commit", "read")}
    probes = sum(s.get("probes", 0) for s in spans)
    feat_pages = L["features"]["rows"]
    stats = wl.io_stats()
    py = L["features"]["python_cpu_s"]
    kshare = ((kern["extract_us"] + kern["textfeat_us"]) * feat_pages / 1e6 / py
              if py > 0 else 0.0)
    allg = list(groups.values())

    def ratio(a, b):
        return a / b if b else 0.0

    m = {
        "conf.session_s": (session_s, "s"),
        "extract.us_per_page": (kern["extract_us"], "us"),
        "extract.fastpath_ratio": (kern["fastpath"], "1"),
        "textfeat.us_per_page": (kern["textfeat_us"], "us"),
        "textfeat.sha_us_per_page": (kern["sha_us"], "us"),
        "features.wall_s": (L["features"]["wall_s"], "s"),
        "features.python_cpu_s": (py, "s"),
        "features.jvm_cpu_s": (L["features"]["jvm_cpu_s"], "s"),
        "features.kernel_share": (kshare, "1"),
        "features.task_skew": (L["features"]["task_skew"], "1"),
        "windows.wall_s": (L["windows"]["wall_s"], "s"),
        "windows.shuffle_write_bytes": (L["windows"]["shuffle_write_bytes"], "B"),
        "windows.spill_bytes": (L["windows"]["spill_bytes"], "B"),
        "windows.task_skew": (L["windows"]["task_skew"], "1"),
        "asof.wall_s": (L["asof"]["wall_s"], "s"),
        "asof.python_cpu_s": (L["asof"]["python_cpu_s"], "s"),
        "asof.shuffle_write_bytes": (L["asof"]["shuffle_write_bytes"], "B"),
        "asof.spill_bytes": (L["asof"]["spill_bytes"], "B"),
        "asof.task_skew": (L["asof"]["task_skew"], "1"),
        "asof.match_ratio": (ratio(L["asof"]["matched"], L["asof"]["rows"]), "1"),
        "asof.rows_per_probe": (ratio(L["asof"]["rows"], probes), "1"),
        "pipeline.self_s": (
            sum(s["self_s"] for s in spans if s["layer"] == "pipeline"), "s"),
        "pipeline.useful_stage_ratio": (
            ratio(stats["committed"], stats["staged"]), "1"),
        "io.stage_s": (io["stage"], "s"),
        "io.commit_s": (io["commit"], "s"),
        "io.read_s": (io["read"], "s"),
        "io.bytes_written": (stats["bytes_written"], "B"),
        "io.files_written": (stats["files_written"], "count"),
        "io.orphan_bytes": (stats["orphan_bytes"], "B"),
        "spark.gc_s": (sum(g["gc_ms"] for g in allg) / 1e3, "s"),
        "spark.spill_bytes": (sum(g["spill"] for g in allg), "B"),
        "scaling.eff_1to4": (scaling.get("eff", 0.0), "1"),
        "scaling.calib_1to4": (scaling.get("calib", 0.0), "1"),
        "trace.overhead_s": (traced_wall - untraced_wall, "s"),
    }
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["backfill", "pit_query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # scaling legs re-run this file pinned to fewer cores
    ap.add_argument("--cores", type=int, default=CORES, help=argparse.SUPPRESS)
    ap.add_argument("--setup-reps", type=int, default=SETUP_REPS,
                    help=argparse.SUPPRESS)
    ap.add_argument("--expect", type=json.loads, default=None,
                    help=argparse.SUPPRESS)
    args = ap.parse_args()

    # local[N] on the first N CPUs: the Python workers inherit the
    # affinity, so a local[1] leg cannot spill onto idle cores
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:args.cores])
    if not _import_crawlfe():
        print(f"crawlbench: no crawlfe package at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from fixtures import fixture
    from tracing import (
        Tracer, cpu_steal_ticks, parse_event_log, tree_peak_rss_bytes,
    )
    from workloads import WORKLOADS

    work = os.path.join(ROOT, ".crawlbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    spark = None
    try:
        t0 = time.perf_counter()
        fx, meta = fixture(args.workload, args.seed,
                           os.path.join(work, "cache"), ROOT)
        fixture_s = time.perf_counter() - t0
        phase("fixture ready")
        event_log = os.path.join(run_dir, "events") if args.trace else None
        runs, setups, tracer = [], [], None
        spark, session_s = start_session(run_dir, args.cores, event_log)
        wl = WORKLOADS[args.workload](spark, fx, meta, run_dir)
        if args.expect is not None:
            wl.expected = tuple(args.expect)
        phase("session started")
        reps = 1 if args.trace else args.setup_reps
        for i in range(reps):
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
            if i == 0:
                t0 = time.perf_counter()
                wl.warm()
                warm_s = time.perf_counter() - t0
            phase(f"setup {setups[-1]:.2f}s warm {warm_s:.2f}s")
        steal0 = cpu_steal_ticks()
        if not args.trace:
            measure(wl, args.seconds, runs)
        else:
            _attempt(wl, runs)  # the untraced baseline
            tracer = Tracer(spark)
            with tracer.instrument():
                with tracer.span(args.workload, "setup"):
                    wl.setup()
                with tracer.span(args.workload, "run",
                                 probes=wl.probes_per_run):
                    _attempt(wl, runs)
            tracer.release()
        peak_rss = tree_peak_rss_bytes()
        steal1 = cpu_steal_ticks()
        steal_pct = 100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        phase(f"timed part done: {len(runs)} runs")
        selftest_ok = wl.verify(runs)
        phase("verified")
        e2e, extra = summarize(wl, runs, setups, warm_s, session_s, peak_rss)
        stop_session(spark)
        spark = None
        phase("session stopped")
        ops = [o for r in runs for o in r.ops]
        attempted, failed = len(ops), sum(o.ok is not True for o in ops)
        correct = failed == 0 and selftest_ok
        print(f"crawlbench {args.workload} seed={args.seed} local[{args.cores}]"
              f" pages={meta['n_pages']} fixture_s={fixture_s:.2f}"
              f" selftest={'ok' if selftest_ok else 'FAILED'}"
              f" cpu_steal={steal_pct:.1f}%")
        if not args.trace:
            for k, (v, unit) in e2e.items():
                print(f"  {k:<22} {v:14.4f} {unit}")
            for k, v in extra.items():
                print(f"  {k:<22} {v}")
            metrics = e2e
        else:
            groups = parse_event_log(event_log)
            kern = kernel_timings(fx)
            scaling = (scaling_legs(args, wl.expected,
                                    wl.pages_per_s(runs[0].wall_s, 0.0))
                       if args.workload == "backfill" else {})
            # each leg is one more checked operation
            attempted += len(scaling.get("ok", []))
            failed += scaling.get("ok", []).count(False)
            correct = correct and failed == 0
            untraced, traced = runs[0].wall_s, runs[1].wall_s
            traced_ops = runs[1].ops
            metrics = trace_metrics(wl, tracer, groups, kern, scaling,
                                    untraced, traced, session_s)
            tracer.dump(os.path.join(work, f"spans-{args.workload}-s{args.seed}.json"))
            for k, (v, unit) in metrics.items():
                print(f"  {k:<30} {v:14.4f} {unit}")
            span_sum = sum(metrics[f"{n}.wall_s"][0]
                           for n in ("features", "windows", "asof"))
            print(f"  span walls features+windows+asof = {span_sum:.3f} s;"
                  f" traced wall = {traced:.3f} s; untraced wall_s ="
                  f" {untraced:.3f} s")
            if args.workload == "pit_query":
                print("  probes -> traced query latency (s):")
                for o in traced_ops:
                    print(f"    {o.items:>8} {o.latency_s:8.3f}")
            if scaling:
                print(f"  scaling pages/s local[1]={scaling['pps1']:.0f}"
                      f" local[{CORES}]={scaling['pps4']:.0f}")
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
