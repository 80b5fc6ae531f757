#!/usr/bin/env python3
"""End-to-end benchmark harness.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One process runs one workload on
``local[<nproc>]``: it generates the input from the seed into a private
directory under ``.perfbench/`` (removed at exit), starts a session, makes
a checked warm-up pass, then repeats checked job passes for ``--seconds``
(at least three).  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).  See
``perfbench/README.md`` for the metrics, the workloads and why each exists.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GEN_REPEATS = 3  # set-up generations per run; set-up reports their median
# The warm-up input is this share of the timed one.  A cold first pass is
# 2-4x slower than a warm one, and the cold costs (JIT, codegen, Python
# worker start-up) are per process, not per record.
WARMUP_SHARE = 8
# Least timed passes of an untraced run.  Passes keep getting faster after
# the warm-up (the first is 5-35% slower than the third), and the host's
# interference only ever adds time, so job_s is the fastest pass.
MIN_TIMED = 3
DRIVER_MEM = "3g"  # fits a 15 GB host next to its Python workers


def process_age_s() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up counts toward set-up)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return time.time() - (btime + start_ticks / os.sysconf("SC_CLK_TCK"))


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for dp, _, fns in sorted(os.walk(path)):
        for fn in sorted(fns):
            h.update(fn.encode())
            with open(os.path.join(dp, fn), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _isolate(tmp: str, cpus: int) -> None:
    """Environment for the session and its Python workers: the program is
    imported from this checkout, nothing is cached between runs, and every
    temporary file lands under ``tmp``."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_STAGE_CACHE"] = "0"
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")


def _session(tmp: str, cpus: int, trace: bool):
    from dpo_ocr_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(tmp, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(tmp, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", cpus=cpus, extra_conf=conf)


def _stop() -> None:
    """Stop the session, if one was started, then end its JVM and Python
    workers and wait for them: PySpark alone leaves the JVM running until
    this process exits.  Works on a half-built session too (a SIGTERM
    while the session starts)."""
    from pyspark import SparkContext

    from perfbench import host

    gateway = SparkContext._gateway
    if gateway is None:
        return
    jvm = getattr(gateway, "proc", None)
    workers = host.descendants(jvm.pid) if jvm else []
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()  # flushes the event log
    except Exception:  # the JVM is ended below either way
        traceback.print_exc()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if jvm is not None:
        jvm.stdin.close()  # the JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    host.wait_gone(workers, timeout=30)


class Ctx:
    def __init__(self, spark, con, tmp: str, seed: int, cpus: int):
        self.spark, self.con, self.tmp, self.seed, self.cpus = spark, con, tmp, seed, cpus


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its session and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("dpo_ocr_spark", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    from perfbench import host, inputs, workloads
    from perfbench.layers import layer_metrics
    from perfbench.trace import NullTracer, Tracer, fold_event_log

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cpus = os.cpu_count() or 1
    tmp = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(tmp)
    host.become_subreaper()
    _isolate(tmp, cpus)

    import duckdb

    control = None
    try:
        steal0 = host.cpu_times()
        t0 = time.perf_counter()
        control = host.Control(inputs.control_pages(args.seed), cpus)
        ctl = [control.measure()]
        control_s = time.perf_counter() - t0  # the benchmark's, not set-up
        t_ready = time.perf_counter()
        spark = _session(tmp, cpus, bool(args.trace))
        session_s = time.perf_counter() - t_ready
        to_session_s = process_age_s() - control_s
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        ctx = Ctx(spark, con, tmp, args.seed, cpus)
        wl = workloads.WORKLOADS[args.workload](ctx)

        # the warm-up: the whole job, checked, on a small seeded input of
        # its own (generation and staging included)
        null = NullTracer()
        warm = workloads.WORKLOADS[args.workload](
            ctx, max(1, wl.size // WARMUP_SHARE), os.path.join(tmp, "warm-input")
        )
        os.makedirs(warm.input)
        t0 = time.perf_counter()
        warm.generate(warm.input)
        warm.stage()
        warmup_s = time.perf_counter() - t0
        warm.expect()
        out = os.path.join(tmp, "warm")
        t0 = time.perf_counter()
        warm.job(out, null)
        warmup_s += time.perf_counter() - t0
        warm_bad = warm.check(out)
        shutil.rmtree(out)

        # input generation, repeated: the median is the set-up figure and
        # identical digests prove the same seed gives the same input
        gen_s, digests, info = [], set(), {}
        for k in range(GEN_REPEATS):
            d = os.path.join(tmp, f"gen{k}")
            os.makedirs(d)
            t0 = time.perf_counter()
            info = wl.generate(d)
            gen_s.append(time.perf_counter() - t0)
            digests.add(_tree_digest(d))
        if len(digests) != 1:
            raise RuntimeError("input generation is not deterministic for this seed")
        os.rename(os.path.join(tmp, "gen0"), wl.input)
        records = int(info["records"])
        t0 = time.perf_counter()
        wl.stage()
        stage_s = time.perf_counter() - t0
        wl.expect()

        tracer = Tracer(spark, f"{args.workload}-{args.seed}")
        job_s, traced_s, failed, passes, raised = [], [], 0, 0, 0
        last_out, last_bad = None, 0
        deadline = time.perf_counter() + args.seconds
        while raised < 3 and (
            time.perf_counter() < deadline
            or (not args.trace and len(job_s) < MIN_TIMED)
            or not job_s
            or (args.trace and not traced_s)
        ):
            # a traced run spends its first half untraced: the overhead base
            traced = bool(args.trace) and bool(job_s) and (
                time.perf_counter() > deadline - args.seconds / 2
            )
            out = os.path.join(tmp, f"out{passes}")
            if last_out:
                shutil.rmtree(last_out)
                last_out = None
            passes += 1
            t0 = time.perf_counter()
            try:
                wl.job(out, tracer if traced else null)
            except Exception:  # a failed pass fails all its records; keep measuring
                traceback.print_exc()
                raised += 1
                failed += records
                continue
            finally:
                dt = time.perf_counter() - t0
                tracer.release()
            (traced_s if traced else job_s).append(dt)
            last_bad = wl.check(out)
            failed += last_bad
            last_out = out
        ctl.append(control.measure())
        steal = host.steal_frac(steal0, host.cpu_times())

        from pyspark import SparkContext

        jvm = SparkContext._gateway.proc.pid
        jvm_rss = host.vm_hwm_mb(jvm)
        py_rss = max([host.vm_hwm_mb(p) for p in host.python_worker_pids(jvm)] or [0.0])
        timed = [*job_s, *traced_s]
        attempted = records * passes
        if not job_s:
            raise RuntimeError(f"every timed pass of {args.workload} raised")
        correct = warm_bad == 0 and failed == 0
        best_job = min(job_s)
        setup_s = to_session_s + statistics.median(gen_s) + stage_s + warmup_s
        print(
            f"perfbench: {args.workload} seed={args.seed} passes={passes} "
            f"timed={len(timed)} job_s={[round(x, 3) for x in timed]} "
            f"warm_bad={warm_bad} failed={failed} raised={raised} "
            f"session_s={session_s:.2f} gen_s={[round(x, 3) for x in gen_s]} "
            f"stage_s={stage_s:.2f} warmup_s={warmup_s:.2f} steal={steal:.3f} "
            f"control={[round(c) for c in ctl]}",
            file=sys.stderr,
        )
        e2e = {
            "setup_s": setup_s,
            "job_s": best_job,
            "records_per_s": records / best_job,
            "py_peak_rss_mb": py_rss,
        }
        if args.trace:
            counts = wl.layer_counts(last_out, tracer) if last_out else {}
            _stop()  # flushes and closes the event log
            layers = layer_metrics(
                tracer,
                fold_event_log(os.path.join(tmp, "eventlog")),
                counts,
                len(traced_s),
                {
                    "session.start_s": session_s,
                    "session.warmup_s": warmup_s,
                    "corpus.gen_s": statistics.median(gen_s),
                    "corpus.input_mb": info["payload_bytes"] / 1e6,
                    "jvm.peak_rss_mb": jvm_rss,
                    "host.steal_frac": steal,
                    "host.control_docs_per_s": statistics.median(ctl),
                    "host.trace_overhead_frac": (
                        statistics.median(traced_s) / statistics.median(job_s) - 1 if traced_s else 0.0
                    ),
                    "error_frac": (counts.get("extract.quarantined", 0) + last_bad) / records,
                },
            )
            trace_dir = os.path.join(ROOT, ".perfbench", "trace")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump(
                    {"end_to_end": e2e, "layers": layers, "spans": tracer.spans}, f, indent=1
                )
            values = {k: v for k, (v, _) in layers.items()}
        else:
            values = e2e
        listed = spec["per_layer" if args.trace else "end_to_end"]
        print(
            json.dumps(
                {
                    "correct": correct,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": {
                        m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                        for m in listed
                    },
                }
            )
        )
        return 0
    finally:
        # a second SIGTERM must not cut the clean-up short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            if control is not None:
                control.close()
            _stop()
        finally:
            host.end_descendants()
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
