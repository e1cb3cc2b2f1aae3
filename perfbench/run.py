#!/usr/bin/env python3
"""orion-spark benchmark: one closed-loop client, one workload.

    python3 perfbench/run.py --workload build|refresh|ontology_ops \\
        --seed N --seconds S --trace 0|1 [--scale full|tiny]

Run from the root of a checkout.  Spark runs in-process at
``local[<cores available to this process>]``.  The run starts the session
from a cold JVM, synthesizes its inputs and builds the job's starting
state (together ``setup_s``), then issues jobs back to back for
``--seconds`` seconds, runs the workload's output checks, and prints
one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics of a traced run (spans written to
``.perfbench/traces/<run id>.jsonl``).  Exits non-zero when an output
check fails.  Everything the run writes stays under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

WORKLOADS = ("build", "refresh", "ontology_ops")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def configure_env(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``;
    switch the event log on for traced runs (the package is untouched:
    this is spark-submit configuration)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # half the package's default 8g: the host is shared
    os.environ["SPARK_DRIVER_MEM"] = "4g"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )
    # no hsperfdata files: HotSpot writes them to /tmp whatever the
    # tmpdir, from the spark-submit launcher JVM as well as the driver
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def jvm_retained_heap_mb(spark) -> float:
    """Heap still in use after a full GC: what the workload keeps alive
    (cached blocks, checkpoints, leaked plans)."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def stop_spark(spark) -> None:
    """Stop the SparkContext, then the gateway JVM (it exits on EOF of
    its stdin), and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def make_workload(name, scale, seed, work):
    import workloads as W

    sizes = W.SCALES[scale]
    if name == "build":
        return W.Build(sizes, seed)
    if name == "refresh":
        return W.Refresh(sizes, seed, os.path.join(work, "refresh"))
    return W.OntologyOps(sizes, seed, os.path.join(work, "ops"))


def instrument_layers(tracer) -> None:
    from orionbelt_ontology_builder_spark.operators import fixpoint
    from orionbelt_ontology_builder_spark.pipeline import linking
    from orionbelt_ontology_builder_spark.pipeline import run as R
    from spans import instrument

    def named(build_name, refresh_name=None, skip_in_refresh=False):
        """Span name for a call: ``refresh_name`` inside
        ``incremental_update`` (no span at all with ``skip_in_refresh``),
        else ``build_name``."""

        def pick(tr):
            if (refresh_name or skip_in_refresh) and tr.in_span("refresh.update"):
                return refresh_name
            return build_name

        return pick

    instrument(
        tracer,
        [
            (R, "incremental_update", named("refresh.update")),
            (R, "extract_raw_triples", named("extract")),
            (R, "verified_same_as", named("linking")),
            (linking, "mention_signatures", named("linking.signatures", "refresh.signatures")),
            (linking, "lsh_candidate_pairs", named("linking.candidates")),
            (linking, "verify_pairs", named("linking.verify", "refresh.verify")),
            (linking, "lsh_candidate_pairs_delta", named("refresh.delta_pairs")),
            (fixpoint, "incremental_components", named("refresh.incremental_cc")),
            (R, "canonical_map", named("canonicalize.cc")),
            # inside incremental_update, rewrite_edges plans both the
            # edge delta and the kept edges; a batch forces only the
            # delta, so the workload times that in ``refresh.rewrite``
            (R, "rewrite_edges", named("canonicalize.rewrite", skip_in_refresh=True)),
        ],
    )


#: Workloads whose layers each workload calls itself; the traced run
#: covers the rest with a tiny census pass.
CENSUS = {
    "build": ("refresh", "ontology_ops"),
    "refresh": ("ontology_ops",),
    "ontology_ops": ("refresh",),
}


def traced_job(tracer, name, wl):
    with tracer.span(f"job.{name}"):
        t0 = time.perf_counter()
        oks = wl.traced_job()
        dur = time.perf_counter() - t0
    wl.trace_counts(tracer)
    tracer.release()
    return dur, oks


class BenchRun:
    """One run: set-up, measured loop, checks, optional traced pass.
    Owns the SparkSession; :meth:`close` stops it on every path."""

    def __init__(self, args, root: str):
        self.args, self.root = args, root
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
        self.work = os.path.join(root, ".perfbench", "work", self.run_id)
        self.spark = None

    def close(self) -> None:
        if self.spark is not None:
            spark, self.spark = self.spark, None
            stop_spark(spark)

    def execute(self) -> int:
        args, work = self.args, self.work
        shutil.rmtree(work, ignore_errors=True)
        configure_env(work, bool(args.trace))
        sys.path[:0] = [os.path.dirname(os.path.abspath(__file__)), self.root]
        try:
            from orionbelt_ontology_builder_spark import session as S
        except ImportError as exc:
            print(f"perfbench: cannot import the package from {self.root}: {exc}", file=sys.stderr)
            return 2
        import metrics as M
        from spans import Tracer

        cores = len(os.sched_getaffinity(0))
        tracer = Tracer(self.run_id, enabled=bool(args.trace))
        if args.trace:
            instrument_layers(tracer)

        # -- set-up, once, from a cold JVM: session start, input
        # synthesis, then the job's starting state and warm-up ---------
        tracer.job = "setup"
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = self.spark = S.get_spark(app="orionbelt-perfbench", cpus=cores)
            S.ship_package(spark)
        session_s = time.perf_counter() - t0
        wl = make_workload(args.workload, args.scale, args.seed, work)
        wl.setup(spark, tracer)
        synth_s = time.perf_counter() - t0 - session_s
        wl.prepare(spark, tracer)
        tracer.release()
        setup_s = time.perf_counter() - t0

        # -- measured closed loop (untraced) ---------------------------
        tracer.phase, tracer.enabled = "measure", False
        lat, oks, error = [], [], False
        t_start = time.perf_counter()
        while wl.has_next():
            t0 = time.perf_counter()
            try:
                oks += wl.job()
            except Exception:
                traceback.print_exc()
                oks.append(False)
                error = True
                break
            lat.append(time.perf_counter() - t0)
            if time.perf_counter() - t_start >= args.seconds and len(lat) >= wl.min_jobs:
                break
        extra = {
            "jvm.peak_rss_mb": jvm_peak_rss_mb(spark),
            "jvm.heap_retained_mb": jvm_retained_heap_mb(spark),
            **(wl.layer_values() if lat else {}),
        }
        print(
            f"perfbench: set-up {setup_s:.2f} s (session {session_s:.2f},"
            f" inputs {synth_s:.2f}, prepare {setup_s - session_s - synth_s:.2f}),"
            f" jobs {[round(s, 2) for s in lat]} s",
            file=sys.stderr,
        )

        # -- traced job ------------------------------------------------
        if args.trace and not error:
            tracer.enabled, tracer.job = True, "measure0"
            dur, job_oks = traced_job(tracer, args.workload, wl)
            oks += job_oks
            # the traced job repeats the last untraced job's work (the
            # same pages; on refresh, the same batch from the same state)
            extra["trace.overhead_ratio"] = dur / lat[-1]

        # -- output checks (untraced) -----------------------------------
        tracer.enabled = False
        checked = not error
        if checked:
            try:
                checked = wl.final_check()
            except Exception:
                traceback.print_exc()
                checked = False
        if not checked:
            oks.append(False)

        # -- census of the layers this workload never calls ------------
        if args.trace and not error:
            tracer.enabled, tracer.phase = True, "census"
            for other in CENSUS[args.workload]:
                tracer.job = f"census-{other}"
                cw = make_workload(other, "tiny", args.seed, os.path.join(work, "census"))
                cw.setup(spark, tracer)
                cw.prepare(spark, tracer)
                tracer.release()
                traced_job(tracer, other, cw)
                extra = {**cw.layer_values(), **extra}
            tracer.collect_status(spark.sparkContext)

        self.close()

        failed = oks.count(False)
        result = {"correct": failed == 0, "attempted": len(oks), "failed": failed}
        if args.trace:
            tracer.collect_eventlog(os.path.join(work, "eventlog"))
            tracer.write(os.path.join(self.root, ".perfbench", "traces", f"{self.run_id}.jsonl"))
            values = M.layer_metrics(tracer.spans, cores, extra)
            units = M.per_layer_units()
            missing = sorted(k for k in units if values.get(k) is None)
            if missing and not error:
                print(f"perfbench: no spans for {missing}", file=sys.stderr)
                result["correct"] = False
            result["metrics"] = {
                k: {"value": values.get(k) if values.get(k) is not None else 0.0, "unit": u}
                for k, u in units.items()
            }
        else:
            result["metrics"] = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "job_s": {"value": statistics.median(lat) if lat else 0.0, "unit": "s"},
            }
        shutil.rmtree(work, ignore_errors=True)
        print(json.dumps(result), flush=True)
        return 0 if result["correct"] else 1


def main() -> None:
    bench = BenchRun(parse_args(sys.argv[1:]), os.getcwd())
    try:
        rc = bench.execute()
    except Exception:
        traceback.print_exc()
        rc = 1
    finally:
        bench.close()
    sys.stdout.flush()
    sys.stderr.flush()
    # skip interpreter teardown: the JVM is already stopped and waited for
    os._exit(rc)


if __name__ == "__main__":
    main()
