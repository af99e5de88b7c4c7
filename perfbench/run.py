"""Lake benchmark: one seeded run of a workload against the program in
the checkout this file sits in.

    python3 perfbench/run.py --workload history --seed 1 --seconds 24 --trace 0

A run starts one Spark session, sets its workload up three times (the
median is ``setup_s``), then runs the workload's timed phases, which
share ``--seconds``: ``history`` runs analyst queries over
hour-partitioned history, Firehose-sized deliveries and large mixed
ingest batches; ``live`` runs the ingest stream under open-loop file
landing with one concurrent reader (see ``WORKLOADS`` and README.md).

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` records
spans and counters around each layer call, also drives the phases the
workload does not own, adds one curation pass, compaction and in-driver
plugin timings, and prints the per-layer metrics instead.  The last line
of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import subprocess
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "defenda_data_lake_spark"

#: the traffic each workload offers; every key but "why" and "phases"
#: is one dimension the program's cost depends on
WORKLOADS = {
    "history": {
        "why": "closed loop, 1 client: analyst queries and detections over 12 h of history, then "
               "Firehose-sized deliveries and 20k-event mixed batches (gzipped CloudTrail, 2% malformed)",
        "setup": "history",
        "phases": (("query", 0.5), ("fresh", 0.25), ("ingest", 0.25)),
        "shape_weights": {"cloudtrail": 3, "cloudfront": 1, "vpc_flow": 3, "syslog": 1, "gsuite": 2},
        "max_depth": 4,
        "malformed_share": 0.02, "delivery_events": 500,
        "batch_events": 20000, "batch_files": 8, "blob_share": 0.25,
        "history_hours": 12, "history_events_per_hour": 100, "hours_queried": 3,
        "stream_files_per_s": 5, "stream_events_per_file": 80,
    },
    "live": {
        "why": "open loop: 5 Firehose files/s (400 events/s) into the 3 s-trigger stream, with 1 closed-loop "
               "reader on the newest hour; per-batch fixed cost dominates",
        "setup": "stream",
        "phases": (("stream", 1.0),),
        "shape_weights": {"cloudtrail": 2, "cloudfront": 2, "vpc_flow": 2, "syslog": 1, "gsuite": 3},
        "max_depth": 1,
        "malformed_share": 0.02, "delivery_events": 500,
        "batch_events": 20000, "batch_files": 8, "blob_share": 0.25,
        "history_hours": 12, "history_events_per_hour": 100, "hours_queried": 3,
        "stream_files_per_s": 5, "stream_events_per_file": 80,
    },
}

#: the traced run also drives the phases its workload does not own, at
#: this size (seconds; 0 means one query pass, two deliveries or one
#: ingest batch), so every per-layer metric is measured on every workload
FOREIGN_SECONDS = {"query": 0, "fresh": 0, "ingest": 0, "stream": 5}

#: the curation corpus, the same for both workloads; curation runs in
#: the traced run only (one pass), see README.md
CORPUS = {"docs": 3000, "exact_dup_share": 0.1, "near_dup_share": 0.1,
          "vectors": 3000, "dim": 32, "clusters": 16, "vector_queries": 8}

#: set-up runs this many times per run; the first is cold, the median is
#: ``setup_s``
SETUP_REPS = 4

#: tiny sizes for the smoke test only
TINY = {"delivery_events": 40, "batch_events": 300, "batch_files": 2, "history_hours": 3, "history_events_per_hour": 60,
        "stream_files_per_s": 4, "stream_events_per_file": 5, "docs": 300, "vectors": 300}

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "freshness_p50_s": "s",
    "ingest_events_per_s": "events/s",
    "stored_bytes_per_input_byte": "ratio",
    "query_p50_s": "s",
    "queries_per_s": "1/s",
    "peak_rss_mb": "MB",
}


class Ctx:
    """State of one run, passed to every phase."""

    def __init__(self, args, profile, work):
        import gen
        from probe import Tracer

        self.args, self.profile, self.work = args, profile, work
        #: event times are drawn back from this instant, not from the clock,
        #: so one seed always gives the same inputs
        self.epoch = gen.epoch(args.seed)
        self.tracer = Tracer(bool(args.trace))
        self.metrics: dict = {}
        self.layer: dict = {}
        self.samples: dict = {}
        self.attempted = 0
        self.failures: list = []
        self.checks: list = []
        self.trace_s = 0.0
        self.ingested: list = []  # (tag, Batch, quarantine dir) of every ingested batch

    def rng(self, stream: str) -> random.Random:
        """An independent generator per input stream: how many queries or
        batches one phase ran never shifts another phase's inputs."""
        return random.Random(f"{self.args.seed}:{stream}")

    def events(self, stream: str):
        import gen

        return gen.EventGen(self.rng(stream), self.profile["shape_weights"], self.profile["max_depth"])

    def fail(self, what: str, detail: str) -> None:
        self.failures.append(f"{what}: {detail}")

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    @contextmanager
    def trace_only(self):
        """Work done only in the traced run; its wall time is the
        tracing overhead reported as ``trace.overhead_s``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.trace_s += time.perf_counter() - t0


#: JVM heap: ample for these sizes, and kept small because the machine's
#: memory is shared
DRIVER_MEM = "1g"

#: application class-data sharing for the JVM: the first run in a
#: checkout dumps the classes Spark loaded, later runs map them instead
#: of loading them from jars, which halves session start-up
CDS_DIR = os.path.join(ROOT, ".perfbench_work", "cds")
CDS_ARCHIVE = os.path.join(CDS_DIR, "spark.jsa")


def _prepare_env(work: str, cores: int) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # the archive must be dumped and used with the same class path, and a
    # class path may not hold a non-empty directory: Spark's conf dir
    # goes on it, so point it at an empty one
    os.makedirs(os.path.join(CDS_DIR, "conf"), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_CONF_DIR": os.path.join(CDS_DIR, "conf"),
        "TZ": "UTC",
        # Python workers import the program from the checkout
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
    })
    time.tzset()


def _spark_conf(work: str) -> dict:
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": " ".join([
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-XX:SharedArchiveFile={CDS_ARCHIVE}" if os.path.isfile(CDS_ARCHIVE)
            else f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}.tmp",
            "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
        ]),
        # idle triggers add no progress records, so recentProgress holds
        # every batch that read data
        "spark.sql.streaming.noDataProgressEventInterval": "1000000",
    }


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    try:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=120)  # a first run dumps the class archive here
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
            if proc.returncode == 0 and os.path.isfile(CDS_ARCHIVE + ".tmp"):
                os.replace(CDS_ARCHIVE + ".tmp", CDS_ARCHIVE)


def _reap_children() -> None:
    """Wait (up to 20 s) for every process this run started to end,
    reaping each; kill what is left."""
    from probe import descendants

    def reap():
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass

    deadline = time.time() + 20
    while descendants(os.getpid()) and time.time() < deadline:
        reap()
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    time.sleep(0.2)
    reap()


def plugin_timings(ctx) -> None:
    """Per-plugin and whole-router cost per event, from in-driver calls
    over freshly generated events of this workload's mix."""
    import copy

    from defenda_data_lake_spark.operators.pipeline import (
        default_plugins, event_criteria_values, order_plugins, run_pipeline)

    g = ctx.events("plugins")
    events = [g.event(g.pick_shape(), ctx.epoch, f"p{i}")[0] for i in range(2000)]
    plugins = order_plugins(default_plugins())
    spent = {p.name: 0.0 for p in plugins}
    for ev in copy.deepcopy(events):
        for p in plugins:
            if "*" not in p.registration and not (set(p.registration) & event_criteria_values(ev)):
                continue
            t0 = time.perf_counter()
            ev = p.on_event(ev, {})
            spent[p.name] += time.perf_counter() - t0
    for name, s in spent.items():
        ctx.layer[f"plugins.{name}_us_per_event"] = s / len(events) * 1e6
    batch = copy.deepcopy(events)
    t0 = time.perf_counter()
    for ev in batch:
        run_pipeline(ev, plugins, presorted=True)
    ctx.layer["pipeline.run_pipeline_us_per_event"] = (time.perf_counter() - t0) / len(events) * 1e6


def run(args) -> Ctx:
    """One run: start-up, set-up three times, the timed phases (and, traced,
    the extras), then shut everything down.  Returns the filled context."""
    from probe import JobCounter, ProcSampler, gc_seconds, median, steal_share

    profile = {**WORKLOADS[args.workload], **CORPUS}
    if args.size == "tiny":
        profile.update(TINY)
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work, cores)
    ctx = Ctx(args, profile, work)
    t_start = t_setup = time.perf_counter()
    steal0 = steal_share()
    sampler = ProcSampler().start()
    spark = None
    try:
        import curation
        import phases

        from defenda_data_lake_spark import get_spark
        from defenda_data_lake_spark.operators.pipeline import normalize_df

        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=_spark_conf(work))
        ctx.layer["session.start_s"] = time.perf_counter() - t0
        ctx.spark = spark
        ctx.jobs = JobCounter(spark, bool(args.trace))
        t0 = time.perf_counter()
        warm = spark.createDataFrame([('{"a": 1}',)] * 64, "raw string")
        normalize_df(warm).write.format("noop").mode("overwrite").save()
        ctx.layer["session.first_python_job_s"] = time.perf_counter() - t0

        setup = profile["setup"]
        if setup == "history":
            phases.land_history(ctx)
        reps = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            getattr(phases, f"setup_{setup}")(ctx, rep, rep == SETUP_REPS - 1)
            reps.append(time.perf_counter() - t0)
        t_setup = time.perf_counter()
        print("  set-up reps (s): " + " ".join(f"{x:.2f}" for x in reps))
        ctx.metrics["setup_s"] = median(reps)
        ctx.samples["setup"] = len(reps)
        if setup == "history":
            phases.after_setup_checks(ctx)
            phases.warm_up(ctx)

        cpu0, gc0, wall0 = ProcSampler.cpu_seconds(), gc_seconds(spark), time.perf_counter()
        own = dict(profile["phases"])
        todo = list(own)
        if args.trace:
            todo += [n for n in ("query", "fresh", "ingest", "stream") if n not in own]
        for name in todo:
            if name == "query" and not hasattr(ctx, "history"):  # a live run's traced extras
                with ctx.trace_only():
                    phases.land_history(ctx)
                    phases.setup_history(ctx, SETUP_REPS, True)
                    phases.after_setup_checks(ctx)
            seconds = args.seconds * own[name] if name in own else FOREIGN_SECONDS[name]
            # a foreign phase feeds per-layer metrics only
            kept = None if name in own else (dict(ctx.metrics), dict(ctx.samples))
            t_phase = time.perf_counter()
            try:
                getattr(phases, f"run_{name}")(ctx, seconds)
            except Exception as exc:  # one broken phase fails the run, not the harness
                import traceback

                traceback.print_exc(file=sys.stderr)
                ctx.attempted += 1
                ctx.fail(f"phase.{name}", repr(exc))
            print(f"  phase {name}: {time.perf_counter() - t_phase:.1f} s wall")
            if kept:
                ctx.metrics, ctx.samples = kept
        cpu1, gc1, wall1 = ProcSampler.cpu_seconds(), gc_seconds(spark), time.perf_counter()
        if ctx.ingested:
            phases.check_ingest(ctx)
        if args.trace:
            with ctx.trace_only():
                plugin_timings(ctx)
            curation.land_corpus(ctx)
            curation.run_curate(ctx, 0)  # one pass
            busy = (cpu1["jvm"] - cpu0["jvm"]) + (cpu1["python"] - cpu0["python"])
            ctx.layer.update({
                "proc.python_cpu_s": cpu1["python"] - cpu0["python"],
                "proc.jvm_cpu_s": cpu1["jvm"] - cpu0["jvm"],
                "proc.cpu_util": busy / ((wall1 - wall0) * cores),
                "jvm.gc_s": gc1 - gc0,
            })
            for phase in ("query", "ingest", "live", "curate"):
                for k, v in ctx.jobs.per_op(phase + ".").items():
                    ctx.layer[f"spark.{phase}.{k}_per_op"] = v
            ctx.layer["trace.overhead_s"] = ctx.trace_s
            ctx.tracer.dump(os.path.join(ROOT, ".perfbench_work", f"trace-{args.workload}-{args.seed}.json"))
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            sampler.stop()
            _reap_children()
            shutil.rmtree(work, ignore_errors=True)
    ctx.metrics["peak_rss_mb"] = sampler.peak_rss / 2**20
    print("  peak memory: " + ", ".join(f"{k} {v / 2**20:.0f} MB" for k, v in sampler.peak_split.items()))
    print(f"  wall: session {ctx.layer['session.start_s']:.1f} s + first Python job "
          f"{ctx.layer['session.first_python_job_s']:.1f} s, {t_setup - t_start:.1f} s to the end of set-up, "
          f"{time.perf_counter() - t_start:.1f} s in all; the host stole {steal_share(steal0):.1%} "
          "of its CPU time meanwhile")
    if args.trace:
        print("end_to_end_under_trace: " + json.dumps({k: ctx.metrics.get(k) for k in END_TO_END}))
    return ctx


def report(ctx, trace: bool) -> dict:
    import per_layer

    names = per_layer.names() if trace else list(END_TO_END)
    metrics, missing = {}, []
    for name in names:
        v = (ctx.layer if trace else ctx.metrics).get(name)
        if v is None or (isinstance(v, float) and math.isnan(v)):
            missing.append(name)
            continue
        metrics[name] = {"value": v, "unit": per_layer.UNITS[name] if trace else END_TO_END[name]}
    failed_checks = [c for c in ctx.checks if not c[1]]
    for name, m in metrics.items():
        n = next((ctx.samples[k] for k in ctx.samples if name.startswith(k)), "")
        print(f"  {name:<44} {m['value']:>14.6g} {m['unit']:<10} {'n=' + str(n) if n != '' else ''}")
    attempted = max(1, ctx.attempted)
    failed = min(attempted, len(ctx.failures) + len(failed_checks))
    print(f"  failed_op_ratio {failed / attempted:.4g} ({failed}/{attempted})")
    for name, ok, detail in ctx.checks:
        print(f"  check {'ok  ' if ok else 'FAIL'} {name} {detail if not ok else ''}")
    for f in ctx.failures:
        print(f"  failure: {f}")
    for name in missing:
        print(f"  missing metric: {name}")
    return {"correct": not failed and not missing, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and streams (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ next to {HERE}; run from a checkout of the program",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    print(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} size={args.size}")
    ctx = run(args)
    print(json.dumps(report(ctx, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
