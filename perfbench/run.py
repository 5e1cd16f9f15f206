"""Benchmark of the dude_spark engine.

    python3 perfbench/run.py --workload crawl_bfs --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds its inputs from ``--seed``, sets up
``SETUPS`` times (session, inputs, warm-up; ``setup_s`` is the median),
then repeats the workload's operation until ``--seconds`` of it have been
measured, checking every output against an oracle computed from the
generated inputs. ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` runs one operation untraced and one
traced and reports the per-layer metrics. The last line of standard output
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes stays under ``.perfbench_work/`` (deleted at
exit) and ``.perfbench_out/`` (span files of traced runs). Every process
the run starts has ended before it exits.
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
SETUPS = 3

END_TO_END = ("setup_s", "cpu_ms_per_item", "peak_rss_mb")
# a layer that a workload does not run reports 0
PER_LAYER = (
    "extract.kernel_pages_per_s", "extract.decode_us_per_page",
    "dom.parse_us_per_page", "dom.select_us_per_page",
    "extract.links_us_per_page", "extract.rows_per_page",
    "extract.kernel_share", "crawl.rounds", "crawl.round_s_p50",
    "crawl.round_s_p90", "crawl.jobs_per_round",
    "crawl.driver_result_bytes_per_round", "crawl.shuffle_bytes",
    "crawl.fetch_hit_ratio", "crawl.assign_global_seq_s",
    "crawl.state_bytes_per_url", "crawl.state_files_per_round",
    "frontier.with_url_meta_s", "frontier.dedupe_candidates_s",
    "frontier.new_per_candidate", "politeness.compile_robots_s",
    "politeness.robots_gate_s", "politeness.fast_budget_rank_s",
    "politeness.deferred_ratio", "flatten.s", "sinks.write_s",
    "textops.dedup_docs_per_s", "textops.decontam_docs_per_s",
    "textops.tokenize_s", "textops.shingles_s", "textops.minhash_s",
    "textops.lsh_pairs_s", "textops.verify_s", "graph.components_s",
    "textops.decontam_s", "textops.candidate_pairs", "textops.lsh_precision",
    "textops.planted_recall", "spark.jobs", "spark.tasks", "spark.gc_s",
    "spark.task_s", "trace.overhead_s", "wall.items_per_s",
)


def machine() -> tuple:
    """(cores, driver memory): all cores this process may use, and a
    quarter of the machine's memory, between 1 and 4 GiB."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return cores, f"{max(1, min(4, total_kb // (4 << 20)))}g"


def git_sha() -> str:
    """HEAD of the checkout, read from ``.git`` without running git."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(git, ref)
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.strip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def configure(work: str, events: str | None, cores: int, mem: str) -> None:
    """Session inputs go through the engine's own environment knobs."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if events:
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
        })
    os.environ["SPARK_GRAFT_CONF_JSON"] = json.dumps(conf)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def stop_engine(spark) -> None:
    """Stop the session, the JVM it runs in and every process started under
    this one (the JVM's Python worker daemon and its workers), and wait
    until each has ended, so nothing of a run outlives it."""
    from pyspark import SparkContext

    from spans import alive, descendants

    if spark is not None:
        spark.stop()
    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    if jvm is not None:
        try:
            gateway.shutdown()
        except Exception:  # the gateway may already be closed
            pass
        # the gateway JVM exits when its standard input closes
        if jvm.stdin is not None:
            jvm.stdin.close()
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        procs = [p for p in procs if alive(p)]
        for p in procs:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while procs and time.monotonic() < deadline:
            time.sleep(0.05)
            procs = [p for p in procs if alive(p)]
    if procs:
        raise RuntimeError(f"processes still running after stop: {procs}")


def on_sigterm(signum, frame):
    """A terminated run still stops what it started (see ``main``)."""
    raise SystemExit(128 + signum)


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "workloads": [w["name"] for w in spec["workloads"]],
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def log(obj) -> None:
    print(json.dumps(obj, sort_keys=True), flush=True)


class Run:
    def __init__(self, args, cores: int, mem: str, work: str) -> None:
        self.args = args
        self.cores = cores
        self.mem = mem
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.spark = None

    def record(self, checks: dict) -> None:
        for name, ok in checks.items():
            self.attempted += 1
            if not ok:
                self.failed += 1
                print(f"check failed: {name}", file=sys.stderr, flush=True)

    def setup(self, wl) -> float:
        """One set-up: session (started by the first, reused after),
        inputs generated and loaded, warm-up."""
        from dude_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}")
        wl.setup(self.spark)
        return time.perf_counter() - t0

    def op(self, wl):
        self.attempted += 1
        try:
            out = wl.op()
        except Exception:  # an operation that fails counts; the run reports it
            traceback.print_exc()
            self.failed += 1
            return None
        self.record(wl.checks(out))
        return out

    def end_to_end(self, wl) -> dict:
        from spans import engine_peak_rss_mb

        setups = [self.setup(wl) for _ in range(SETUPS)]
        jvm = self.spark.sparkContext._gateway.proc.pid
        peak = engine_peak_rss_mb(jvm)
        ops, measured = [], 0.0
        while measured < self.args.seconds:
            out = self.op(wl)
            if out is None:
                break
            ops.append(out)
            measured += out["seconds"]
            peak = max(peak, engine_peak_rss_mb(jvm))
        if not ops:
            raise RuntimeError("no operation completed")
        log({"samples": {"setups": len(setups), "ops": len(ops)}})
        return {
            "setup_s": statistics.median(setups),
            "cpu_ms_per_item": statistics.median(1e3 * o["cpu_s"] / o["items"] for o in ops),
            "peak_rss_mb": peak,
        }

    def per_layer(self, wl, events: str) -> dict:
        from spans import Tracer, read_event_log, sum_groups

        for _ in range(SETUPS):  # as warm as the end-to-end runs
            self.setup(wl)
        plain = self.op(wl)
        if plain is None:
            raise RuntimeError("untraced operation failed")
        tracer = Tracer(self.spark.sparkContext)
        self.attempted += 1
        layers = wl.traced_op(tracer)
        self.record(layers.pop("_checks"))
        stop_engine(self.spark)  # flushes the event log
        self.spark = None
        tracer.self_times()
        per_group = read_event_log(events)
        everything = sum_groups(per_group, [s["group"] for s in tracer.spans if s["group"]])
        root = layers.pop("_root")
        crawl_groups = [s["group"] for s in tracer.descendants(root) if s["group"]]
        crawl = sum_groups(per_group, crawl_groups)
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        metrics.update({
            "spark.jobs": everything["jobs"],
            "spark.tasks": everything["tasks"],
            "spark.gc_s": everything["gc_s"],
            "spark.task_s": everything["task_s"],
            "trace.overhead_s": layers.pop("_wall") - plain["seconds"],
            "wall.items_per_s": plain["items"] / plain["seconds"],
        })
        if "crawl.rounds" in layers:
            rounds = layers["crawl.rounds"]
            metrics.update({
                # round latency of the untraced operation
                "crawl.round_s_p50": statistics.median(plain["steps"]),
                "crawl.round_s_p90": statistics.quantiles(
                    plain["steps"], n=10, method="inclusive"
                )[-1],
                "crawl.jobs_per_round": crawl["jobs"] / rounds,
                "crawl.driver_result_bytes_per_round": crawl["result_bytes"] / rounds,
                "crawl.shuffle_bytes": crawl["shuffle_bytes"],
                "crawl.assign_global_seq_s": tracer.total("crawl.assign_global_seq"),
                "frontier.with_url_meta_s": tracer.total("frontier.with_url_meta"),
                "frontier.dedupe_candidates_s": tracer.total("frontier.dedupe_candidates"),
                "politeness.compile_robots_s": tracer.total("politeness.compile_robots"),
                "politeness.robots_gate_s": tracer.total("politeness.robots_gate"),
                "politeness.fast_budget_rank_s": tracer.total("politeness.fast_budget_rank"),
            })
        else:
            metrics["textops.dedup_docs_per_s"] = plain["items"] / plain["dedup_s"]
            metrics["textops.decontam_docs_per_s"] = plain["items"] / plain["decontam_s"]
        metrics.update(layers)
        self.write_spans(tracer, per_group)
        return metrics

    def write_spans(self, tracer, per_group) -> None:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(
            out_dir, f"spans-{self.args.workload}-seed{self.args.seed}.json"
        )
        with open(path, "w") as f:
            json.dump({
                "stamp": self.stamp(),
                "spans": tracer.spans,
                "event_log_by_group": {str(k): v for k, v in per_group.items()},
            }, f, indent=1)

    def stamp(self) -> dict:
        return {
            "workload": self.args.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "cpus": self.cores, "driver_memory": self.mem, "git_sha": git_sha(),
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = declared()
    if args.workload not in spec["workloads"]:
        ap.error(f"unknown workload {args.workload!r}")
    sys.path.insert(0, ROOT)
    import dude_spark  # noqa: F401  (fails fast outside a checkout)

    from workloads import WORKLOADS

    signal.signal(signal.SIGTERM, on_sigterm)
    cores, mem = machine()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    events = os.path.join(work, "events") if args.trace else None
    configure(work, events, cores, mem)
    run = Run(args, cores, mem, work)
    wl = WORKLOADS[args.workload](args.seed, work, cores)
    try:
        log({"stamp": run.stamp()})
        if args.trace:
            values = run.per_layer(wl, events)
        else:
            values = run.end_to_end(wl)
    finally:
        stop_engine(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    units = spec[args.trace]
    if set(values) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(units))}")
    log({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    })
    return 0


if __name__ == "__main__":
    sys.exit(main())
