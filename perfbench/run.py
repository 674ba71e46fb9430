"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tile_batch --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics
with ``--trace 1``.  The line before it (``report: {...}``) gives the
figures those metrics are built from and the wall-clock figures:
``cold_s``, ``latency_s``, per-kind medians and rows/s,
``failed_ratio``, and on ``aoi_query`` ``query_p50_s``,
``query_tail_s`` (with its percentile and sample count),
``commit_p50_s`` and ``write_amp``.  Everything the run writes stays
under ``.perfbench/`` in the checkout; ``perfbench/layers.json``
describes the workloads and maps each layer metric to the end-to-end
metric it should move.
"""

from __future__ import annotations

import time

T_START = time.monotonic()  # process start, before the heavy imports

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
LAYOUT_REPS = 3  # engine-side layout builds per run; setup_s counts the median
KEEP_CACHED_SEEDS = 32  # per workload; older seed caches are deleted


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def driver_memory() -> str:
    """An eighth of physical memory, at most 2 GiB."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return f"{max(1024, min(2048, kib // 8192))}m"


def log(msg: str) -> None:
    print(f"[{time.monotonic() - T_START:7.2f} s] {msg}", file=sys.stderr, flush=True)


def configure_env(run_dir: str) -> None:
    """Environment read by the JVM and the Python workers it forks."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", driver_memory())
    # every JVM of the run, the launcher included: temp files under the
    # run directory and no /tmp/hsperfdata entry
    opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    old = os.environ.get("JAVA_TOOL_OPTIONS")
    os.environ["JAVA_TOOL_OPTIONS"] = opts + (" " + old if old else "")


def start_spark(run_dir: str, cores: int, trace: bool):
    from eodal_spark.session import get_spark

    conf = {
        # a heap committed up front: peak RSS then tracks what the run
        # touches, not when G1 decided to grow the heap
        "spark.driver.extraJavaOptions": "-Xms" + os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + events
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin
    closes) and wait for it; its Python workers exit with it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def wait_ended(pids, timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended; kill what is
    left after ``timeout`` seconds."""
    from perfbench.harness import alive

    end = time.monotonic() + timeout
    while alive(pids) and time.monotonic() < end:
        time.sleep(0.2)
    for pid in alive(pids):
        os.kill(pid, signal.SIGKILL)


def prune_cache(workload: str, keep: str) -> None:
    base = os.path.join(WORK, "cache")
    dirs = sorted(
        (d for d in os.listdir(base) if d.startswith(workload + "-seed")),
        key=lambda d: os.path.getmtime(os.path.join(base, d)),
    )
    for d in dirs[:-KEEP_CACHED_SEEDS]:
        if d != keep:
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Runner:
    """One workload run: setup, cold first cycle, timed closed loop."""

    def __init__(self, args, spec):
        from perfbench.harness import RssSampler, Tracer
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.spec = spec
        self.trace = bool(args.trace)
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        cache_name = f"{args.workload}-seed{args.seed}"
        self.cache = os.path.join(WORK, "cache", cache_name)
        os.makedirs(self.cache, exist_ok=True)
        os.utime(self.cache)
        prune_cache(args.workload, cache_name)
        configure_env(self.run_dir)
        self.sampler = RssSampler()
        self.sampler.start()
        self.cores = len(os.sched_getaffinity(0))
        self.spark = start_spark(self.run_dir, self.cores, self.trace)
        self.session_s = time.monotonic() - T_START
        self.tracer = Tracer(self.spark, on=False)
        self.wl = WORKLOADS[args.workload](
            self.spark, args.seed, self.cache, self.run_dir, self.tracer)
        self.ops: list[dict] = []
        self.started: set[int] = set()  # pids to wait for at close

    def run_op(self, i: int, traced: bool, timed: bool) -> dict:
        from perfbench.harness import tree_cpu_s

        wl, tr = self.wl, self.tracer
        rec_kind = wl.kind(i)
        wl.before_op(i)
        self.spark.sparkContext.setJobGroup(f"op-{i}", f"{wl.name} op {i}")
        tr.on, tr.op = traced, i
        c0 = tree_cpu_s(self.sampler.tid)
        t0 = time.time()
        try:
            result, raised = wl.op(i), False
        except Exception:  # a failed op is counted, the loop goes on
            traceback.print_exc()
            result, raised = None, True
        t1 = time.time()
        cpu = tree_cpu_s(self.sampler.tid) - c0
        tr.on = False
        ok = False
        if not raised:
            try:
                ok = bool(wl.check(i, result))
            except Exception:
                traceback.print_exc()
        log(f"op {i} {rec_kind}: {t1 - t0:.3f} s, {cpu:.2f} cpu-s{' traced' if traced else ''}"
            f"{'' if ok else ' OUTPUT CHECK FAILED'}")
        wl.after_op(i)
        rec = {"i": i, "kind": rec_kind,
               "s": t1 - t0, "cpu_s": cpu, "ok": ok, "t0": t0, "t1": t1,
               "traced": traced, "timed": timed}
        self.ops.append(rec)
        return rec

    def execute(self) -> dict:
        from perfbench.harness import mean, median

        wl = self.wl
        log(f"session ready ({self.cores} cores)")
        wl.prepare()  # bench-side inputs and references: not timed
        log("inputs and references ready")
        layout_s = []
        for rep in range(LAYOUT_REPS):
            t = time.monotonic()
            wl.layout(rep)
            layout_s.append(time.monotonic() - t)
        log(f"layout built {LAYOUT_REPS} times")
        # the first cycle runs every op kind once on a cold session: it is
        # the warm-up, and gives the cold figures
        cyc = len(wl.KINDS)
        cold = [self.run_op(k, False, False) for k in range(cyc)]
        self.setup_s = self.session_s + median(layout_s)
        self.cold_s = mean(o["s"] for o in cold)
        self.cold_cpu_s = mean(o["cpu_s"] for o in cold)

        # whole cycles, at least one and at least --seconds long; a traced
        # run then repeats as many cycles traced
        first = i = cyc
        t_loop = time.monotonic()
        while (i - first) % cyc or i == first or time.monotonic() - t_loop < self.args.seconds:
            self.run_op(i, False, True)
            i += 1
        if self.trace:
            for _ in range(i - first):
                self.run_op(i, True, True)
                i += 1
        self.peak_rss = self.sampler.stop()
        log("timed loop done")
        self.finished_ok = wl.finish()
        log("end-of-run check done")
        if not self.finished_ok:
            print("end-of-run check failed", file=sys.stderr)
        return self.result()

    # -- results ----------------------------------------------------------
    def result(self) -> dict:
        from perfbench.harness import mean, median, tail

        wl, ops = self.wl, self.ops
        failed = sum(not o["ok"] for o in ops)
        timed = [o for o in ops if o["timed"] and not o["traced"]]
        kind_p50 = {k: median(o["s"] for o in timed if o["kind"] == k) for k in wl.KINDS}
        kind_cpu = {k: median(o["cpu_s"] for o in timed if o["kind"] == k) for k in wl.KINDS}
        e2e = {
            "setup_s": self.setup_s,
            "cold_cpu_s": self.cold_cpu_s,
            "cpu_s": mean(kind_cpu.values()),
            "peak_rss_mb": self.peak_rss / 2**20,
            "recall": wl.recall(),
        }
        report = {"workload": wl.name, "seed": self.args.seed, "cores": self.cores,
                  "timed_ops": len(timed), "failed_ratio": failed / len(ops), **e2e,
                  "cold_s": self.cold_s, "latency_s": mean(kind_p50.values()),
                  "peak_jvm_rss_mb": self.sampler.peak_jvm / 2**20,
                  "p50_s": kind_p50, "cpu_p50_s": kind_cpu,
                  "rows_per_s": {k: n / kind_p50[k] for k, n in wl.ROWS.items()}}
        if "append" in wl.KINDS:
            queries = [o["s"] for o in timed if o["kind"] != "append"]
            v, pct, n = tail(queries)
            report["query_p50_s"] = median(queries)
            report["query_tail_s"] = {"value": v, "percentile": pct, "samples": n}
            report["commit_p50_s"] = median(wl.commit_times[o["i"]] for o in timed
                                            if o["kind"] == "append")
            report["write_amp"] = wl.bytes_written / max(wl.input_bytes, 1)
        report.update(wl.info)
        self.report = report
        metrics = e2e if not self.trace else self.layer_metrics()
        units = {m["name"]: m["unit"] for m in self.spec["end_to_end"] + self.spec["per_layer"]}
        wanted = self.spec["per_layer" if self.trace else "end_to_end"]
        return {
            "correct": failed == 0 and self.finished_ok,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)),
                                    "unit": units[m["name"]]} for m in wanted},
        }

    def layer_metrics(self) -> dict:
        from perfbench.harness import EventLog, covered, descendants, mean, median

        self.started |= set(descendants())
        stop_spark(self.spark)
        self.spark = None
        ev = EventLog(os.path.join(self.run_dir, "events"))
        plain = [o for o in self.ops if o["timed"] and not o["traced"]]
        traced = [o for o in self.ops if o["traced"]]
        session = []
        for o in plain:
            group = f"op-{o['i']}"
            jobs = ev.jobs_in(group=group)
            tasks = ev.tasks_in(group=group)
            gap = o["s"] - covered([(j["start"], j.get("end", j["start"])) for j in jobs],
                                   o["t0"], o["t1"])
            session.append({
                "session.jobs_per_op": len(jobs),
                "session.driver_gap_s": gap,
                "session.task_cpu_s": sum(t["cpu_s"] for t in tasks),
                "session.gc_s": sum(t["gc_s"] for t in tasks),
            })
        # session figures: mean per op over the plain timed ops, so every
        # kind of the cycle counts; layer figures: median over the traced
        # ops that exercise the layer
        out = {k: mean(d[k] for d in session) for k in session[0]}
        layers = [self.wl.layer_metrics(o["i"], ev) for o in traced]
        for k in {k for d in layers for k in d}:
            out[k] = median(d[k] for d in layers if k in d)
        out["trace.overhead_s"] = mean(o["s"] for o in traced) - mean(o["s"] for o in plain)
        # the spans leave memory only now, at the end of the run
        path = os.path.join(WORK, "traces", f"{self.wl.name}-seed{self.args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"ops": self.ops, "spans": self.tracer.spans}, f)
        self.report["trace_file"] = os.path.relpath(path, ROOT)
        return out

    def close(self) -> None:
        from perfbench.harness import descendants

        if self.sampler.is_alive():
            self.sampler.stop()
        started = set(descendants()) | self.started
        if self.spark is not None:
            stop_spark(self.spark)
        self.wl.close()
        wait_ended(started)
        shutil.rmtree(self.run_dir, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "eodal_spark", "__init__.py")):
        print(f"no engine sources under {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    runner = Runner(args, spec)
    try:
        result = runner.execute()
    finally:
        runner.close()
    print("report: " + json.dumps(runner.report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
