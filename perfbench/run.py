"""Dedup benchmark: one seeded workload through the production code
paths on local[nproc], every measured unit checked against the planted
truth.

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. A run measures exactly one unit,
which outlasts --seconds on the reference host (README.md, Workloads).
The last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end
ones; with --trace 1 the run is traced (spans, job groups, Spark event
log) and the metrics are the per-layer ones. Spans, the event log and a run summary (fingerprint, checks) are
written under .bench_work/<workload>/. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.getcwd()

# sizes fit to a 4-core, 15 GB host and the benchmark's per-run wall
# budget; see README.md for the measured walls behind them
WORKLOADS = {
    "bulk": {"docs": 2000, "files": 8},
    "stream": {"first_docs": 250, "drop_docs": 250},
}
UNIT_TIMEOUT_S = 120     # a unit still running then is cancelled: failed
RUN_LIMIT_S = 170        # the whole run, set-up and checks included
# traced runs: wall of each path when it runs second (warm) on the
# reference host, and the slack factor a run must leave for it
OTHER_PATH_S = {"bulk": 55, "stream": 50}
OTHER_PATH_SLACK = 1.4
STREAM_TIMEOUT_S = 100   # run_streaming_dedup's own per-query bound


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fit_host(work: str) -> int:
    """Environment for the Spark driver JVM and the Python workers,
    set before the JVM starts. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    # session.py's default heap (32 GB) is more than this host has. A
    # quarter of physical memory, at most 2 GB: 2000 docs need far less,
    # and a heap the run fills keeps the JVM's peak RSS from depending on
    # when G1 chose to grow it (measured: 3.5-4.5 GB peaks at a 3.8 GB
    # cap, 2.7-3.0 GB at 2 GB, same run walls)
    heap_mb = max(1024, min(2048, mem_kb // 1024 // 4))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update({
        # workers import dedup (pandas UDFs) from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "DEDUP_DRIVER_MEM": f"{heap_mb}m",
        # scratch stays inside the checkout: Spark block/shuffle dirs
        # (SPARK_LOCAL_DIRS outranks spark.local.dir), JVM and Python
        # temp files; no hsperfdata file in /tmp
        "DEDUP_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    import tempfile

    tempfile.tempdir = tmp
    return cores


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    try:
        spark.stop()
    except Py4JError as exc:  # the JVM is gone; reap_children sweeps up
        log(f"session stop failed: {exc}")
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(10)


def reap_children() -> int:
    """Terminate and wait for any process this run left behind."""
    from perfbench.trace import descendants

    left = descendants(os.getpid())
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while time.time() < deadline:
            left = descendants(os.getpid())
            if not left:
                return 0
            time.sleep(0.2)
    return len(left)


class Run:
    """One benchmark run. Each workload method sets up its path, times
    its unit and checks it; the first one called is the run's own."""

    def __init__(self, args, cores: int, work: str) -> None:
        self.args = args
        self.cores = cores
        self.work = work
        self.spark = None
        self.tracer = None
        self.recs: dict[str, dict] = {}  # workload -> its timed unit
        self.summary: dict = {"workload": args.workload, "seed": args.seed,
                              "cores": cores,
                              "driver_mem": os.environ["DEDUP_DRIVER_MEM"]}

    # -------------------------------------------------------------- spark
    def ensure_spark(self) -> None:
        if self.spark is not None:
            return
        from dedup.session import get_spark
        from perfbench.trace import Tracer

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.args.trace:
            ev = os.path.join(self.work, "eventlog")
            os.makedirs(ev, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + ev,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(f"perfbench-{self.args.workload}",
                               master=f"local[{self.cores}]",
                               extra_conf=conf)
        self.tracer = Tracer(self.spark.sparkContext, bool(self.args.trace),
                             f"{self.args.workload}-{self.args.seed}")

    def unit(self, name: str, fn, docs: int) -> dict:
        """Time a workload's unit, fn(timings), in a span named after the
        workload and under a cancel-on-timeout watchdog. A unit that
        raises or times out is recorded as failed, never dropped."""
        sc = self.spark.sparkContext
        timer = threading.Timer(UNIT_TIMEOUT_S, sc.cancelAllJobs)
        timer.start()
        rec = {"docs": docs, "ok": True, "problems": [], "timings": {}}
        t0 = time.time()
        try:
            with self.tracer.span(name):
                fn(rec["timings"])
        except Exception as exc:  # noqa: BLE001 — recorded as a failure
            traceback.print_exc()
            rec["ok"] = False
            rec["problems"].append(f"raised {type(exc).__name__}: {exc}")
        finally:
            timer.cancel()
        rec["wall_s"] = time.time() - t0
        self.recs[name] = rec
        return rec

    def check(self, rec: dict, assign_dir: str, truth,
              kinds: tuple[str, ...]) -> None:
        """Recall over the planted `kinds` the path is built to merge,
        and false merges, from the written assignments. Recall per kind
        and over all four kinds is kept in the summary either way."""
        import pyarrow.parquet as pq

        from perfbench import checks

        assign = pq.read_table(assign_dir).to_pandas()
        rec["recall"], rec["recall_pairs"] = checks.recall(
            assign, truth, kinds)
        rec["recall_all_kinds"] = checks.recall(assign, truth)[0]
        rec["recall_by_kind"] = {
            k: checks.recall(assign, truth[truth["dup_kind"].isin(
                ("unique", k))]) for k in checks.RECALL_KINDS}
        rec["false_merges"] = checks.false_merges(assign, truth)
        rec["fingerprint"] = checks.fingerprint(
            self.spark.read.parquet(assign_dir))
        if rec["recall"] < checks.MIN_RECALL:
            rec["problems"].append(f"recall {rec['recall']:.4f}")
        if rec["false_merges"]:
            rec["problems"].append(f"{rec['false_merges']} false merges")
        rec["ok"] = rec["ok"] and not rec["problems"]

    # ---------------------------------------------------------- workloads
    def bulk(self) -> float:
        from dedup.config import DedupConfig
        from perfbench import checks, inputs, units

        spec = WORKLOADS["bulk"]
        root = os.path.join(self.work, "bulk")
        pages_dir, sources_path, truth = inputs.batch_corpus(
            os.path.join(root, "input"), spec["docs"], self.args.seed,
            spec["files"])
        self.summary["bulk_input"] = {
            "docs": spec["docs"], "parquet_files": spec["files"],
            "kind_shares": inputs.kind_shares(truth)}
        cfg = DedupConfig()
        t0 = time.time()
        self.ensure_spark()
        setup_s = time.time() - t0
        out = os.path.join(root, "out")

        def one(timings: dict) -> None:
            units.bulk_run(self.spark, self.tracer, cfg, pages_dir,
                           sources_path, out, timings)

        # when bulk is the run's own workload its unit is the process's
        # first pipeline run: each batch invocation of the CLI is a
        # fresh process, so its JIT and worker start-up are paid by
        # every user
        rec = self.unit("bulk", one, spec["docs"])
        if rec["ok"]:
            self.check(rec, os.path.join(out, "assignments"), truth,
                       checks.RECALL_KINDS)
        rec["sinks_mb"] = units.dir_mb(out)
        if self.args.trace:
            counts: dict = {}
            with self.tracer.span("replay"):
                fp = units.replay(self.spark, self.tracer, cfg, pages_dir,
                                  sources_path, counts)
            self.summary["replay"] = {"counts": counts,
                                      "fingerprint": list(fp)}
        return setup_s

    def stream(self) -> float:
        from dedup.config import DedupConfig
        from perfbench import checks, inputs, units

        spec = WORKLOADS["stream"]
        root = os.path.join(self.work, "stream")
        (drop0, drop1), sources_path, truth, landed_pages = \
            inputs.stream_drops(os.path.join(root, "input"),
                                spec["first_docs"], spec["drop_docs"],
                                self.args.seed)
        self.summary["stream_input"] = {
            "docs": spec["first_docs"] + spec["drop_docs"],
            "first_drop_docs": spec["first_docs"],
            "drop_docs": spec["drop_docs"],
            "out_of_order_share": inputs.OOO_SHARE,
            "out_of_order_max_s": inputs.OOO_MAX_S,
            "kind_shares": inputs.kind_shares(truth)}
        cfg = DedupConfig()
        t0 = time.time()
        self.ensure_spark()
        st = units.Stream(self.spark, cfg, root, sources_path,
                          STREAM_TIMEOUT_S)
        # set-up, the untimed warm-up drain: the crawl so far (drop 0)
        # lands and is drained like any later drop. It leaves the
        # stores, bucket state, checkpoints and tail state the measured
        # drain extends, and runs the tail's code once, so the measured
        # drain does not pay its first JIT and codegen
        with self.tracer.span("warmup"):
            st.land(drop0)
            st.drain(self.tracer, {})
        setup_s = time.time() - t0

        # measured: the next drop lands; one drain (streams, incremental
        # verify tail over the delta, tail-state save) and its output
        # writes
        st.land(drop1)

        def one(timings: dict) -> None:
            st.drain(self.tracer, timings)

        rec = self.unit("stream", one, spec["drop_docs"])
        if rec["ok"]:
            problems, lost = checks.store_check(
                st.stored_urls(), landed_pages, truth)
            rec["late_dropped"] = lost
            rec["problems"].extend(problems)
            self.check(rec, os.path.join(st.out, "assignments"), truth,
                       checks.STREAM_RECALL_KINDS)
        rec["sinks_mb"] = units.dir_mb(st.out)
        rec["state_mb"] = st.state_mb()
        return setup_s

    # ------------------------------------------------------------ metrics
    def end_to_end(self, setup_s: float) -> dict:
        rec = self.recs[self.args.workload]
        m = {
            "setup_s": (setup_s, "s"),
            "run_s": (rec["wall_s"], "s"),
            "docs_per_s": (rec["docs"] / rec["wall_s"], "1/s"),
            "recall": (rec.get("recall", 0.0), "ratio"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def per_layer(self, peak_rss: int) -> dict:
        """Per-layer metrics of a traced run. The run's own unit gives
        the trace.*, pipeline.driver_s and sinks.* numbers; the other
        workload's path, run after it, fills the rest warm."""
        from perfbench.trace import EventLog

        tr = self.tracer
        logs = glob.glob(os.path.join(self.work, "eventlog", "*"))
        ev = EventLog(logs[0], tr)
        rec = self.recs[self.args.workload]
        unit_span = tr.by_name(self.args.workload)[0]
        sinks = [s for s in tr.by_name("sinks")
                 if s["parent"] == unit_span["id"]]
        bt = self.recs.get("bulk", {}).get("timings", {})
        srec = self.recs.get("stream", {})
        st = srec.get("timings", {})
        m: dict[str, tuple[float, str]] = {
            "trace.run_s": (rec["wall_s"], "s"),
            "trace.peak_rss_mb": (peak_rss / 1e6, "MB"),
            "pipeline.driver_s": (
                ev.idle_s(unit_span["start"], unit_span["end"]), "s"),
            "sinks.wall_s": (sum(s["end"] - s["start"] for s in sinks), "s"),
            "sinks.mb_written": (rec["sinks_mb"], "MB"),
            "spark.tasks_failed": (ev.tasks_failed(), "count"),
            "spark.spill_mb": (ev.spill_mb(), "MB"),
        }
        for k in ("plan_front_s", "edges_s", "cc_s", "tail_build_s"):
            m[f"pipeline.{k}"] = (bt.get(k, 0.0), "s")
        replay = self.summary.get("replay", {})
        counts = replay.get("counts", {})
        for layer in ("normalize", "minhash", "candidates", "simhash",
                      "suffix", "verify", "cluster", "survivor"):
            m[f"{layer}.wall_s"] = (tr.wall(layer), "s")
            m[f"{layer}.task_s"] = (ev.task_s(layer), "s")
            if layer not in ("cluster", "survivor"):
                m[f"{layer}.records"] = (counts.get(layer, 0), "count")
        for layer in ("candidates", "verify"):
            m[f"{layer}.shuffle_mb"] = (ev.shuffle_mb(layer), "MB")
        m["candidates.hot_buckets"] = (counts.get("hot_buckets", 0), "count")
        m["candidates.skew"] = (ev.skew("candidates"), "ratio")
        m["verify.yield"] = (
            counts.get("edges", 0) / counts["verify"]
            if counts.get("verify") else 0.0, "ratio")
        m["cluster.edges"] = (counts.get("edges", 0), "count")
        m["cluster.driver_regime"] = (counts.get("cc_driver_regime", 0),
                                      "count")
        m["replay.fingerprint_match"] = (
            int(bool(replay) and tuple(replay["fingerprint"])
                == tuple(self.recs.get("bulk", {}).get("fingerprint", ()))),
            "count")
        m["streaming.streams_s"] = (st.get("t_streams_s", 0.0), "s")
        m["streaming.tail_s"] = (st.get("t_tail_build_s", 0.0), "s")
        m["streaming.save_s"] = (st.get("t_save_s", 0.0), "s")
        m["streaming.cand_new"] = (st.get("n_cand_new", 0), "count")
        m["streaming.cand_total"] = (st.get("n_cand_total", 0), "count")
        m["streaming.state_mb"] = (srec.get("state_mb", 0.0), "MB")
        m["streaming.late_dropped"] = (srec.get("late_dropped", 0), "count")
        self.summary["self_s"] = tr.self_times()
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "dedup", "pipeline.py")):
        log("no dedup/ package here: run from the root of a checkout")
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = fit_host(work)

    from perfbench.trace import RssSampler

    def overrun() -> None:
        log(f"run exceeded {RUN_LIMIT_S}s; stopping")
        reap_children()
        os._exit(3)

    limit = threading.Timer(RUN_LIMIT_S, overrun)
    limit.daemon = True
    limit.start()
    t_start = time.time()
    run = Run(args, cores, work)
    try:
        with RssSampler() as rss:
            try:
                setup_s = getattr(run, args.workload)()
                # a traced run measures every per-layer metric: the other
                # workload's path follows on the same seed, unless the
                # run is already too slow to fit it inside RUN_LIMIT_S
                other, = set(WORKLOADS) - {args.workload}
                if args.trace and (time.time() - t_start
                                   + OTHER_PATH_SLACK * OTHER_PATH_S[other]
                                   < RUN_LIMIT_S):
                    getattr(run, other)()
            finally:
                if run.spark is not None:
                    stop_spark(run.spark)
    finally:
        left = reap_children()
        limit.cancel()
    if left:
        log(f"{left} child processes did not exit")
        return 1

    rec = run.recs[args.workload]
    metrics = (run.per_layer(rss.peak) if args.trace
               else run.end_to_end(setup_s))
    run.summary["peak_rss_mb"] = rss.peak / 1e6
    run.summary["units"] = run.recs
    run.summary["metrics"] = metrics
    if args.trace:
        run.tracer.write(os.path.join(work, "spans.jsonl"))
    with open(os.path.join(work, "summary.json"), "w") as f:
        json.dump(run.summary, f, indent=1, default=str)
    log(f"unit wall={rec['wall_s']:.2f}s recall={rec.get('recall')} "
        f"false_merges={rec.get('false_merges')} "
        f"fingerprint={rec.get('fingerprint')} problems={rec['problems']}")
    print(json.dumps({
        "correct": rec["ok"],
        "attempted": 1,
        "failed": int(not rec["ok"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
