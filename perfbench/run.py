#!/usr/bin/env python3
"""Layered benchmark of presto_ethereum_spark against a stand-in JSON-RPC node.

    python3 perfbench/run.py --workload node_scan --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads (see ``workloads.py`` and
``BENCHMARK.json``): ``node_scan``, ``chain_sql``, ``ledger_tail``.

The driver process generates the workload's inputs from ``--seed``, starts
the stand-in node when the workload needs one, then starts ``local[nproc]``
Spark with the Spark UI off, driver memory sized to the host, and the
repository root on ``PYTHONPATH`` so Python data-source workers can import
the package from any working directory.  It sets the session up once
unmeasured, then three times (``setup_s`` is the median), runs the workload
for ``--seconds`` seconds,
checks every result, and prints a human-readable
summary followed by one JSON line.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` measures
untraced for half of ``--seconds``, restarts the session with the Spark
event log, the streaming listener, Catalyst phase capture and the
benchmark's spans enabled, measures for the other half, and reports the
per-layer metrics plus ``trace.overhead`` (traced over untraced median
latency, minus one).  ``--trace-out FILE`` also writes the per-layer table.

Everything the run writes goes under ``perfbench/.work`` and is removed at
exit, after every process the run started has been stopped and reaped.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SETUPS = 3

END_TO_END = {
    "setup_s": "s",
    "latency_s_p50": "s",
    "throughput": "1/s",
}
RPC_METHODS = (
    "eth_blockNumber", "eth_getBlockByNumber", "eth_getBlockByHash",
    "eth_getTransactionReceipt", "eth_getLogs", "eth_getBalance",
    "eth_getTransactionCount", "eth_getCode", "eth_gasPrice",
)
PER_LAYER = {
    "session.start_s": "s",
    "rpc.posts": "count",
    **{f"rpc.calls.{m}": "count" for m in RPC_METHODS},
    "rpc.calls_per_block": "ratio",
    "rpc.bytes_out": "bytes",
    "rpc.node_busy_s": "s",
    "pushdown.partitions": "count",
    "pushdown.blocks_fetched_per_block_needed": "ratio",
    "web3.rpc_calls_per_distinct_address": "ratio",
    "build_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "scan.bytes_read": "bytes",
    "shuffle.bytes_written": "bytes",
    "shuffle.fetch_wait_s": "s",
    "driver.outside_jobs_s": "s",
    "decode.rows_out.block": "count",
    "decode.rows_out.transaction": "count",
    "decode.rows_out.erc20": "count",
    "stream.batches": "count",
    "stream.rows_per_batch": "count",
    "stream.latest_offset_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.outside_trigger_s": "s",
    "ledger.gen_bytes": "bytes",
    "ledger.state_rows": "count",
    "trace.overhead": "ratio",
}


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A sixth of physical memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{min(4, max(1, kb // (6 * 1024 * 1024)))}g"


def configure_env(work: Path) -> None:
    """Environment the Spark JVM and its Python workers inherit."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(BENCH), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory()
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # JVMs keep their temporary files in the work directory, and write no
    # hsperfdata file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    tempfile.tempdir = None


def start_session(work: Path, event_log: Path | None = None):
    from presto_ethereum_spark import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
        "spark.eventLog.enabled": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log.as_uri(),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Runner:
    """Session lifecycle and measurement loops for one workload."""

    def __init__(self, wl, work: Path):
        from tracing import Tracer

        self.wl = wl
        self.work = work
        self.spark = None
        self.tracer = Tracer(False)
        self.attempted = 0
        self.failed = 0
        self.seq = 0

    # -- sessions -----------------------------------------------------------

    def setup(self, event_log: Path | None = None) -> tuple[float, float]:
        """(total, session start) seconds for one set-up: a fresh
        SparkContext, source registration and resolving one source."""
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = start_session(self.work, event_log)
        t1 = time.perf_counter()
        self.wl.register(self.spark)
        self.wl.probe(self.spark)
        return time.perf_counter() - t0, t1 - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def tag(self, name: str) -> str:
        self.seq += 1
        tag = f"{name}#{self.seq}"
        if self.tracer.enabled:
            self.spark.sparkContext.setLocalProperty("perfbench.op", tag)
        return tag

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: {what}", file=sys.stderr)

    # -- closed-loop query workloads ----------------------------------------

    def run_op(self, op, rec: dict | None) -> float | None:
        from tracing import catalyst_phases
        from workloads import rows_match

        tracer = self.tracer
        tag = self.tag(op.name)
        self.attempted += 1
        try:
            t0 = time.time()
            with tracer.span("op", tag):
                with tracer.span("build", tag):
                    df = op.build(self.spark)
                t1 = time.time()
                with tracer.span("exec", tag):
                    rows = df.collect()
            t2 = time.time()
        except Exception:
            self.fail(f"{op.name} raised:\n{traceback.format_exc()}")
            return None
        if not rows_match(op, rows):
            self.fail(f"{op.name}: wrong result {rows[:3]}")
            return None
        if rec is not None:
            rec["windows"][tag] = (t0, t2)
            rec["exec_span"][tag] = len(tracer.spans) - 1
            rec["build"].append(t1 - t0)
            rec["exec"].append(t2 - t1)
            rec["phases"].append(catalyst_phases(df))
        return t2 - t0

    def run_queries(self, seconds: float, warm: int | None = None) -> dict:
        """Whole passes over the operations, each in a seeded order, after
        ``warm`` (default: the workload's) warm-up operations, which are
        checked but not measured.  The first pass always runs; another
        starts only if a pass as long as the last one ends within
        ``seconds``.  Every operation is measured equally often, so the
        medians do not depend on where a time limit cut a pass."""
        wl = self.wl
        node = wl.node
        for op in wl.ops[:wl.warm if warm is None else warm]:
            self.run_op(op, None)
        rec = {"lat": [], "by_op": {}, "blocks": 0, "windows": {}, "exec_span": {},
               "build": [], "exec": [], "phases": [], "pass1": {}}
        order = list(wl.ops)
        end = time.perf_counter() + seconds
        pass_s = 0.0
        first = True
        counting = node is not None and self.tracer.enabled
        if counting:
            node.stats(reset=True)
        while first or time.perf_counter() + pass_s <= end:
            t = time.perf_counter()
            wl.rng.shuffle(order)
            for op in order:
                lat = self.run_op(op, rec if self.tracer.enabled else None)
                if lat is not None:
                    rec["lat"].append(lat)
                    rec["by_op"].setdefault(op.name, []).append(lat)
                    rec["blocks"] += op.blocks
                if first and counting:
                    rec["pass1"][op.name] = node.stats(reset=True)
            pass_s = time.perf_counter() - t
            first = False
        return rec

    # -- ledger tail --------------------------------------------------------

    def drain(self, rec: dict) -> None:
        wl = self.wl
        tag = self.tag("drain")
        self.attempted += 1
        t0 = time.time()
        try:
            with self.tracer.span("drain", tag):
                ledger = wl.drain(self.spark)
        except Exception:
            self.fail(f"drain raised:\n{traceback.format_exc()}")
            return
        t1 = time.time()
        covered = max(rec["covered"], wl.node.stats()["max_logs_to"])
        if wl.t0 is not None:
            rec["lags"].extend(t1 - wl.appeared_at(b)
                               for b in range(rec["covered"] + 1, covered + 1))
        rec["fold_blocks"] += covered - rec["covered"]
        rec["fold_s"] += t1 - t0
        rec["covered"] = covered
        rec["drains"].append(t1 - t0)
        rec["ledger"] = ledger
        if self.tracer.enabled:
            rec["windows"][tag] = (t0, t1)
            rec["exec_span"][tag] = len(self.tracer.spans) - 1

    def check_ledger(self, rec: dict) -> int:
        from workloads import norm_rows

        self.attempted += 1
        rows = rec["ledger"].collect()
        if norm_rows(rows) != self.wl.expected(rec["covered"]):
            self.fail(f"ledger through block {rec['covered']} differs from the oracle")
        return len(rows)

    def run_ledger(self, seconds: float, rec: dict) -> dict:
        """On the first call: an unmeasured warm-up drain, the measured
        backfill drain, and the start of the node's append schedule.  Then,
        for ``seconds``: wait for the head to pass the ledger, drain."""
        from workloads import LEDGER_BACKFILL

        wl = self.wl
        if wl.t0 is None:
            self.drain(rec)
            rec.update(fold_blocks=0, fold_s=0.0)
            wl.set_head(LEDGER_BACKFILL)
            self.drain(rec)
            self.check_ledger(rec)
            rec["backfill"] = rec["drains"][-1]
            rec["drains"].clear()
            wl.start_tail(time.time())
        end = time.perf_counter() + seconds
        while time.perf_counter() < end:
            if wl.head() > rec["covered"]:
                self.drain(rec)
            else:
                time.sleep(0.01)
        return rec


def new_ledger_rec() -> dict:
    return {"lags": [], "drains": [], "covered": 0, "ledger": None,
            "fold_blocks": 0, "fold_s": 0.0, "windows": {}, "exec_span": {}}


def end_to_end(runner: Runner, setups: list, rec: dict, rss_kb: int) -> dict:
    from tracing import median, tail

    wl = runner.wl
    if wl.name == "ledger_tail":
        lat = rec["lags"]
        print(f"# ledger_tail: backfill drain {rec['backfill']:.2f} s; tail drains (s): "
              f"{[round(d, 2) for d in rec['drains']]}; {rec['fold_blocks']} blocks "
              f"folded in {rec['fold_s']:.2f} s of drains")
        throughput = rec["fold_blocks"] / rec["fold_s"]
    else:
        lat = rec["lat"]
        throughput = (rec["blocks"] if wl.name == "node_scan" else len(lat)) / sum(lat)
        print("# per-query latency (s): " + ", ".join(
            f"{k} {[round(x, 3) for x in v]}" for k, v in rec["by_op"].items()))
    tail_v, tail_pct, beyond = tail(lat)
    tail_txt = (f"p{tail_pct:.1f} = {tail_v:.4f} s" if beyond
                else "n/a (fewer than 11 samples)")
    print(f"# {wl.name}: {len(lat)} latency samples; tail {tail_txt}; "
          f"error_rate = {runner.failed / max(1, runner.attempted):.4f} "
          f"({runner.failed}/{runner.attempted}); peak RSS {rss_kb / 1024:.0f} MB")
    return {
        "setup_s": median(s for s, _ in setups),
        "latency_s_p50": median(lat),
        "throughput": throughput,
    }


def per_layer(runner: Runner, setups: list, untraced: dict, rec: dict,
              event_log: Path, listener) -> tuple[dict, list]:
    import tracing

    wl, spark, node = runner.wl, runner.spark, runner.wl.node
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_s"] = tracing.median(s for _, s in setups)
    if wl.name == "ledger_tail":
        base, traced = untraced["drains"], rec["drains"]
        st = node.stats()
        m["ledger.state_rows"] = runner.check_ledger(rec)
        gens = sorted(wl.state_root.glob("gen_*"), key=lambda p: int(p.name[4:]))
        if gens:
            m["ledger.gen_bytes"] = sum(f.stat().st_size for f in gens[-1].rglob("*")
                                        if f.is_file())
        time.sleep(1.0)  # listener events arrive asynchronously
        with listener.lock:
            progress = list(listener.progress)
        batches = [p for p in progress if "addBatch" in p["ms"]]
        n_drains = max(1, len(traced))
        m["stream.batches"] = len(batches) / n_drains
        m["stream.rows_per_batch"] = sum(p["rows"] for p in batches) / max(1, len(batches))
        for key, name in (("latestOffset", "stream.latest_offset_ms"),
                          ("addBatch", "stream.add_batch_ms"),
                          ("walCommit", "stream.wal_commit_ms")):
            m[name] = tracing.median(p["ms"].get(key, 0) for p in batches)
        trig = sum(p["ms"].get("triggerExecution", 0) for p in progress) / 1e3
        m["stream.outside_trigger_s"] = max(0.0, sum(traced) - trig) / n_drains
        blocks = max(1, rec["covered"] - untraced["covered"])
        calls_total = sum(st["calls"].values())
        for k in RPC_METHODS:
            m[f"rpc.calls.{k}"] = st["calls"].get(k, 0)
        m["rpc.posts"] = st["posts"]
        m["rpc.bytes_out"] = st["bytes_out"]
        m["rpc.node_busy_s"] = st["busy_s"]
        m["rpc.calls_per_block"] = calls_total / blocks
    else:
        base, traced = untraced["lat"], rec["lat"]
        m["build_s"] = tracing.median(rec["build"])
        m["exec_s"] = tracing.median(rec["exec"])
        for k in ("analysis", "optimization", "planning"):
            m[f"catalyst.{k}_ms"] = tracing.median(p[k] for p in rec["phases"])
        if wl.name == "node_scan":
            p1 = rec["pass1"]
            calls: dict[str, int] = {}
            for st in p1.values():
                for k, v in st["calls"].items():
                    calls[k] = calls.get(k, 0) + v
            for k in RPC_METHODS:
                m[f"rpc.calls.{k}"] = calls.get(k, 0)
            m["rpc.posts"] = sum(st["posts"] for st in p1.values())
            m["rpc.bytes_out"] = sum(st["bytes_out"] for st in p1.values())
            m["rpc.node_busy_s"] = sum(st["busy_s"] for st in p1.values())
            needed = sum(op.blocks for op in wl.ops)
            m["rpc.calls_per_block"] = sum(calls.values()) / needed
            m["pushdown.blocks_fetched_per_block_needed"] = (
                sum(st["blocks_served"] for st in p1.values()) / needed)
            enrich = p1["enrich_balances"]
            m["web3.rpc_calls_per_distinct_address"] = (
                (enrich["calls"].get("eth_getBalance", 0)
                 + enrich["calls"].get("eth_getCode", 0)) / max(1, enrich["addresses"]))
            m["pushdown.partitions"] = sum(
                op.scan(spark).rdd.getNumPartitions() for op in wl.ops)
        else:
            for t in ("block", "transaction", "erc20"):
                m[f"decode.rows_out.{t}"] = spark.table(t).count()
    if wl.name == "ledger_tail":
        # the first drain after the restart also starts the Python workers
        traced = traced[1:] or traced
    m["trace.overhead"] = tracing.median(traced) / tracing.median(base) - 1.0
    runner.stop()  # finishes the event log
    log = tracing.read_event_log(str(event_log))
    m.update(tracing.spark_layer_metrics(log, rec["windows"], runner.tracer,
                                         rec["exec_span"]))
    return m, runner.tracer.self_times()


def stop_jvm() -> None:
    """Shut the Py4J gateway and wait for the JVM to exit (it exits when
    its stdin closes, and its Python workers with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def adopt_orphans() -> None:
    """Become the subreaper of every process this one starts, so helpers
    that outlive their parent (such as the Python workers of a stopped
    JVM) stay below it until reaped."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def reap_descendants(grace: float = 10.0) -> None:
    """Stop every process still below this one and wait until each has
    ended: SIGTERM, then SIGKILL for any left after ``grace`` seconds."""
    from tracing import descendants

    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = descendants(me) - {me}
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + grace
        while left and time.monotonic() < end:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            left = descendants(me) - {me}
            if left:
                time.sleep(0.05)
        if not left:
            return
    print(f"perfbench: processes {sorted(left)} did not end", file=sys.stderr)


def prelaunch(work: Path, out: dict) -> None:
    try:
        out["spark"] = start_session(work)
    except Exception:
        traceback.print_exc()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", default=None)
    args = ap.parse_args(argv)

    for need in ("presto_ethereum_spark/__init__.py", "fixtures/generate_eth_fixture.py"):
        if not (ROOT / need).is_file():
            print(f"perfbench: {need} not found under {ROOT}; run from the "
                  f"repository root of a full checkout", file=sys.stderr)
            return 2
    sys.path.insert(0, str(ROOT))
    from tracing import RssSampler, Tracer, make_progress_listener
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    adopt_orphans()
    # SIGTERM unwinds through the clean-up below like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    def phase(what: str) -> None:
        print(f"perfbench: +{time.perf_counter() - t_start:6.1f}s {what}", file=sys.stderr)

    (BENCH / ".work").mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=BENCH / ".work"))
    configure_env(work)
    wl = runner = None
    try:
        # The JVM launches while the workload generates its inputs; each
        # measured set-up then starts a fresh SparkContext in it.
        launched: dict = {}
        jvm = threading.Thread(target=prelaunch, args=(work, launched))
        jvm.start()
        try:
            wl = WORKLOADS[args.workload](args.seed, work, host_cpus())
        finally:
            jvm.join()
        phase("inputs generated, JVM up")
        runner = Runner(wl, work)
        runner.spark = launched["spark"]
        # The first set-up also pays for the first Python data-source
        # worker and the JIT of the set-up path; it varied by a second
        # between runs, so it is left out of the median.
        cold = runner.setup()
        setups = [runner.setup() for _ in range(SETUPS)]
        phase(f"set-ups {round(cold[0], 2)} (unmeasured), {[round(s, 2) for s, _ in setups]}")
        exclude = {wl.node.proc.pid} if wl.node is not None else set()
        ledger = wl.name == "ledger_tail"
        if not args.trace:
            with RssSampler(exclude) as rss:
                rec = (runner.run_ledger(args.seconds, new_ledger_rec()) if ledger
                       else runner.run_queries(args.seconds))
                if ledger:
                    runner.check_ledger(rec)
            phase("measured")
            metrics = end_to_end(runner, setups, rec, rss.peak_kb)
            units = END_TO_END
            table = None
        else:
            # Both halves start warm (every query once, unmeasured), so
            # trace.overhead compares like with like.
            half = args.seconds / 2
            untraced = (runner.run_ledger(half, new_ledger_rec()) if ledger
                        else runner.run_queries(half, warm=len(wl.ops)))
            event_log = work / "eventlog"
            runner.setup(event_log)
            listener = None
            if ledger:
                listener = make_progress_listener()
                runner.spark.streams.addListener(listener)
            runner.tracer = Tracer(True)
            if ledger:
                wl.node.stats(reset=True)
                rec = new_ledger_rec()
                rec.update(covered=untraced["covered"])
                runner.run_ledger(half, rec)
            else:
                rec = runner.run_queries(half, warm=len(wl.ops))
            metrics, table = per_layer(runner, setups, untraced, rec, event_log, listener)
            units = PER_LAYER
    finally:
        if runner is not None:
            runner.stop()
        stop_jvm()
        if wl is not None:
            wl.close()
        reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
        phase("stopped")

    print(f"# {'metric':44s} {'value':>16s} unit")
    for k, v in metrics.items():
        print(f"# {k:44s} {v:16.6g} {units[k]}")
    if table is not None:
        print(f"# per-layer spans by self time (trace.overhead = "
              f"{metrics['trace.overhead']:+.3f})")
        for r in table:
            print(f"#   {r['layer']:12s} n={r['count']:5d} total={r['total_s']:9.3f}s "
                  f"self={r['self_s']:9.3f}s")
        if args.trace_out:
            with open(args.trace_out, "w") as f:
                json.dump({"workload": wl.name, "seed": args.seed,
                           "seconds": args.seconds, "metrics": metrics,
                           "spans_by_self_time": table}, f, indent=1)
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
