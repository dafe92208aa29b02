"""The repository's benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload annotate --seed 1 --seconds 10 --trace 0

Run from the repository root. It generates the workload's inputs from the
seed under perfbench/_work/, starts a local[k] Spark session with
k = nproc, checks every op against its oracle on a smaller input of the
same seed, warms up until pass times settle, and then times whole passes
over the ops for --seconds. The last stdout line is the result object;
the line before it carries the run's details (input properties, pass
times, host control, error rate, per-op check failures).

--trace 0 reports the end-to-end metrics. --trace 1 runs untraced and
traced passes, then one isolated call per engine layer, and reports the
per-layer metrics from spans and the Spark event log.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

DRIVER_MEM = "2g"     # fixed JVM heap (-Xms = -Xmx), so RSS repeats
END_TO_END = {"rows_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB",
              "stored_bytes_per_row": "B"}


def process_start_wall() -> float:
    """Wall-clock time this process started (from /proc, so interpreter
    start-up and imports count toward setup_s)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as fh:
        up = float(fh.read().split()[0])
    return time.time() - (up - start)


def host_control_s() -> float:
    """A fixed driver-side CPU job (median of 5); explains host drift."""
    import numpy as np
    a = np.random.default_rng(0).random(400_000)
    ts = []
    for _ in range(5):
        t = time.perf_counter()
        np.sort(a)
        sum(i * i for i in range(200_000))
        ts.append(time.perf_counter() - t)
    return statistics.median(ts)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the workers write inside work;
    put the repository root on the Python workers' path."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(work: str, k: int, trace: bool):
    from clj_nlp_parse_spark.session import get_spark
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", parallelism=k,
                     shuffle_partitions=k, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def storage(sc) -> tuple[int, float]:
    """Cached/checkpointed RDD blocks still held, and their MB."""
    blocks, size = 0, 0
    for info in sc._jsc.sc().getRDDStorageInfo():
        blocks += info.numCachedPartitions()
        size += info.memSize() + info.diskSize()
    return blocks, size / 2**20


class Runner:
    """Runs passes of one workload and counts op failures."""

    def __init__(self, ctx, wl, tracer):
        self.ctx, self.wl, self.tracer = ctx, wl, tracer
        self.attempted = 0
        self.failed: dict[str, str] = {}
        self._lock = threading.Lock()
        self.storage: list[tuple[int, float]] = []
        self.parse_check: tuple[int, str] | None = None

    def _fail(self, name: str, msg: str) -> None:
        with self._lock:
            self.failed.setdefault(name, msg)

    def _count(self, n: int) -> None:
        with self._lock:
            self.attempted += n

    def run_op(self, op, pass_id: int | None) -> None:
        self._count(1)
        with self.tracer.span("op", pass_id=pass_id, op=op.name):
            try:
                with self.tracer.span("build"):
                    df = op.build(self.ctx, self.ctx.data)
                with self.tracer.span("sink"):
                    op.sink(self.ctx, self.ctx.data, df)
            except Exception:
                self._fail(op.name, traceback.format_exc(limit=2))

    def one_pass(self, pass_id: int) -> float:
        with self.tracer.span("pass", pass_id=pass_id) as s:
            for op in self.wl.ops:
                self.run_op(op, pass_id)
        self.storage.append(storage(self.ctx.spark.sparkContext))
        return s.dur

    def check(self, con) -> None:
        """Every op's output on the check input, outside the timed passes."""
        from perfbench import workloads as W

        def one(op):
            try:
                if op.registered:
                    return op.name, W.check_registered(self.ctx, op, con)
                return op.name, None
            except Exception:
                return op.name, traceback.format_exc(limit=2)

        self._count(len(self.wl.ops))
        with ThreadPoolExecutor(self.ctx.cores) as ex:
            for name, err in ex.map(one, self.wl.ops):
                if err:
                    self._fail(name, err)
        if any(op.name == "parse_captions" for op in self.wl.ops):
            try:
                self.parse_check = W.parse_digest(self.ctx)
                if self.parse_check[0] != self.ctx.check_docs:
                    self._fail("parse_captions",
                               f"{self.parse_check[0]} rows")
            except Exception:
                self._fail("parse_captions", traceback.format_exc(limit=2))
        if self.wl.images:
            try:
                err = W.check_pit(self.ctx, con)
            except Exception:
                err = traceback.format_exc(limit=2)
            if err:
                self._fail("feature_asof", err)

    def check_and_warm(self, con) -> float:
        """The check and one warm pass over the timed input, side by side:
        both are untimed, and together they compile and warm every op."""
        with ThreadPoolExecutor(1) as ex:
            warm = ex.submit(self.one_pass, -1)
            self.check(con)
            return warm.result()


def run(name: str, seed: int, seconds: float, trace: bool,
        ops_override=None) -> tuple[dict, dict]:
    """One benchmark run; returns (details, result)."""
    t_proc = process_start_wall()
    from perfbench import workloads as W

    wl = W.WORKLOADS[name]
    if ops_override is not None:
        wl = ops_override(wl)
    work = os.path.join(WORK, f"{name}-s{seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return _run(wl, name, seed, seconds, trace, work, t_proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(wl, name, seed, seconds, trace, work, t_proc):
    from perfbench import inputs
    from perfbench import workloads as W
    from perfbench.trace import Tracer, peak_rss_mb

    prepare_env(work)
    control = host_control_s()
    data, check = os.path.join(work, "data"), os.path.join(work, "check")
    sc_ = wl.check_scale
    props = {
        "data": inputs.make_dir(data, seed, docs=wl.docs,
                                n_events=wl.events, n_emb=wl.emb,
                                n_images=wl.images),
        "check": inputs.make_dir(check, seed, docs=int(wl.docs * sc_),
                                 n_events=int(wl.events * sc_),
                                 n_emb=int(wl.emb * sc_),
                                 n_images=int(wl.images * sc_)),
    }
    k = cores()
    t = time.perf_counter()
    spark = start_spark(work, k, trace)
    session_s = time.perf_counter() - t
    try:
        ctx = W.Ctx(spark=spark, cores=k, data=data, check=check,
                    check_docs=int(wl.docs * sc_))
        tracer = Tracer(spark.sparkContext, enabled=False)
        runner = Runner(ctx, wl, tracer)
        con = W.duck(check)
        phases = {"session": session_s, "inputs": time.time() - t_proc}
        t = time.perf_counter()
        warm = [runner.check_and_warm(con)]
        phases["check_and_warm"] = time.perf_counter() - t

        setup_s = time.time() - t_proc
        # whole passes filling --seconds, at least one; the traced run
        # alternates untraced and traced passes (U T T U) so warm-up drift
        # cancels out of trace.overhead
        timed, traced = [], []
        if not trace:
            timed.append(runner.one_pass(0))
            n_pass = max(1, round(seconds / timed[0]))
            timed += [runner.one_pass(i) for i in range(1, n_pass)]
        for i in range(max(2, round(seconds / 2 / warm[0])) if trace else 0):
            for on in ((False, True) if i % 2 == 0 else (True, False)):
                tracer.enabled = on
                out = traced if on else timed
                out.append(runner.one_pass((1000 if on else 0) + len(out)))
            tracer.enabled = False
        if runner.parse_check is not None and \
                W.parse_digest(ctx) != runner.parse_check:
            runner._fail("parse_captions", "digest changed")
        layer = {}
        if trace:
            from perfbench import layers
            layer = layers.measure(ctx, wl, tracer, runner)
        rss = peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        if wl.images:
            n_files, n_bytes = W.table_files(W.features_path(data))
            stored = n_bytes / wl.images
            props["data"]["feature_table"] = {"files": n_files,
                                              "bytes": n_bytes}
        else:
            stored = os.path.getsize(
                os.path.join(data, "documents.parquet")) / wl.docs
    finally:
        stop_spark(spark)

    if trace:
        from perfbench import layers
        metrics = layers.finish(layer, work, tracer, runner, k, session_s,
                                control, timed, traced)
    else:
        vals = {"rows_per_s": wl.docs / statistics.median(timed),
                "setup_s": setup_s, "peak_rss_mb": rss["total"],
                "stored_bytes_per_row": stored}
        metrics = {m: {"value": vals[m], "unit": u}
                   for m, u in END_TO_END.items()}
    op_s: dict[str, list[float]] = {}
    for sp in tracer.spans:
        if sp.name == "op" and sp.pass_id is not None and sp.pass_id >= 0:
            op_s.setdefault(sp.op, []).append(round(sp.dur, 3))
    failed = len(runner.failed)
    error_rate = failed / max(runner.attempted, 1)
    details = {
        "workload": name, "seed": seed, "cores": k, "inputs": props,
        "phases_s": phases, "warm_pass_s": warm,
        "timed_pass_s": timed, "traced_pass_s": traced, "op_s": op_s,
        "host.control_s": control, "rss_mb": rss,
        "error_rate": {"value": error_rate, "unit": "ratio"},
        "failures": runner.failed,
    }
    result = {"correct": failed == 0, "attempted": runner.attempted,
              "failed": failed, "metrics": metrics}
    return details, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    details, result = run(args.workload, args.seed, args.seconds,
                          bool(args.trace))
    print(json.dumps(details, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
