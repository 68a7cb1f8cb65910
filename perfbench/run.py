"""Repository benchmark: seeded workload passes on ``local[4]``, every
output checked, one JSON result line.

    python3 perfbench/run.py --workload suite_sweep --seed 1 --seconds 15 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
passes traced (Spark event log on, spans linked to Spark jobs) and prints
the per-layer metrics. All files go under ``.bench_tmp/`` in the checkout
and are removed at exit, except a traced run's spans file. Every process
the run starts has ended when it exits. See ``perfbench/README.md`` for
the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORKLOADS = ("suite_sweep", "entity_table_rw")
SF = 0.01          # input scale factor: lineitem = 60,000 rows
SETUPS = 7         # session set-ups per run; setup_s is their median
SPIN_N = 2_000_000
T_START = time.perf_counter()


def spin_ms() -> float:
    """Fixed single-thread work; its time flags a contended host."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(SPIN_N):
        acc ^= i * i
    return (time.perf_counter() - t0) * 1000


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot: the steal share
    over a run says how much of the host a hypervisor took away."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def tail(samples: list[float]) -> tuple[float, int, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it."""
    xs = sorted(samples)
    k = len(xs) - 10
    if k < 1:
        raise ValueError(f"{len(xs)} samples: a tail needs at least 11")
    return xs[k - 1], int(100 * k / len(xs)), len(xs)


def _prepare(seed: int, in_dir: str, oracle_names) -> dict:
    """Input generation and oracle answers; runs in its own process so
    the driver's memory high-water mark is the engine's alone."""
    from perfbench import datagen, workloads

    t0 = time.perf_counter()
    datagen.write_tables(datagen.make_tables(seed, SF), in_dir)
    t1 = time.perf_counter()
    oracles = workloads.oracle_results(in_dir, oracle_names)
    return {"input_s": t1 - t0, "oracle_s": time.perf_counter() - t1,
            "oracles": oracles}


def prepare_main(seed: int, in_dir: str, out: str, names: str) -> None:
    """Entry of the preparation process: ``_prepare``, pickled to ``out``."""
    import pickle

    res = _prepare(seed, in_dir, tuple(n for n in names.split(",") if n))
    with open(out, "wb") as fh:
        pickle.dump(res, fh)


def start_prepare(seed: int, in_dir: str, oracle_names, out: str):
    """Run ``prepare_main`` in a fresh interpreter; returns its Popen."""
    import subprocess

    code = ("import sys; from perfbench.run import prepare_main; "
            "prepare_main(int(sys.argv[1]), *sys.argv[2:])")
    return subprocess.Popen([sys.executable, "-c", code, str(seed), in_dir,
                             out, ",".join(oracle_names)], cwd=ROOT)


def finish_prepare(proc, out: str) -> dict:
    import pickle

    if proc.wait() != 0:
        raise RuntimeError(f"input preparation exited with {proc.returncode}")
    with open(out, "rb") as fh:
        return pickle.load(fh)


def _session_conf(tmp: str, event_log: str | None) -> dict:
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # no hsperfdata file: the JVM would write it under /tmp. C1-only
        # JIT and the serial collector keep compiler and GC threads from
        # competing with the measured work for the host's few cores, and
        # let the JIT settle within the warm-up pass
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(tmp, 'java')} -XX:-UsePerfData "
            "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def warm_up(spark, tmp: str) -> None:
    """The work of one set-up after the session starts: parquet write and
    scan, shuffle, aggregate and broadcast join."""
    from pyspark.sql import functions as F

    path = os.path.join(tmp, "warm.parquet")
    w = spark.range(20_000).withColumn("k", F.pmod("id", F.lit(97)))
    w.write.mode("overwrite").parquet(path)
    (spark.read.parquet(path).groupBy("k").agg(F.count("*"), F.sum("id"))
     .join(F.broadcast(spark.range(97).withColumnRenamed("id", "k")), "k")
     .collect())


def new_session(tmp: str, event_log: str | None = None):
    from kiji_mapreduce_spark.session import make_session

    spark = make_session(app_name="perfbench", master="local[4]",
                         shuffle_partitions=4,
                         extra_conf=_session_conf(tmp, event_log))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_ups(spark, tmp: str) -> list[tuple[float, float]]:
    """Stop ``spark`` and time SETUPS session set-ups (start, warm-up) in
    the same, already warm JVM; the last session is stopped too. Each
    starts from a collected heap, so it does not pay for the garbage of
    the passes or of the set-up before it."""
    from pyspark import SparkContext

    times = []
    for _ in range(SETUPS):
        spark.stop()
        SparkContext._jvm.java.lang.System.gc()
        t0 = time.perf_counter()
        spark = new_session(tmp)
        t1 = time.perf_counter()
        warm_up(spark, tmp)
        times.append((t1 - t0, time.perf_counter() - t1))
    spark.stop()
    return times


def peak_rss_mb(jvm: int) -> float:
    """Driver JVM VmHWM plus this process's VmHWM."""
    import resource

    with open(f"/proc/{jvm}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh
                      if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def tree_cpu_s(root: int) -> float:
    """CPU seconds of process ``root`` and all its descendants, counting
    reaped children (the JVM's Python worker daemon and its workers)."""
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while /proc was listed
            continue
        parent[int(d)] = int(fields[1])
        cpu[int(d)] = sum(int(x) for x in fields[11:15])
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo += kids.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def become_subreaper() -> None:
    """Make orphaned descendants (the JVM's Python workers, once the JVM
    has gone) this process's children, so ``stop_processes`` can reap
    every one of them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                if int(fh.read().rsplit(")", 1)[1].split()[1]) == me:
                    out.append(int(d))
        except OSError:  # the process ended while /proc was listed
            continue
    return out


def _reap(deadline: float) -> bool:
    """Reap ended children until none is left or ``deadline`` passes."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid == 0:
            if time.monotonic() >= deadline:
                return False
            time.sleep(0.05)


def stop_processes() -> None:
    """Stop the Spark JVM and every other process this run started, and
    wait until each has ended. The JVM exits when its stdin closes; what
    is left (its Python workers, an input-preparation process after an
    error) gets SIGTERM, then SIGKILL."""
    import signal
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # the JVM is already gone
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(20)
            except subprocess.TimeoutExpired:
                pass  # killed below
        SparkContext._gateway = SparkContext._jvm = None
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _children():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        if _reap(time.monotonic() + 10):
            return


def run_workload(args, tmp: str) -> dict:
    import random

    from perfbench import trace, workloads

    in_dir = os.path.join(tmp, "input")
    suite_run = args.workload == "suite_sweep"
    # inputs and oracle answers are made while the JVM launches
    prep_out = os.path.join(tmp, "prepared.pickle")
    prep_proc = start_prepare(args.seed, in_dir,
                              workloads.SUITE_QUERIES if suite_run else (),
                              prep_out)
    event_log = None
    if args.trace:
        event_log = os.path.join(tmp, "eventlog")
        os.makedirs(event_log)
    spark = new_session(tmp, event_log)
    prep = finish_prepare(prep_proc, prep_out)
    tracer = trace.Tracer(spark, enabled=bool(args.trace))
    order = list(workloads.SUITE_QUERIES)
    random.Random(args.seed).shuffle(order)

    def run_pass(tr, label: str, reads: int = workloads.READS):
        with tr.span("pass", label):
            if suite_run:
                return workloads.suite_pass(spark, tr, in_dir, order,
                                            prep["oracles"]), None
            ep = workloads.EntityPass(spark, tr, in_dir,
                                      os.path.join(tmp, f"pass-{label}"),
                                      args.seed, reads)
            return ep.run(), ep

    # one untimed warm-up pass of the same workload: its outputs are
    # checked, but the JVM's first JIT and code generation of the pass's
    # plans stay out of the measurement. Its entity pass skips the reads
    # of existing keys; the miss and read-your-writes gets warm that path
    t_warm = time.perf_counter()
    warm_ops, _ = run_pass(trace.Tracer(spark, enabled=False), "warm-up",
                           reads=0)
    print(f"before the warm-up pass {t_warm - T_START:.1f} s, warm-up pass "
          f"{time.perf_counter() - t_warm:.1f} s")

    jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    passes, cpus, ops, entity = [], [], [], []
    t_start = time.perf_counter()
    # whole passes only: another starts if it should end within --seconds
    while not passes or (time.perf_counter() - t_start + passes[-1]
                         <= args.seconds):
        t0, cpu0 = time.perf_counter(), tree_cpu_s(jvm) + time.process_time()
        pass_ops, ep = run_pass(tracer, str(len(passes)))
        passes.append(time.perf_counter() - t0)
        cpus.append(tree_cpu_s(jvm) + time.process_time() - cpu0)
        ops += pass_ops
        if ep is not None:
            entity.append(ep)
    rss = peak_rss_mb(jvm)
    # set-up is timed after the passes, in the warm JVM, so its median
    # is not the JVM's first JIT; the traced session's event log is
    # complete once it stops here
    setups = set_ups(spark, tmp)

    # latency samples: every call into the engine (a query constructor,
    # a collect, a table or job method)
    lat_ms = [(s["t1"] - s["t0"]) * 1000 for s in tracer.spans
              if s["layer"] not in trace.NOT_ENGINE]
    tail_ms, tail_pct, n = tail(lat_ms)
    failed = sum(1 for *_, ok in warm_ops + ops if not ok)
    print(f"op_tail_ms is p{tail_pct} of {n} engine calls over "
          f"{len(passes)} pass(es)")
    print("pass seconds: " + " ".join(f"{p:.2f}" for p in passes))
    print("set-up seconds (start + warm-up): "
          + " ".join(f"{a:.2f}+{b:.2f}" for a, b in setups))
    e2e = {
        "setup_s": (statistics.median(a + b for a, b in setups), "s"),
        "wall_s": (statistics.median(passes), "s"),
        "ok_frac": (1 - failed / (len(warm_ops) + len(ops)), "fraction"),
        "cpu_s": (statistics.median(cpus), "s"),
        "peak_rss_mb": (rss, "MB"),
        "op_p50_ms": (statistics.median(lat_ms), "ms"),
        "op_tail_ms": (tail_ms, "ms"),
    }
    layer = {
        "session.start_s": (statistics.median(a for a, _ in setups), "s"),
        "session.warmup_s": (statistics.median(b for _, b in setups), "s"),
        "bench.input_s": (prep["input_s"], "s"),
        "bench.oracle_s": (prep["oracle_s"], "s"),
    }
    if args.trace:
        trace.attach_jobs(tracer.spans, event_log,
                          action_layers=("suite.exec", "table.get.collect"))
        spans = os.path.join(ROOT, ".bench_tmp", "spans",
                             f"{args.workload}-{args.seed}.json")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        tracer.write(spans)
        print(f"spans written to {os.path.relpath(spans, ROOT)}")
        layer.update(layer_metrics(tracer, ops, entity, len(passes)))
        layer["trace.overhead_frac"] = (
            tracer.cost_s / sum(passes), "fraction")
    return {"attempted": len(warm_ops) + len(ops), "failed": failed,
            "e2e": e2e, "layer": layer, "wall_s": statistics.median(passes)}


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _tail_or_max(xs, name: str) -> float:
    """Tail of one op kind. Below 20 samples the tail percentile would sit
    under the median, so the maximum is reported instead."""
    xs = list(xs)
    if not xs:
        return 0.0
    if len(xs) < 20:
        print(f"{name} is the max of {len(xs)} samples")
        return max(xs)
    value, pct, n = tail(xs)
    print(f"{name} is p{pct} of {n} samples")
    return value


def layer_metrics(tracer, ops, entity, n_passes: int) -> dict:
    """Per-layer metrics of a traced run (0 where a layer is unused)."""
    from perfbench import trace, workloads

    spans = tracer.spans
    out = trace.exec_metrics(
        [j for s in spans for j in s["jobs"]], spans, n_passes)

    def dur(s):
        return s["t1"] - s["t0"]

    def total(layer, f):
        return sum(f(s) for s in tracer.calls(layer)) / n_passes

    for layer in ("suite.build", "suite.exec"):
        out[f"{layer}_s"] = (total(layer, dur), "s")
        out[f"{layer}_jobs"] = (total(layer, lambda s: len(s["jobs"])), "count")
    by_query: dict[str, list[float]] = {}
    for name, secs, _ in ops:
        by_query.setdefault(name, []).append(secs)
    for name in workloads.SUITE_QUERIES:
        out[f"query.{name}_s"] = (_med(by_query.get(name, ())), "s")

    calls = tracer.calls

    def jobs(ss):
        return sum(len(s["jobs"]) for s in ss)

    gets = [g for ep in entity for g in ep.gets]
    out["table.get.call_s"] = (_med(dur(s) for s in calls("table.get")), "s")
    out["table.get.collect_s"] = (
        _med(dur(s) for s in calls("table.get.collect")), "s")
    out["table.get.jobs"] = (
        _med(jobs(g["spans"]) for g in gets if not g["pending"]), "count")
    out["table.get_delta.jobs"] = (
        _med(jobs(g["spans"]) for g in gets if g["pending"]), "count")
    for layer, name in (("table.put_delta", "put_delta"),
                        ("table.flush", "flush"),
                        ("table.merge_put", "merge_put")):
        out[f"table.{name}.jobs"] = (_med(len(s["jobs"]) for s in calls(layer)),
                                     "count")
    for layer in ("table.bulk_stage", "table.bulk_commit", "job.build",
                  "job.run"):
        out[f"{layer}_s"] = (total(layer, dur), "s")
    out["job.jobs"] = (total("job.build", lambda s: len(s["jobs"]))
                       + total("job.run", lambda s: len(s["jobs"])), "count")
    for key, unit in (("table.write_amp", "ratio"), ("table.files", "count"),
                      ("table.space_ratio", "ratio")):
        out[key] = (_med(ep.stats[key] for ep in entity), unit)
    out["client.batch_s"] = (total("client.batch", dur), "s")

    kinds: dict[str, list[float]] = {}
    for kind, secs, _ in ops:
        kinds.setdefault(kind, []).append(secs)
    get_ms = [s * 1000 for s in kinds.get("get", ())]
    put_ms = [s * 1000 for s in kinds.get("put", ())]
    out["get_p50_ms"] = (_med(get_ms), "ms")
    out["get_tail_ms"] = (_tail_or_max(get_ms, "get_tail_ms"), "ms")
    out["put_p50_ms"] = (_med(put_ms), "ms")
    out["put_tail_ms"] = (_tail_or_max(put_ms, "put_tail_ms"), "ms")
    for kind, key in (("flush", "flush_s"), ("merge_put", "merge_put_s"),
                      ("bulk_load", "bulk_load_s"), ("compact", "compact_s"),
                      ("gather", "scan_gather_s")):
        out[key] = (_med(kinds.get(kind, ())), "s")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import kiji_mapreduce_spark  # noqa: F401  (fail fast without the engine)

    tmp = os.path.join(ROOT, ".bench_tmp",
                       f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(tmp, "java"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(tmp, "java")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    become_subreaper()
    spin_before, ticks0 = spin_ms(), cpu_ticks()
    try:
        res = run_workload(args, tmp)
    finally:
        t_stop = time.perf_counter()
        stop_processes()
        shutil.rmtree(tmp, ignore_errors=True)
        print(f"processes stopped in {time.perf_counter() - t_stop:.1f} s")
    ticks1, spin_after = cpu_ticks(), spin_ms()
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    print(f"host spin_ms before={spin_before:.1f} after={spin_after:.1f} "
          f"steal_frac={steal:.4f}")
    if args.trace:
        metrics = dict(res["layer"])
        metrics["host.spin_ms"] = (max(spin_before, spin_after), "ms")
        metrics["host.steal_frac"] = (steal, "fraction")
        metrics["trace.pass_s"] = (res["wall_s"], "s")
    else:
        metrics = res["e2e"]
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
