#!/usr/bin/env python3
"""Link-graph benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload rmat_small --seed 1 --seconds 8 --trace 0

Closed loop: one driver thread issues the workload's calls in sequence
on a ``local[nproc,4]`` session. Inputs and their oracle results are made
from the seed alone and cached under ``perfbench/.work/``. Each run:

1. starts the session and warms the Python workers (timed);
2. generates the inputs if this seed has none yet (untimed);
3. builds the graph three times, releasing it in between (timed; the
   median counts);
4. makes one untimed warm call per algorithm call;
5. repeats the timed calls for ``--seconds`` (at least once each),
   checking every result against its oracle outside the timed wall and
   releasing it before the next call;
6. stops Spark, ends its JVM and waits for every process it started.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on
Spark's event log and prints the per-layer metrics instead. The last
line of stdout is ``{"correct", "attempted", "failed", "metrics"}``; the
exit code is 0 only when every output matched its oracle.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import statistics
import sys
import time
import uuid

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
# a Unix socket path must stay under ~107 bytes; Spark appends ~45
UDS_MAX_DIR = 60
# per-call layer metrics of a traced run, with their units
CALL_LAYER = (
    ("wall_s", "s"), ("driver_s", "s"), ("coverage", "fraction"),
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("busy_ratio", "fraction"),
    ("skew", "ratio"), ("max_task_s", "s"), ("python_share", "fraction"),
    ("python_sent_mb", "MiB"), ("python_returned_mb", "MiB"),
    ("shuffle_read_mb", "MiB"), ("shuffle_write_mb", "MiB"), ("spill_mb", "MiB"),
    ("gc_share", "fraction"), ("cold_s", "s"),
)
KERNEL_MAX_JOBS = 8
PR_SET_CHILD_SUBREAPER = 36
# seconds the JVM and its Python workers get to exit before they are killed
EXIT_GRACE_S = 20.0
PHASES = ("session.start", "session.worker_warm", "inputs", "sources.derive", "graph.build")


def host_settings() -> dict:
    """Session settings fitted to the host, identical for every run on
    it: all cores (at most 8), one shuffle partition per core, a driver
    heap of a third of MemAvailable clamped to 2-4 GiB."""
    nproc = min(len(os.sched_getaffinity(0)), 8)
    avail_gb = 6
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                avail_gb = int(line.split()[1]) // (1024 * 1024)
    heap = max(2, min(4, avail_gb // 3))
    return {"nproc": nproc, "master": f"local[{nproc},4]",
            "shuffle_partitions": nproc, "driver_memory": f"{heap}g",
            "blas_threads": 1}


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and pin
    numerical libraries to one thread (Spark supplies the parallelism)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def _uds_dir(work: str) -> str:
    path = os.path.join(work, "uds")
    if len(path) > UDS_MAX_DIR:
        path = os.path.relpath(path)
    os.makedirs(path, exist_ok=True)
    return path


def host_probe_s() -> float:
    """Wall of a fixed single-thread Python loop: the host's speed at the
    moment, printed with each run so that drift between runs shows."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    return time.perf_counter() - t0


def _descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def worker_peak_rss_mb() -> float:
    """Highest VmHWM among this run's Spark Python worker processes."""
    peak = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"pyspark.daemon" not in fh.read():
                    continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            pass
    return peak / 1024.0


def _release(spark, before: set, result=None) -> None:
    """Drop everything persisted since ``before`` (the call's result and
    any state it cached) and collect the JVM heap, outside any timing."""
    if result is not None and hasattr(result, "unpersist"):
        result.unpersist()
    jsc = spark.sparkContext._jsc
    rdds = jsc.getPersistentRDDs()
    for rid in set(rdds.keys()) - before:
        rdds[rid].unpersist(True)
    spark.sparkContext._jvm.System.gc()


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux),
    so that a Python worker which outlives its JVM is still waited for."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _end_gateway() -> None:
    """End the JVM that PySpark launched (closing its stdin makes it
    exit), wait for it, and forget it so that a later session launches
    a fresh one."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.close()
    except Exception:  # the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(EXIT_GRACE_S)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _reap_descendants() -> None:
    """Wait until no process started by this one is left: after the
    grace period the survivors get SIGTERM, then SIGKILL."""
    deadline = time.time() + EXIT_GRACE_S
    sent = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = _descendants(os.getpid())
        if not left:
            return
        if time.time() >= deadline:
            sent = signal.SIGKILL if sent == signal.SIGTERM else signal.SIGTERM
            for pid in left:
                try:
                    os.kill(pid, sent)
                except OSError:
                    pass
            deadline = time.time() + 5.0
        time.sleep(0.05)


def stop_session(spark) -> None:
    """Stop Spark, end its JVM and wait for every process it started."""
    try:
        spark.stop()
    finally:
        _end_gateway()
        _reap_descendants()


def start_session(app: str, host: dict, work: str, log_dir: str | None):
    """The benchmark's Spark session: the engine's own defaults plus the
    host settings, with every scratch path inside ``work``; ``log_dir``
    turns on Spark's uncompressed event log there. A fresh JVM is
    launched for every session; ``stop_session`` ends it."""
    from ligra_spark import get_spark

    _adopt_orphans()

    conf = {
        "spark.driver.memory": host["driver_memory"],
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.python.unix.domain.socket.dir": _uds_dir(work),
    }
    if log_dir:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    try:
        spark = get_spark(app, master=host["master"],
                          shuffle_partitions=host["shuffle_partitions"], extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
    except BaseException:
        _end_gateway()
        _reap_descendants()
        raise
    return spark


def run(workload: str, seed: int, seconds: float, trace: bool,
        scale: float = 1.0, work: str = WORK) -> dict:
    _prepare_env(work)
    from perfbench import workloads as W
    from perfbench.trace import EventLog, Tracer

    wl = W.workloads(scale)[workload]
    host = host_settings()
    run_id = uuid.uuid4().hex[:12]
    log_dir = os.path.join(work, "eventlog", run_id) if trace else None
    probe = [host_probe_s()]
    t0 = time.time()
    spark = start_session(f"perfbench-{workload}", host, work, log_dir)
    try:
        session_start = time.time() - t0
        sc = spark.sparkContext
        tr = Tracer(sc, run_id)
        tr.record("session.start", t0, t0 + session_start)

        def _warm_kernel(batches):
            import numpy  # noqa: F401
            import pandas  # noqa: F401
            import pyarrow  # noqa: F401

            yield from batches

        n = host["nproc"]
        with tr.span("session.worker_warm") as warm_span:
            spark.range(0, 2 * n, 1, 2 * n).mapInArrow(_warm_kernel, "id long").count()

        with tr.span("inputs"):
            path = W.prepare_inputs(spark, wl, seed, os.path.join(work, "inputs"))
        with open(os.path.join(path, "meta.json")) as fh:
            meta = json.load(fh)
        expect = dict(np.load(os.path.join(path, "oracle.npz")))

        if trace:
            # the derivation alone, into a no-op sink; untraced runs skip
            # this extra pass so that it cannot shift their timings
            with tr.span("sources.derive"):
                W.derived_edges(spark, wl, path).write.format("noop").mode("overwrite").save()

        builds = []
        base = _persisted(spark)
        for i in range(3):
            if builds:
                builds[-1][1].unpersist()
                spark.catalog.clearCache()
                _release(spark, base)
            with tr.span("graph.build", rep=i) as sp:
                g, gn, gm = W.build_graph(spark, wl, path)
            builds.append((sp, g))
        graph_spans = [b[0] for b in builds]
        g = builds[-1][1]
        cached_mb = sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()) / 2**20
        graph_base = _persisted(spark)

        # the built graph's n and m are the first checked output
        attempted = 1
        failures: list[str] = []
        if (gn, gm) != (meta["n"], meta["m"]):
            failures.append(f"graph n, m = {gn}, {gm}; oracle {meta['n']}, {meta['m']}")

        warm_spans = {}
        walls: dict[str, list[float]] = {c.name: [] for c in wl.calls}
        call_spans: dict[str, list] = {c.name: [] for c in wl.calls}
        # per call: one untimed warm call, then timed calls until the
        # call's share of the window is used (at least one); the checks
        # and releases between timed calls count against the share
        share = seconds / len(wl.calls)
        window_start = time.time()
        for call in wl.calls:
            res = None
            try:
                with tr.span(f"{call.name}.warm") as sp:
                    res = call.warm(g)
                    if call.kind != "count":
                        res.count()
                warm_spans[call.name] = sp
            except Exception as exc:  # the call's timed runs would fail too
                attempted += 1
                failures.append(f"{call.name}.warm: {type(exc).__name__}: {exc}")
                continue
            finally:
                _release(spark, graph_base, res)
            until = time.time() + share
            while True:
                attempted += 1
                res = None
                try:
                    with tr.span(call.name) as sp:
                        with tr.span(f"{call.name}.invoke"):
                            res = call.run(g)
                        with tr.span(f"{call.name}.readout"):
                            if call.kind != "count":
                                res.count()
                    jobs, tasks = tr.live_tasks(sp)
                    if tasks == 0:
                        failures.append(f"{call.name}: no stage work ({jobs} jobs)")
                    else:
                        why = W.check(call, W.readout(res, call.kind), expect, meta)
                        if why:
                            failures.append(f"{call.name}: {why}")
                    walls[call.name].append(sp.wall)
                    call_spans[call.name].append(sp)
                except Exception as exc:  # a failed call counts; the run goes on
                    failures.append(f"{call.name}: {type(exc).__name__}: {exc}")
                _release(spark, graph_base, res)
                if time.time() >= until:
                    break
        window = time.time() - window_start

        rss = worker_peak_rss_mb()
        probe.append(host_probe_s())
        med = {c: statistics.median(w) for c, w in walls.items() if w}
        setup = session_start + warm_span.wall + statistics.median(s.wall for s in graph_spans)
    finally:
        stop_session(spark)

    out = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "failures": failures[:10],
        "input": {"workload": workload, "seed": seed, **wl.size,
                  "n": meta["n"], "m": meta["m"], "max_degree": meta["max_degree"]},
        "host": host,
        "host_probe_s": probe,
        "walls": walls,
        "phases": {s.name if "rep" not in s.attrs else f"{s.name}.{s.attrs['rep']}": s.wall
                   for s in tr.spans if s.parent is None and s.name in PHASES},
    }
    out["phases"]["calls"] = window
    if not trace:
        out["metrics"] = {
            "setup_s": {"value": setup, "unit": "s"},
            "algo_s": {"value": sum(med.values()), "unit": "s"},
            "worker_peak_rss_mb": {"value": rss, "unit": "MiB"},
        }
        return out

    ev = EventLog(log_dir)
    cores = host["nproc"]

    def counters(span):
        return ev.reduce({tr.group(s) for s in tr.subtree(span)},
                         (span.start, span.end), cores)

    def median_counters(spans):
        rows = [counters(s) for s in spans]
        return {k: statistics.median(r[k] for r in rows) for k in rows[0]}

    layer = {}
    per_call = {}
    for call in wl.calls:
        spans = call_spans[call.name]
        if not spans:
            continue
        c = median_counters(spans)
        c["cold_s"] = warm_spans[call.name].wall
        c["tier"] = tier_of(c["jobs"], wl.source)
        per_call[call.name] = c
        for k, unit in CALL_LAYER:
            layer[f"{call.name}.{k}"] = (c[k], unit)
    build = median_counters(graph_spans)
    derive = next(s for s in tr.spans if s.name == "sources.derive")
    layer.update({
        "session.start_s": (session_start, "s"),
        "session.worker_warm_s": (warm_span.wall, "s"),
        "sources.derive_s": (derive.wall, "s"),
        "graph.build_s": (build["wall_s"], "s"),
        "graph.build_jobs": (build["jobs"], "count"),
        "graph.build_tasks": (build["tasks"], "count"),
        "graph.shuffle_write_mb": (build["shuffle_write_mb"], "MiB"),
        "graph.cached_mb": (cached_mb, "MiB"),
    })
    out["per_call"] = per_call
    out["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    os.makedirs(os.path.join(work, "traces"), exist_ok=True)
    tr.dump(os.path.join(work, "traces", f"{workload}-s{seed}-{run_id}.json"),
            {"per_call": per_call, "input": out["input"], "host": host})
    return out


def tier_of(jobs: float, source: str) -> str:
    """The execution tier a call took, read from its job count: the
    kernel tiers finish in a handful of jobs, the distributed loop runs
    several jobs per round."""
    if jobs > KERNEL_MAX_JOBS:
        return "distributed"
    return "closed" if source == "transcripts" else "local"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a termination request unwinds through run(), which ends the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    # details first, the contract line last
    detail = {k: v for k, v in out.items() if k not in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(detail))
    print(json.dumps({k: out[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
