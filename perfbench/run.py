"""Benchmark of the recommender pipeline: two seeded workloads, timed end to
end (``--trace 0``) or layer by layer (``--trace 1``).

    python3 perfbench/run.py --workload build_serve --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed`` and
cached under ``perfbench/_cache``; scratch output goes to
``perfbench/_work`` and is removed at exit. The load is one driver process,
one client in a closed loop (each operation waits for the previous one to
finish), on ``local[N]`` with N = min(2, cores).

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones listed in ``BENCHMARK.json``; with
``--trace 1`` they are the per-layer ones, and the per-layer span table and
the tracing overhead are printed above it. Lines above the last one
starting with ``#`` carry each workload's named metrics, output checks and
the run's CPU contention (hypervisor steal, CPU pressure).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_ROUNDS = 3
# a run that has not ended by then stops everything it started and exits
# with code 3 and no result line
DEADLINE_S = 160
STOP_GRACE_S = 8
PR_SET_CHILD_SUBREAPER = 36

# layer extras summed over operations; the others report their median
SUM_KEYS = {"bytes_written", "files_written", "candidates", "results", "verified",
            "input_bytes"}


# ------------------------------------------------------------------ procfs

def _cpu_times():
    """(steal jiffies, total jiffies) from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f[:8])
    except (OSError, ValueError, IndexError):
        return None


def _psi_some_us():
    """CPU pressure 'some' total (µs), or None where PSI is unavailable."""
    try:
        with open("/proc/pressure/cpu") as fh:
            for line in fh:
                if line.startswith("some"):
                    return int(line.split("total=")[1])
    except (OSError, ValueError, IndexError):
        return None
    return None


class Contention:
    """Steal and CPU-pressure deltas over the run. A run with more than 1%
    of the machine stolen by the hypervisor is flagged noisy (the steal gate
    of the repo's sweep harness); CPU pressure is reported only, since the
    benchmark's own threads oversubscribe the cores and raise it too."""

    def __init__(self):
        self.t0, self.cpu0, self.psi0 = time.perf_counter(), _cpu_times(), _psi_some_us()

    def report(self) -> dict:
        wall = time.perf_counter() - self.t0
        cpu1, psi1 = _cpu_times(), _psi_some_us()
        out = {"wall_s": round(wall, 3), "steal_frac": None, "cpu_pressure_frac": None}
        if self.cpu0 and cpu1 and cpu1[1] > self.cpu0[1]:
            out["steal_frac"] = (cpu1[0] - self.cpu0[0]) / (cpu1[1] - self.cpu0[1])
        if self.psi0 is not None and psi1 is not None and wall > 0:
            out["cpu_pressure_frac"] = (psi1 - self.psi0) / 1e6 / wall
        out["noisy"] = bool((out["steal_frac"] or 0) > 0.01)
        return out


def _children():
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


class PeakRss:
    """VmHWM (peak resident set) of this process and every process it
    started. ``sample`` must run before a Spark session stops, since its
    Python workers end with it; the result keeps each process's highest
    reading and sums over processes."""

    def __init__(self):
        self.kb: dict = {}

    def sample(self) -> None:
        for p in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{p}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            self.kb[p] = max(kb, self.kb.get(p, 0))
            except OSError:
                pass

    def mb(self) -> float:
        return sum(self.kb.values()) / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Stop(BaseException):
    """Raised in the main thread by a termination signal or the deadline."""


def guard_processes() -> None:
    """Make every process this run starts findable and stoppable: become a
    child subreaper, so a Python worker whose parent ends first is
    re-parented to this process instead of to init, and turn SIGTERM,
    SIGINT, SIGHUP and the run's deadline into ``Stop``, so the clean-up in
    ``main``'s ``finally`` runs on those paths too."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass

    def stop(signum, frame):
        raise Stop(signal.Signals(signum).name)

    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP, signal.SIGALRM):
        signal.signal(s, stop)
    signal.alarm(DEADLINE_S)


def _reap() -> None:
    """Collect the exit status of ended children, orphans adopted as
    subreaper included, so none is left as a zombie."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


# ----------------------------------------------------------------- context

class Ctx:
    def __init__(self, wl, seed, size, cores, work, inputs, tr):
        self.wl, self.seed, self.size, self.cores = wl, seed, size, cores
        self.work, self.inputs, self.tr = work, inputs, tr
        self.spark = None
        self.state: dict = {}
        self.prepared = None
        self.build_s = self.index_bytes = 0.0
        self.extras: dict = {}

    def layer_extra(self, layer: str, **values) -> None:
        """Layer-specific counters; kept for traced operations only."""
        if not self.tr.enabled:
            return
        row = self.extras.setdefault(layer, {})
        for k, v in values.items():
            row.setdefault(k, []).append(v)

    def extra(self, layer: str, key: str) -> float:
        vals = self.extras.get(layer, {}).get(key, [])
        if not vals:
            return 0.0
        return float(sum(vals) if key in SUM_KEYS else statistics.median(vals))


def load_inputs(wl, seed: int, key: str, size: dict) -> dict:
    """Generated inputs, cached per (workload, seed, ``key``); ``key``
    changes with the sizes and the generator's code."""
    import pickle

    cache = os.path.join(HERE, "_cache", f"{wl.name}-{seed}-{key}")
    done = os.path.join(cache, "truth.pickle")
    if os.path.exists(done):
        with open(done, "rb") as fh:
            return pickle.load(fh)
    if os.path.exists(cache):
        shutil.rmtree(cache)
    os.makedirs(cache)
    truth = wl.inputs(cache, seed, size)
    with open(done + ".tmp", "wb") as fh:
        pickle.dump(truth, fh)
    os.replace(done + ".tmp", done)
    return truth


def start_session(cores: int):
    from hybrid_recommendation_system_using_vector_db_spark.session import get_spark
    return get_spark(cpus=cores)


def run_ops(wl, ctx, seconds: float, log) -> tuple[list, list, int]:
    """Closed loop: run operations until the next one would overrun
    ``seconds`` (always at least one). Returns (timed items, per-op wall
    times, failures)."""
    items, walls, failed = [], [], 0
    t_begin = time.perf_counter()
    i = len(ctx.state.get("_ops", []))
    while True:
        ctx.tr.run = f"op-{i}"
        t = time.perf_counter()
        try:
            items += wl.op(ctx, i)
        except Exception as e:          # an operation failure is a result
            failed += 1
            log(f"# operation {i} failed: {type(e).__name__}: {e}")
            traceback.print_exc()
        walls.append(time.perf_counter() - t)
        ctx.state.setdefault("_ops", []).append(walls[-1])
        i += 1
        if time.perf_counter() - t_begin + statistics.mean(walls) > seconds:
            return items, walls, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the smoke run")
    args = ap.parse_args(argv)

    def log(msg):
        print(msg, flush=True)

    sys.path.insert(0, ROOT)
    try:
        import hybrid_recommendation_system_using_vector_db_spark  # noqa: F401
        from perfbench import trace as trace_mod
        from perfbench import workloads
    except ImportError as e:
        print(f"cannot import the package under test from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    guard_processes()
    contention = Contention()
    wl = workloads.WORKLOADS[args.workload]
    size = workloads.SIZES[wl.name][args.scale]
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        key = hashlib.sha1(fh.read() + json.dumps(
            [size, workloads.ZIPF, workloads.EMBED_DIM], sort_keys=True).encode()).hexdigest()
    inputs = load_inputs(wl, args.seed, key[:12], size)

    # two cores: the inputs are small and most time is per-job overhead,
    # so more task slots do not help, and leaving cores free for the JVM's
    # own threads and the driver makes runs less sensitive to CPU steal
    cores = max(1, min(2, os.cpu_count() or 1))
    work = os.path.join(HERE, "_work", f"{wl.name}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # Python workers import the package under test from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]),
        # a 2 GB driver heap instead of the session factory's 8 GB default:
        # the inputs need far less, and a smaller cap keeps the run's
        # memory small on a shared host
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY", "2g"),
        # the serial collector grows the heap by free-space ratio, not by
        # GC-time feedback as G1 does, so peak RSS follows the live data
        # instead of the host's timing (on a 4-core host, G1's peak RSS
        # spread 0.1-0.2 of the median across runs, serial's 0.03)
        "PYSPARK_SUBMIT_ARGS": (f"--driver-java-options \"-Djava.io.tmpdir={tmp} "
                                f"-XX:+UseSerialGC\" pyspark-shell"),
    })
    tr = trace_mod.Tracer(cores)
    ctx = Ctx(wl, args.seed, size, cores, work, inputs, tr)
    attempted = failed = 0
    rss = PeakRss()
    try:
        t = time.perf_counter()
        spark = start_session(cores)
        spark.range(1).count()
        session_start_s = time.perf_counter() - t

        tr.enabled, tr.run = bool(args.trace), "prepare"
        ctx.spark = tr.spark = spark
        ctx.build_s = wl.prepare(ctx)
        t_setup = time.perf_counter()

        # set-up, repeated so its median is steady; a traced run sets up
        # once, with spans
        setups = []
        tr.run = "setup"
        for _ in range(1 if args.trace else SETUP_ROUNDS):
            ctx.state = {}
            rss.sample()
            t = time.perf_counter()
            spark.stop()
            spark = start_session(cores)
            tr.record("session", "get_spark", t, time.perf_counter())
            ctx.spark = tr.spark = spark
            wl.setup(ctx)
            setups.append(time.perf_counter() - t)

        tr.enabled = False
        t_ops = time.perf_counter()
        # where the workload asks for it, a discarded operation pays the
        # session's plan compilation first
        warm, f0 = [], 0
        if wl.WARMUP:
            _, warm, f0 = run_ops(wl, ctx, 0, log)
        if args.trace:
            # an untraced pass, then a traced one; the tracing overhead is
            # the tracer's own time in the traced pass (setting job groups,
            # harvesting counters), since without a warm-up the untraced
            # pass holds the session's first, slowest operation
            _, plain, f1 = run_ops(wl, ctx, args.seconds / 2, log)
            tr.enabled, tr.own_s = True, 0.0
            w0 = time.perf_counter()
            items, traced, f2 = run_ops(wl, ctx, args.seconds / 2, log)
            walls, failed = warm + plain + traced, f0 + f1 + f2
        else:
            items, timed, f1 = run_ops(wl, ctx, args.seconds, log)
            walls, failed = warm + timed, f0 + f1
        attempted += len(walls) + 1     # the operations and the final pass
        try:
            wl.finish(ctx)
        except Exception as e:
            failed += 1
            log(f"# final pass failed: {type(e).__name__}: {e}")
        if args.trace:
            w1, own_s = time.perf_counter(), tr.own_s
            tr.run = "after_trace"
            wl.after_trace(ctx)
        tr.enabled = False

        t_checks = time.perf_counter()
        try:
            checks = wl.checks(ctx)
        except Exception as e:
            checks = [(f"checks raised {type(e).__name__}: {e}", False)]
        attempted += len(checks)
        failed += sum(1 for _, ok in checks if not ok)
        for name, ok in checks:
            log(f"# check {name}: {'ok' if ok else 'FAILED'}")

        rss.sample()
        metrics: dict = {}
        if not args.trace:
            named, items_per_s, op_p50_ms = wl.named(ctx, items)
            metrics = {
                "setup_s": {"value": statistics.median(setups), "unit": "s"},
                "build_s": {"value": ctx.build_s, "unit": "s"},
                "peak_rss_mb": {"value": rss.mb(), "unit": "MB"},
                "items_per_s": {"value": items_per_s, "unit": "1/s"},
                "op_ms.p50": {"value": op_p50_ms, "unit": "ms"},
            }
            for k, (v, unit) in named.items():
                log(f"# metric {k} = {v:.6g} {unit}")
            log(f"# metric failed_frac = {failed / attempted:.6g} ratio")
            log(f"# setup_s rounds: {[round(x, 3) for x in setups]}")
        else:
            metrics = trace_metrics(ctx, tr, spark, session_start_s,
                                    traced, own_s, w0, w1)
            os.makedirs(os.path.join(HERE, "_out"), exist_ok=True)
            spans = os.path.join(HERE, "_out", f"spans-{wl.name}-{args.seed}.json")
            tr.dump(spans)
            log("# " + trace_mod.format_table(
                tr.per_layer(), tr.uncovered_s(w0, w1), w1 - w0).replace("\n", "\n# "))
            log(f"# spans written to {os.path.relpath(spans, ROOT)}")
            log(f"# tracing overhead: {own_s:.3f} s of tracer time in a {w1 - w0:.3f} s "
                f"traced pass ({metrics['trace.overhead_frac']['value']:+.1%}); "
                f"wall {statistics.mean(traced):.3f} s per traced operation vs "
                f"{statistics.mean(plain):.3f} s untraced"
                + ("" if wl.WARMUP else ", the session's first"))
        log("# phases_s " + json.dumps({
            "session_start": round(session_start_s, 2),
            "prepare": round(ctx.build_s, 2), "setup": round(t_ops - t_setup, 2),
            "operations": round(t_checks - t_ops, 2),
            "checks": round(time.perf_counter() - t_checks, 2)}))
        log("# contention " + json.dumps(contention.report()))
    finally:
        stop_everything(work)

    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def trace_metrics(ctx, tr, spark, session_start_s, traced, own_s, w0, w1) -> dict:
    """The per-layer metrics of a traced run."""
    from perfbench.trace import LAYERS

    per = tr.per_layer()
    m: dict = {}

    def put(name, value, unit):
        m[name] = {"value": float(value), "unit": unit}

    for layer in LAYERS:
        r = per[layer]
        put(f"{layer}.self_s", r["self_s"], "s")
        put(f"{layer}.jobs", r["jobs"], "count")
        put(f"{layer}.tasks", r["tasks"], "count")
        put(f"{layer}.utilization", r["utilization"], "ratio")
        put(f"{layer}.shuffle_bytes", r["shuffle_bytes"], "B")
    put("sources.amazon_meta.parse_tasks", per["sources.amazon_meta"]["tasks"], "count")
    results = ctx.extra("operators.similarity", "results")
    put("operators.similarity.candidates_per_result",
        ctx.extra("operators.similarity", "candidates") / results if results else 0.0,
        "count")
    cand = ctx.extra("operators.dedup", "candidates")
    put("operators.dedup.verify_yield",
        ctx.extra("operators.dedup", "verified") / cand if cand else 0.0, "ratio")
    put("operators.dedup.spill_bytes", per["operators.dedup"]["spill_bytes"], "B")
    rounds = sum(ctx.wl.GRAPH_ROUNDS.values()) * len(traced) \
        if hasattr(ctx.wl, "GRAPH_ROUNDS") else 0
    put("operators.graph.jobs_per_round",
        per["operators.graph"]["jobs"] / rounds if rounds else 0.0, "count")
    put("pipeline.bytes_written", ctx.extra("pipeline", "bytes_written"), "B")
    put("pipeline.files_written", ctx.extra("pipeline", "files_written"), "count")
    se = "streaming.events"
    for key, unit in (("start_s", "s"), ("stop_s", "s"), ("add_batch_ms", "ms"),
                      ("wal_commit_ms", "ms"), ("batch_growth", "ratio")):
        put(f"{se}.{key}", ctx.extra(se, key), unit)
    inb = ctx.extra(se, "input_bytes")
    put(f"{se}.bytes_written_per_input_byte",
        per[se]["output_bytes"] / inb if inb else 0.0, "ratio")
    jsc = spark.sparkContext._jsc.sc()
    blocks = sum(i.numCachedPartitions() for i in jsc.getRDDStorageInfo())
    threads = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getThreadMXBean().getThreadCount()
    put("session.start_s", session_start_s, "s")
    put("session.cached_blocks_after", blocks, "count")
    put("session.jvm_threads_after", threads, "count")
    put("trace.overhead_frac", own_s / max(1e-9, (w1 - w0) - own_s), "ratio")
    put("trace.uncovered_s", tr.uncovered_s(w0, w1), "s")
    return m


def stop_everything(work: str) -> None:
    """Stop Spark, its JVM and the Python workers it started; wait for all
    of them to end, then remove the scratch directory.

    The graceful part (stopping the session, then the JVM) gets at most
    ``STOP_GRACE_S``; after it, every process still descending from this
    one, re-parented orphans included, gets SIGTERM and then SIGKILL, until
    none is left."""
    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, signal.SIG_IGN)
    signal.alarm(STOP_GRACE_S)
    try:
        from pyspark import SparkContext
        from pyspark.sql import SparkSession
        s = SparkSession.getActiveSession()
        if s is not None:
            s.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.terminate()
                proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
    except BaseException as e:         # Stop from the alarm included
        print(f"# stop: {type(e).__name__}: {e}", file=sys.stderr)
    finally:
        signal.alarm(0)
    deadline = time.monotonic() + STOP_GRACE_S
    termed: set = set()
    while True:
        _reap()
        pids = [p for p in descendants(os.getpid()) if _alive(p)]
        if not pids:
            break
        hard = time.monotonic() > deadline
        for p in pids:
            if hard or p not in termed:
                try:
                    os.kill(p, signal.SIGKILL if hard else signal.SIGTERM)
                except OSError:
                    pass
                termed.add(p)
        time.sleep(0.1)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Stop as e:
        print(f"stopped by {e} before the run ended; no result", file=sys.stderr)
        sys.exit(3)
