"""Layer-attributed benchmark of the sparrow_ipc_spark codec engine.

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 20 --trace 0

Runs one workload (see ``workloads.py``) in a closed loop on a
``local[nproc]`` session for ``--seconds`` seconds, checks every op's
output, and prints human-readable lines followed by ONE final JSON line
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the loop with alternate cycles
traced and reports the per-layer metrics, the per-op breakdown
(wall = layer self time - overlap + unaccounted) and the tracing overhead.

Everything it writes goes under ``.perfbench_work/`` in the directory it is
run from, which it removes on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

try:
    import pyspark  # noqa: F401

    import sparrow_ipc_spark  # noqa: F401
    from perfbench import eventlog, layers, probes, workloads
    from perfbench.stats import run_value, summarize
    from perfbench.trace import Patcher, Tracer
except ImportError as e:  # reported by main(): the checkout lacks the engine
    IMPORT_ERROR: ImportError | None = e
else:
    IMPORT_ERROR = None

# end-to-end metric -> (unit, how the run's value is taken from its samples;
# see stats.run_value)
E2E = {
    "setup_s": ("s", "median"),
    "rss_mb": ("MB", "mean"),
    "write_ms": ("ms", "mean"),
    "write_turns_per_s": ("1/s", "rate"),
    "lookup_ms": ("ms", "mean"),
    "scan_turns_per_s": ("1/s", "rate"),
    "verify_turns_per_s": ("1/s", "rate"),
    "bytes_per_turn": ("B", "mean"),
}
SETUP_REPS = 5
DRIVER_MEM = "1g"


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class RssSampler(threading.Thread):
    """Summed RSS of this process and all its descendants (driver Python,
    the JVM, Spark's Python workers), sampled from /proc.  Keeps the peak
    of the whole run and every sample taken while ``recording``."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.recording = False
        self.recorded: list[int] = []
        self._stop_ev = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def run(self) -> None:
        while not self._stop_ev.wait(self.interval):
            rss = self.sample()
            self.peak = max(self.peak, rss)
            if self.recording:
                self.recorded.append(rss)

    def sample(self) -> int:
        total = 0
        for pid in [os.getpid()] + descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                pass
        return total

    def stop(self) -> None:
        self._stop_ev.set()
        self.join(timeout=5)


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def commit_id() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def configure_env(work: str, trace: bool) -> str | None:
    """Keep every file Spark and its workers write under ``work``."""
    tmp, local = f"{work}/tmp", f"{work}/spark-local"
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # every JVM (the launcher's too): temp files under work, and no
    # hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # the driver heap committed at its full size from the start, so the
    # process tree's RSS does not swing with when the JVM grows its heap
    args = ["--conf", f"spark.sql.warehouse.dir={work}/warehouse",
            "--conf", f"spark.driver.extraJavaOptions=-Xms{DRIVER_MEM}"]
    log_dir = None
    if trace:
        log_dir = f"{work}/eventlog"
        os.makedirs(log_dir)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        shlex.quote(a) for a in args + ["pyspark-shell"])
    return log_dir


def start_session():
    from sparrow_ipc_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{nproc()}]",
                      shuffle_partitions=workloads.SHUFFLE_PARTITIONS,
                      arrow_batch_rows=workloads.ARROW_BATCH_ROWS)
    spark.sparkContext.setLogLevel("ERROR")
    # scan splits fixed in bytes and count, independent of the core count
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(workloads.SCAN_SPLIT_BYTES))
    spark.conf.set("spark.sql.files.minPartitionNum", str(workloads.N_PARTS))
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and every process it started, and wait."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.time() + 15
        for pid in procs:
            while alive(pid) and time.time() < deadline:
                try:
                    os.kill(pid, signal.SIGTERM)
                except OSError:
                    break
                time.sleep(0.1)
            if alive(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass


class Loop:
    """Closed loop over a workload's cycles, counting every op attempted
    and failed (an op fails when it raises or its own check fails)."""

    def __init__(self, tracer, trace: bool) -> None:
        self.tracer, self.trace = tracer, trace
        self.attempted = self.failed = 0
        self.recs, self.traced_ops, self.untraced = [], [], {}
        self.cycles = self.traced_cycles = 0

    def run_op(self, opname: str, fn, traced: bool):
        self.attempted += 1
        root = None
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.op(opname) as root:
                    res = fn()
            else:
                res = fn()
            ok = bool(res.get("ok"))
        except Exception:  # noqa: BLE001 — an op failure is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            res, ok = {}, False
        wall = time.perf_counter() - t0
        if not ok:
            self.failed += 1
            print(f"FAILED op {opname}", file=sys.stderr)
        return ok, wall, res, root

    def warm_up(self, wl) -> None:
        """One untimed cycle and the workload's extra warm-up ops: they pay
        the one-time costs of a fresh JVM — code generation, Python worker
        imports, the Data Source planner — and the first of the JIT's."""
        wl.begin_cycle(-1)
        for opname, fn in wl.cycle(-1) + wl.warm_extra():
            self.run_op(opname, fn, False)

    def measure(self, wl, seconds: float) -> None:
        """Cycles until ``seconds`` have passed; the first cycle — the first
        two when tracing — always completes.  When tracing, odd cycles are
        traced and even ones give the untraced baseline."""
        min_cycles = 2 if self.trace else 1
        deadline = time.perf_counter() + seconds
        c = 0
        while c < min_cycles or time.perf_counter() < deadline:
            wl.begin_cycle(c)
            traced = self.trace and c % 2 == 1
            self.tracer.active = traced
            self.traced_cycles += traced
            for opname, fn in wl.cycle(c):
                if c >= min_cycles and time.perf_counter() >= deadline:
                    break
                ok, wall, res, root = self.run_op(opname, fn, traced)
                if not ok:
                    continue
                self.recs.append((c, opname, wall, res))
                if traced:
                    zone = None
                    if "key" in res:
                        zone = workloads.zone_stats(res["table"], res["key"])
                    self.traced_ops.append((opname, root, res, zone))
                elif self.trace:
                    self.untraced.setdefault(opname, []).append(wall)
            c += 1
        self.tracer.active = False
        self.cycles = c


def run(args, work: str) -> dict:
    """One run: session, set-up, warm-up, the timed (or traced) loop and
    the report.  Returns the final result object."""
    trace = bool(args.trace)
    meta = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": nproc(), "loadavg_start": os.getloadavg(),
            "commit": commit_id(), "input_cache_hit": False,
            "driver_mem": DRIVER_MEM}
    log_dir = configure_env(work, trace)
    tracer = Tracer()
    loop = Loop(tracer, trace)
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session()
        meta["session_start_s"] = time.perf_counter() - t0
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer)
        setups = []
        for _ in range(1 if trace else SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.prepare()
        meta["prepare_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        loop.warm_up(wl)
        meta["warm_up_s"] = time.perf_counter() - t0
        patcher = Patcher(tracer)
        if trace:
            layers.install(patcher)
        rss.recording = True
        try:
            loop.measure(wl, args.seconds)
        finally:
            rss.recording = False
            patcher.restore()
        probe = probes.codec_probe(wl.probe_batch()) if trace else None
    finally:
        if spark is not None:
            t0 = time.perf_counter()
            stop_session(spark)
            meta["stop_s"] = time.perf_counter() - t0
        rss.stop()
    meta["loadavg_end"] = os.getloadavg()
    meta["cycles"] = loop.cycles
    meta["peak_rss_mb"] = rss.peak / 2**20

    samples = wl.metrics(loop.recs)
    samples["setup_s"] = setups
    # the working set while timed: the run's peak swings with GC timing
    samples["rss_mb"] = [b / 2**20 for b in rss.recorded]
    missing = sorted(k for k in E2E if not samples.get(k))
    correct = loop.failed == 0 and not missing
    if missing:
        print(f"perfbench: no samples for {missing}", file=sys.stderr)
    summary = {k: summarize(samples[k]) for k in E2E if samples.get(k)}
    values = {k: run_value(samples[k], E2E[k][1]) for k in summary}
    print("meta " + json.dumps(meta))
    for k, s in summary.items():
        tail = "".join(f" {q}={v:.6g}" for q, v in s.items() if q.startswith("p"))
        unit, how = E2E[k]
        print(f"{k:<22} {values[k]:>14.6g} {unit:<4} ({how}) median={s['median']:.6g} "
              f"q1={s['q1']:.6g} q3={s['q3']:.6g} n={s['n']}{tail}")
    for opname in dict.fromkeys(op for _, op, _, _ in loop.recs):
        walls = [w for _, op, w, _ in loop.recs if op == opname]
        print(f"op {opname} walls_s " + " ".join(f"{w:.3f}" for w in walls))
    print(f"ops attempted={loop.attempted} failed={loop.failed} correct={correct}")

    if trace:
        per_layer, breakdown = layers.compute(
            tracer.spans, loop.traced_ops, eventlog.parse(log_dir),
            loop.traced_cycles, probe["metrics"], loop.untraced)
        print_trace(loop, probe, per_layer, breakdown)
        metrics = {k: {"value": per_layer[k], "unit": layers.unit_of(k)}
                   for k in layers.NAMES}
    else:
        metrics = {k: {"value": values[k], "unit": E2E[k][0]} for k in values}
    return {"correct": correct, "attempted": loop.attempted, "failed": loop.failed,
            "metrics": metrics}


def print_trace(loop, probe, per_layer, breakdown) -> None:
    print("codec winners: " + json.dumps(probe["winners"]))
    print(f"traced cycles={loop.traced_cycles} of {loop.cycles}")
    for op, b in breakdown.items():
        parts = " + ".join(f"{k} {v:.3f}" for k, v in b["layers"].items())
        un = b["untraced_median"]
        print(f"op {op}: n={b['n']} wall {b['wall']:.3f} s = [{parts}] "
              f"- overlap {b['overlap']:.3f} + unaccounted {b['unaccounted']:.3f}"
              f"; spark jobs/op {b['jobs']:.1f}"
              + (f"; untraced median {un:.3f} s" if un else ""))
    for k in layers.NAMES:
        print(f"{k:<46} {per_layer[k]:>14.6g} {layers.unit_of(k)}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if IMPORT_ERROR is not None:
        print(f"perfbench: cannot import the engine from {ROOT}: {IMPORT_ERROR}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
