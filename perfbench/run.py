"""Benchmark CLI: one workload, one seed, one run.

    python3 perfbench/run.py --workload crawl_pages --seed 1 --seconds 10 \
        --trace 0

Run from the root of a checkout.  Workloads (see perfbench/README.md):

* ``crawl_pages`` — seeded pages through the full KG pipeline
  (``scripts/run_pipeline.py --alias`` call for call) to the three
  written tables, closed loop: one pass at a time.
* ``operator_suite`` — 6 of ``bench.BENCH_QUERIES`` (one or two per
  operators layer) over pinned sf-style tables, closed loop; the seed
  permutes query order.

Both run at ``local[<cores>]`` from this one Python process.  With
``--trace 0`` the last stdout line is the end-to-end result; with
``--trace 1`` it carries the per-layer metrics of one traced pass.
Earlier stdout lines are a human-readable record: environment stamp,
input properties, every pass, the output checks.  Exit code 2 means the
benchmark could not run (e.g. no ``jerex_spark/`` beside ``perfbench/``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("crawl_pages", "operator_suite")
END_TO_END = {"docs_per_s": "1/s", "pass_s": "s", "setup_s": "s",
              "peak_py_pss_mb": "MB"}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


class PssSampler(threading.Thread):
    """Peak summed PSS of this process and every descendant, sampled from
    /proc, with and without the Spark JVM.  PSS splits each shared page
    between the processes mapping it, so the forked Python workers do not
    count their parent's pages again.  The JVM's share is set mostly by
    G1 sizing its heap within the fixed 3 GB: with it, the peak moved
    between 1.9 and 2.5 GB across identical suite runs.  So the reported
    metric is the Python side (this process, the pyspark daemon and its
    workers), and the whole tree's peak is only logged."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period, self.peak_py, self.peak_all = period, 0, 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0

    @classmethod
    def _tree_pss(cls) -> tuple[int, int]:
        """(PSS of the tree without the JVM, PSS of the whole tree)."""
        kids: dict[int, list[int]] = {}
        comm: dict[int, str] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    head, tail = f.read().rsplit(")", 1)
            except OSError:
                continue
            comm[int(d)] = head.split("(", 1)[1]
            kids.setdefault(int(tail.split()[1]), []).append(int(d))
        py = total = 0
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            pss = cls._pss(pid)
            total += pss
            py += 0 if comm.get(pid) == "java" else pss
            todo.extend(kids.get(pid, []))
        return py, total

    def run(self):
        while not self._stop_evt.is_set():
            py, total = self._tree_pss()
            self.peak_py = max(self.peak_py, py)
            self.peak_all = max(self.peak_all, total)
            self._stop_evt.wait(self.period)

    def stop(self) -> tuple[float, float]:
        """(Python-side peak, whole-tree peak) in MiB."""
        self._stop_evt.set()
        self.join()
        return self.peak_py / 2**20, self.peak_all / 2**20


def env_stamp() -> dict:
    import pyspark
    commit = "none"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, timeout=10).stdout.strip() or "none"
        except (OSError, subprocess.TimeoutExpired):
            pass
    h = hashlib.sha1()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "jerex_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import host_canary
    # one single-core bandwidth pass: the canary's cheapest reading,
    # recorded to make slow host windows visible, never gated on
    return {"nproc": _cores(), "pyspark": pyspark.__version__,
            "git_commit": commit, "source_sha1": h.hexdigest()[:12],
            "canary_single_gbps": round(host_canary._bw_pass(), 2)}


def _stop_jvm() -> None:
    """End the JVM pyspark launched (it exits on stdin EOF) and
    wait for it, so the run leaves no process behind."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None or proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None


def _median_hi(xs: list[float]) -> tuple[float, float]:
    return statistics.median(xs), max(xs)


def _cpu_ticks() -> tuple[int, int]:
    """(busy, steal) CPU ticks of this machine since boot, from
    /proc/stat.  Steal is time a CPU of this VM had work to run but the
    hypervisor ran another guest."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


class HostClock:
    """Times an interval and reads how much of the runnable CPU time the
    host stole during it.  On a shared VM the steal share moves between
    minutes from ~1% to ~25% and stretches a pass's wall with it, so the
    reported times are walls scaled by the unstolen share: the wall the
    same work takes on CPUs it has to itself.  The log keeps the raw
    walls beside them."""

    def __init__(self):
        self.t0, self.ticks0 = time.perf_counter(), _cpu_ticks()

    def stop(self) -> tuple[float, float]:
        """(raw wall, steal share of busy + stolen ticks)."""
        wall = time.perf_counter() - self.t0
        (b0, s0), (b1, s1) = self.ticks0, _cpu_ticks()
        ran = (b1 - b0) + (s1 - s0)
        return wall, (s1 - s0) / ran if ran else 0.0


def timed_passes(spark, seconds: float, one_pass, log) -> list[float]:
    """Closed loop of whole passes, each after a settle: at least one, and
    another only while the median pass so far still ends within
    ``seconds``.  Passes are never cut short.  ``one_pass(i)`` returns
    the pass's measured time; the result is those times scaled by each
    pass's unstolen share."""
    import workloads as W
    raw: list[float] = []
    adjusted: list[float] = []
    while not raw or sum(raw) + statistics.median(raw) <= seconds:
        W.settle(spark)
        clock = HostClock()
        t = one_pass(len(raw) + 1)
        _, steal = clock.stop()
        raw.append(t)
        adjusted.append(t * (1 - steal))
        log(f"pass {len(raw)}: {t:.3f} s, host steal {steal:.1%}, "
            f"adjusted {adjusted[-1]:.3f} s")
    return adjusted


def setup_s(clock: HostClock, log) -> float:
    wall, steal = clock.stop()
    log(f"setup {wall:.3f} s, host steal {steal:.1%}, adjusted "
        f"{wall * (1 - steal):.3f} s")
    return wall * (1 - steal)


# --- crawl_pages -----------------------------------------------------------

def run_crawl(args, in_dir, props, log) -> dict:
    import checks
    import workloads as W
    out = os.path.join(WORK, "out")
    clock = HostClock()
    spark = W.build(f"local[{_cores()}]", WORK)
    try:
        W.pipeline_pass(spark, in_dir, out)      # cold pass = warm-up
        setup = setup_s(clock, log)
        digests = [checks.table_digest(out)]

        def one_pass(i: int) -> float:
            t = time.perf_counter()
            W.pipeline_pass(spark, in_dir, out)
            wall = time.perf_counter() - t
            digests.append(checks.table_digest(out))
            log(f"pass {i} digest {digests[-1][:12]}")
            return wall
        passes = timed_passes(spark, args.seconds, one_pass, log)
        parity = checks.extraction_parity(spark, in_dir, ROOT, args.seed)
    finally:
        spark.stop()
    attempted, failed = checks.crawl_verdict(digests, parity, log)
    med, hi = _median_hi(passes)
    log(f"pipeline_s median {med:.3f} s, max {hi:.3f} s over "
        f"{len(passes)} passes")
    return {"attempted": attempted, "failed": failed,
            "metrics": {"docs_per_s": props["docs"] / med, "pass_s": med,
                        "setup_s": setup}}


# --- operator_suite --------------------------------------------------------

def _suite_log(res: dict, log, i: int) -> float:
    wall = sum(c + a for c, a, _ in res.values())
    log(f"pass {i} queries " + json.dumps(
        {n: round(c + a, 3) for n, (c, a, _) in res.items()}))
    return wall


def run_suite(args, sf_dir, props, log) -> dict:
    import checks
    import workloads as W
    order = W.suite_order(args.seed)
    clock = HostClock()
    spark = W.build(f"local[{_cores()}]", WORK)
    try:
        warm = W.suite_pass(spark, sf_dir, order)   # cold pass = warm-up
        setup = setup_s(clock, log)
        results = []

        def one_pass(i: int) -> float:
            results.append(W.suite_pass(spark, sf_dir, order))
            return _suite_log(results[-1], log, i)
        walls = timed_passes(spark, args.seconds, one_pass, log)
    finally:
        spark.stop()
    attempted, failed = checks.suite_rows(warm, results, sf_dir, log)
    med, hi = _median_hi(walls)
    log(f"suite_s median {med:.3f} s, max {hi:.3f} s over "
        f"{len(walls)} passes")
    return {"attempted": attempted, "failed": failed,
            "metrics": {"docs_per_s": props["docs"] / med, "pass_s": med,
                        "setup_s": setup}}


# --- main ------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=lambda v: int(v) % 2**32, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "jerex_spark", "extract.py")):
        print(f"perfbench: no jerex_spark/ package under {ROOT}; run from "
              "the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # keep every temp file (py4j handshake, Spark local dirs, JVM perf
    # data) inside the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    def log(msg: str) -> None:
        print(f"[{args.workload} seed={args.seed}] {msg}", flush=True)

    import gen
    stamp = env_stamp()
    log("env " + json.dumps(stamp))
    in_dir, props = gen.generate(
        args.workload, args.seed, os.path.join(WORK, "inputs"))
    log("input " + json.dumps(props))

    mem = PssSampler()
    mem.start()
    try:
        if args.trace:
            import tracing
            run = (tracing.trace_crawl if args.workload == "crawl_pages"
                   else tracing.trace_suite)
            res = run(args, in_dir, props, log, WORK, ROOT)
        else:
            run = (run_crawl if args.workload == "crawl_pages"
                   else run_suite)
            res = run(args, in_dir, props, log)
    finally:
        _stop_jvm()
        peak_py, peak_all = mem.stop()
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    log(f"peak PSS {peak_py:.0f} MB without the JVM, {peak_all:.0f} MB "
        "with it")
    metrics = res["metrics"]
    if not args.trace:
        metrics["peak_py_pss_mb"] = peak_py
        units = END_TO_END
    else:
        from tracing import PER_LAYER
        units = PER_LAYER
    failed_frac = res["failed"] / res["attempted"]
    log(f"failed_frac {failed_frac:.4f} ({res['failed']}/"
        f"{res['attempted']})  verdict "
        f"{'CORRECT' if res['failed'] == 0 else 'WRONG OUTPUT'}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                    for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
