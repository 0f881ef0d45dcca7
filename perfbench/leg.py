"""One measured leg: a fresh JVM at ``local[cores]``.

Usage: ``python3 perfbench/leg.py <spec.json>``. ``run.py`` writes the
spec (workload, input files, cores, tracing) and starts the leg; the leg
is not meant to be run by hand. It sets up (``set_up``) and reports
ready on the reply pipe. It then takes one command per line on stdin and
answers each on the reply pipe:

* ``pass``: one timed pass, ``extract()`` over the base corpus into a
  one-row digest (``Leg.digest``), which consumes every row as the noop
  sink does and also checks it. The parent alternates passes between
  the legs, so that every leg is measured under the same host state.
* ``finish``: the untimed rest, then the result JSON in ``spec["out"]``
  and exit. The full leg first times REFRESH_REPS refreshes, each
  ``extract_checkpointed`` over base + slice on a fresh copy of the
  checkpoint root that holds only the base. A traced leg runs its ladder
  of rungs.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20
# timed refreshes of the full leg; refresh_s is the fastest, since host
# interference only ever slows a refresh down (and the first one also
# compiles the refresh's own code)
REFRESH_REPS = 3


def tree(root: int) -> list[int]:
    """``root`` and every live descendant, from /proc/<pid>/stat."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return total * PAGE_MB


class RssSampler(threading.Thread):
    """Peak RSS of this leg's process tree (driver, JVM, Python workers),
    sampled at 10 Hz."""

    def __init__(self):
        super().__init__(daemon=True)
        self.pid, self.peak, self.stop = os.getpid(), 0.0, threading.Event()

    def run(self) -> None:
        while not self.stop.wait(0.1):
            self.peak = max(self.peak, rss_mb(tree(self.pid)))


def proc_stat() -> tuple[float, float]:
    """(busy, steal) CPU seconds since boot, summed over every CPU."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    tck = os.sysconf("SC_CLK_TCK")
    idle = vals[3] + vals[4]
    steal = vals[7] if len(vals) > 7 else 0
    return (sum(vals[:8]) - idle - steal) / tck, steal / tck


class Leg:
    def __init__(self, spec: dict):
        from pyspark.sql import functions as F

        from dxnn_ocr_cpp_spark.config import DEFAULT_CONFIG
        from dxnn_ocr_cpp_spark.schemas import DOCUMENTS
        from dxnn_ocr_cpp_spark.session import build_session

        self.F, self.cfg = F, DEFAULT_CONFIG
        self.cores, self.n_docs = spec["cores"], spec["n_docs"]
        work = spec["work"]
        # JVM scratch stays in the checkout, and a leg that set up on
        # more cores than it is measured on sizes its GC threads for the
        # cores of its window. These go in defaultJavaOptions, which
        # Spark puts ahead of build_session's extraJavaOptions, so the
        # engine's own JVM and GC settings apply unchanged.
        java = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
        if spec["gc_threads"]:
            java += f" -XX:ParallelGCThreads={spec['gc_threads']}"
        conf = {
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.defaultJavaOptions": java,
        }
        if spec["trace"]:
            os.makedirs(f"{work}/events", exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = f"{work}/events"
            conf["spark.eventLog.compress"] = "false"
        self.spark = build_session(app=f"perfbench-{spec['workload']}",
                                   master=f"local[{self.cores}]",
                                   extra_conf=conf)
        self.read = lambda *p: self.spark.read.schema(DOCUMENTS).parquet(*p)
        self.base = self.read(spec["base"])
        self.slice = self.read(spec["slice"])
        self.oversized = self.read(spec["oversized"])
        self.root = f"{work}/ckpt-{spec['leg']}"
        self.base_root = f"{self.root}-base"  # the base-only checkpoint

    def group(self, name: str) -> None:
        """Tag the following jobs, so the event log can be split by phase."""
        self.spark.sparkContext.setJobGroup(name, name)

    @staticmethod
    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def digest(self, df) -> dict:
        """One-row byte-identity digest of an (url, text) output.
        bit_xor composes: digests of disjoint inputs XOR to the digest of
        their union."""
        F = self.F
        cols = [F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(url, text))").alias("h")]
        if "n_candidates" in df.columns:
            cols.append(F.sum("n_candidates").alias("cand"))
        return df.agg(*cols).collect()[0].asDict()

    def one_pass(self) -> dict:
        from dxnn_ocr_cpp_spark.pipeline import extract
        return self.digest(extract(self.base))

    def restore(self) -> None:
        """Resets the checkpoint root to the base-only one."""
        shutil.rmtree(self.root)
        shutil.copytree(self.base_root, self.root)

    def refresh(self) -> float:
        """Times the incremental call over base + slice on a copy of the
        base-only checkpoint built during set-up."""
        from dxnn_ocr_cpp_spark.pipeline import extract_checkpointed

        self.restore()
        t = time.perf_counter()
        extract_checkpointed(self.spark, self.base.unionByName(self.slice), self.root)
        return time.perf_counter() - t


def pin(cpus: str) -> None:
    """Applies ``cpus`` to every thread of this leg's process tree (the
    driver, its JVM, the Python daemon and workers); processes started
    later inherit it."""
    for pid in tree(os.getpid()):
        subprocess.run(["taskset", "-a", "-p", "-c", cpus, str(pid)],
                       check=False, capture_output=True)


def set_up(leg: Leg, spec: dict) -> dict:
    """A warm pass on every core (it starts the Python workers and
    compiles the plan's code, and the JIT compiles on idle cores); then,
    for the full and the traced leg, the base-only checkpoint their
    refreshes start from, and for a leg measured on fewer cores, a warm
    pass pinned to them: on one core, JIT compilation left over from the
    unpinned pass competes with the passes, so it is better done before
    the window. The two take about as long, so the legs are ready
    together."""
    from dxnn_ocr_cpp_spark.pipeline import extract_checkpointed

    leg.group("warm")
    t = time.perf_counter()
    leg.one_pass()
    phases = {"warm_pass_s": time.perf_counter() - t}
    if spec["leg"] != "quarter":
        t = time.perf_counter()
        out, _ = extract_checkpointed(leg.spark, leg.base, leg.root)
        phases["checkpoint_s"] = time.perf_counter() - t
        phases["checkpoint_base"] = leg.digest(out)
        shutil.copytree(leg.root, leg.base_root)
    if spec["pin"]:
        pin(spec["pin"])
        t = time.perf_counter()
        leg.one_pass()
        phases["pinned_warm_pass_s"] = time.perf_counter() - t
    return phases


class Window:
    """The leg's timed passes, with the host's busy and steal CPU seconds
    read over each of them from /proc/stat."""

    def __init__(self, leg: Leg):
        self.leg = leg
        self.passes, self.digests, self.busy, self.steal = [], [], [], []

    def one(self) -> None:
        b0, s0 = proc_stat()
        t = time.perf_counter()
        self.digests.append(self.leg.one_pass())
        self.passes.append(time.perf_counter() - t)
        b1, s1 = proc_stat()
        self.busy.append(b1 - b0)
        self.steal.append(s1 - s0)

    def result(self, fastest: bool) -> dict:
        """``fastest``: docs_per_s from the fastest pass, else from the
        median one."""
        wall = sum(self.passes)
        pick = min if fastest else statistics.median
        return {
            "passes_s": self.passes, "digests": self.digests,
            "pass_steal": [s / (p * self.leg.cores)
                           for s, p in zip(self.steal, self.passes)],
            "docs_per_s": self.leg.n_docs / pick(self.passes),
            "cores_used": sum(self.busy) / wall,
            "steal_frac": sum(self.steal) / (wall * self.leg.cores),
            "affinity": sorted(os.sched_getaffinity(0)),
        }


def verify(leg: Leg, spec: dict) -> dict:
    """Untimed: the digest of extract() over the slice, the refreshed
    checkpoint's digest, and the Spark rows of the oracle sample: the
    sampled base and slice docs from the refreshed checkpoint (which the
    caller checks equals extract() over the same docs), and the
    oversized page from extract()."""
    from dxnn_ocr_cpp_spark.pipeline import extract

    F = leg.F
    leg.group("verify")
    refreshed = leg.spark.read.parquet(f"{leg.root}/extracted/data")
    rows = refreshed.where(F.col("url").isin(spec["sample_urls"])).collect() \
        + extract(leg.oversized).collect()
    return {
        "slice": leg.digest(extract(leg.slice)),
        "refreshed": leg.digest(refreshed),
        "sample": {r["url"]: r["text"] for r in rows},
    }


def main() -> int:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    reply = os.fdopen(spec["reply_fd"], "w", buffering=1)
    t0 = time.perf_counter()
    leg = Leg(spec)
    res: dict = {"cores": leg.cores, "session_s": time.perf_counter() - t0}
    rss = RssSampler()
    try:
        res.update(set_up(leg, spec))
        res["setup_s"] = time.perf_counter() - t0
        reply.write("ready\n")
        window = Window(leg)
        leg.group("e2e")
        if spec["leg"] == "full":
            rss.start()
        for line in sys.stdin:
            if line.strip() != "pass":
                break
            window.one()
            reply.write("done\n")
        rss.stop.set()
        res.update(window.result(spec["fastest"]), peak_rss_mb=rss.peak)
        if spec["leg"] == "full":
            leg.group("refresh")
            res["refreshes_s"] = [leg.refresh() for _ in range(REFRESH_REPS)]
            res["refresh_s"] = min(res["refreshes_s"])
            res["verify"] = verify(leg, spec)
        if spec["trace"]:
            from perfbench import tracing
            res["trace"] = tracing.spark_ladder(leg, spec)
    finally:
        leg.spark.stop()
    if spec["trace"]:
        from perfbench import tracing
        res["trace"]["spark"] = tracing.event_log(f"{spec['work']}/events")
    with open(spec["out"], "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
