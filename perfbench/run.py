"""Layered extraction benchmark: one workload, one run.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl_mix --seed 0 --seconds 10 --trace 0

Generates the workload's parquet inputs from ``--seed``, then runs each
leg in its own JVM (``leg.py``): the full leg at ``local[4q]`` on cores
0..4q-1 and the quarter leg at ``local[q]``, which pins itself with
taskset to cores 0..q-1 during set-up, where q = max(1, nproc // 4). The
legs set up concurrently; then the timed passes alternate between them,
one leg at a time, for ``--seconds``. ``--trace 1`` adds a traced leg at
``local[4q]`` (event log, rung ladder) and the kernel ladder
(``kernel.py``) and reports the per-layer metrics instead of the
end-to-end ones. Every run verifies the outputs; the last stdout line is
the result JSON, and the exit code is 1 on any mismatch. See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import select
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SEED = 0          # the seed frozen.json pins
RUN_LIMIT_S = 170         # every run ends within 180 s, margin included
SETUP_LIMIT_S = 80        # concurrent JVM set-up of all legs
SAMPLE_DOCS = 24          # seeded extract_python cross-check, plus edge
                          # and slice docs
MIN_ROUNDS = 3            # rounds of passes, even past --seconds
# passes a round of the full (and traced) leg: a full-leg pass takes a
# fraction of a quarter-leg pass, so it gets more passes, and reports
# the fastest of them (host interference only slows a pass down); the
# quarter leg's few long passes report their median
FULL_PER_ROUND = 2


class Abort(Exception):
    """A leg failed or ran out of time; its docs count as failed."""


# -- legs -----------------------------------------------------------------
def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


class LegProc:
    """A leg's process: commands go to its stdin, and it answers each on
    a pipe of its own (its stdout and stderr, and the JVM's, go to a
    log file)."""

    def __init__(self, name: str, spec: dict, env: dict):
        self.name, self.spec, self.pids = name, spec, []
        r, w = os.pipe()
        spec["reply_fd"] = w
        path = f"{spec['work']}/{name}.spec.json"
        with open(path, "w") as f:
            json.dump(spec, f)
        self.log = open(f"{spec['work']}/{name}.log", "w")
        all_cpus = f"0-{(os.cpu_count() or 1) - 1}"
        self.proc = subprocess.Popen(
            ["taskset", "-c", all_cpus, sys.executable, f"{HERE}/leg.py", path],
            stdin=subprocess.PIPE, stdout=self.log, stderr=subprocess.STDOUT,
            env=env, cwd=spec["work"], start_new_session=True, pass_fds=(w,),
            text=True)
        os.close(w)
        self.reply = os.fdopen(r)

    def wait_reply(self, deadline: float, what: str) -> None:
        ready, _, _ = select.select([self.reply], [], [],
                                    max(deadline - time.monotonic(), 0))
        if not ready:
            raise Abort(f"leg {self.name}: {what} did not end in time")
        if not self.reply.readline():
            raise Abort(f"leg {self.name} exited during {what}: {self.tail()}")

    def send(self, cmd: str) -> None:
        try:
            self.proc.stdin.write(cmd + "\n")
            self.proc.stdin.flush()
        except BrokenPipeError:
            raise Abort(f"leg {self.name} exited: {self.tail()}")

    def one_pass(self, deadline: float) -> None:
        self.send("pass")
        self.wait_reply(deadline, "a pass")

    def set_up(self, deadline: float) -> None:
        """Waits until the leg is ready, and remembers its process tree
        (the driver, its JVM, the Python daemon and workers) so that
        ``reap`` can wait for all of it."""
        from perfbench.leg import tree
        self.wait_reply(deadline, "set-up")
        self.pids = tree(self.proc.pid)

    def reap(self, timeout: float = 15.0) -> None:
        """Waits until the JVM and Python daemon the leg started have
        exited too (they outlive the driver briefly), killing them after
        ``timeout``."""
        t_end = time.monotonic() + timeout
        for pid in self.pids[1:]:
            while alive(pid) and time.monotonic() < t_end:
                time.sleep(0.05)
            if alive(pid):
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass

    def finish(self, deadline: float) -> dict:
        """Ends the window: the leg does its untimed work, writes its
        result and exits."""
        self.send("finish")
        self.proc.stdin.close()
        try:
            rc = self.proc.wait(timeout=max(deadline - time.monotonic(), 1.0))
        except subprocess.TimeoutExpired:
            raise Abort(f"leg {self.name} did not finish in time")
        self.reap()
        if rc != 0:
            raise Abort(f"leg {self.name} exited {rc}: {self.tail()}")
        with open(self.spec["out"]) as f:
            return json.load(f)

    def tail(self) -> str:
        self.log.flush()
        with open(self.log.name) as f:
            return f.read()[-2000:]

    def kill(self) -> None:
        if self.proc.poll() is None:
            try:
                os.killpg(self.proc.pid, 9)
            except ProcessLookupError:
                pass
        self.proc.wait()
        self.reap(timeout=0)
        self.log.close()
        self.reply.close()


# -- provenance -----------------------------------------------------------
def provenance(nproc: int) -> dict:
    import pyspark

    def cmd(args: list[str]) -> str | None:
        try:
            r = subprocess.run(args, capture_output=True, text=True, timeout=20)
        except (OSError, subprocess.TimeoutExpired):
            return None
        text = (r.stdout or r.stderr).strip()
        return text.splitlines()[0] if r.returncode == 0 and text else None

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "dxnn_ocr_cpp_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(d, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return {
        "git_sha": cmd(["git", "-C", ROOT, "rev-parse", "HEAD"]),
        "code_sha256": h.hexdigest()[:16],
        "nproc": nproc, "pyspark": pyspark.__version__,
        "java": cmd(["java", "-version"]), "python": platform.python_version(),
    }


# -- the run --------------------------------------------------------------
def leg_specs(w, args, work: str, q: int, sample_urls: list[str]) -> list:
    """(name, spec) of each leg, in the order they pass and finish: the
    quarter leg ends first, so that its JVM's exit does not overlap the
    full leg's timed refreshes. Every leg sets up on all cores; the
    quarter leg pins itself to cores 0..q-1 (``pin``) before its last
    warm pass."""
    full = 4 * q
    base = sorted(f"{work}/input/base/{f}"
                  for f in os.listdir(f"{work}/input/base"))
    common = {"workload": w.name, "work": work, "slice": f"{work}/input/slice",
              "base": f"{work}/input/base", "oversized": f"{work}/input/oversized",
              "files": base, "n_docs": w.n_base,
              "trace": 0, "gc_threads": None, "pin": None,
              "per_round": FULL_PER_ROUND, "fastest": True}
    legs = [
        ("quarter", dict(common, leg="quarter", cores=q, gc_threads=q,
                         pin=f"0-{q - 1}", per_round=1, fastest=False)),
        ("full", dict(common, leg="full", cores=full, sample_urls=sample_urls)),
    ]
    if args.trace:
        legs.append(("traced", dict(common, leg="traced", cores=full, trace=1)))
    for name, spec in legs:
        spec["out"] = f"{work}/{name}.json"
    return legs


def run_legs(legs, env: dict, t_start: float, seconds: float,
             timeline: dict) -> dict:
    """Concurrent set-up, then rounds of timed passes for ``seconds`` (at
    least MIN_ROUNDS rounds; in a round, each leg in turn runs its
    ``per_round`` passes while the others wait), then each leg's untimed
    rest, one leg at a time. Records in ``timeline`` when each phase
    ended, in seconds since the run started."""
    procs = [LegProc(n, s, env) for n, s in legs]
    t_limit = t_start + RUN_LIMIT_S
    try:
        deadline = min(time.monotonic() + SETUP_LIMIT_S, t_limit)
        for p in procs:
            p.set_up(deadline)
        os.sync()  # no writeback of set-up files inside the window
        timeline["setup"] = time.monotonic() - t_start
        t_end, rounds = time.monotonic() + seconds, 0
        while rounds < MIN_ROUNDS or time.monotonic() < t_end:
            for p in procs:
                for _ in range(p.spec["per_round"]):
                    p.one_pass(min(time.monotonic() + 30 + seconds, t_limit))
            rounds += 1
        timeline["window"] = time.monotonic() - t_start
        results = {}
        for p in procs:
            results[p.name] = p.finish(t_limit)
            timeline[f"finish_{p.name}"] = time.monotonic() - t_start
        return results
    finally:
        for p in procs:
            p.kill()


def kernel_ladder(work: str, files: list[str], spans: str, env: dict,
                  limit: float) -> dict:
    spec = {"files": files, "out": f"{work}/kernel.json", "spans": spans}
    with open(f"{work}/kernel.spec.json", "w") as f:
        json.dump(spec, f)
    r = subprocess.run(["taskset", "-c", "0", sys.executable, f"{HERE}/kernel.py",
                        f"{work}/kernel.spec.json"], env=env, cwd=work,
                       capture_output=True, text=True, timeout=max(limit, 1.0))
    if r.returncode != 0:
        raise Abort(f"kernel ladder exited {r.returncode}: {r.stderr[-2000:]}")
    with open(spec["out"]) as f:
        return json.load(f)


def oracle_sample(docs: dict, got: dict) -> list[str]:
    """urls whose Spark text differs from pipeline.extract_python."""
    from dxnn_ocr_cpp_spark.pipeline import extract_python

    return [u for u, d in docs.items()
            if got.get(u) != extract_python(u, d["html"])["text"]]


def nh(d: dict) -> tuple:
    return d["n"], d["h"]


def verify(w, res: dict, sample: dict) -> tuple[dict, int, list[str]]:
    """Checks every timed job: each leg's passes agree with each other
    and with the full leg over n_base rows, the checkpoint holds the base
    digest before the refresh and extract()'s digest over base + slice
    after it, and the sampled rows equal extract_python. Returns the
    digest of extract() over base + slice, the docs failed, and the
    messages."""
    msgs, bad = [], 0
    full = res["full"]
    ref = nh(full["digests"][0])
    for name, r in res.items():
        got = {nh(d) for d in r["digests"]}
        if got != {ref} or ref[0] != w.n_base:
            msgs.append(f"leg {name}: pass digests {sorted(got)} differ from "
                        f"{ref} over {w.n_base} docs")
            bad += w.n_base
    v = full["verify"]
    output = {"n": ref[0] + v["slice"]["n"], "h": ref[1] ^ v["slice"]["h"]}
    if v["slice"]["n"] != w.n_slice:
        msgs.append(f"extract() returned {v['slice']['n']} rows for the "
                    f"{w.n_slice}-doc slice")
        bad += w.n_slice
    if nh(full["checkpoint_base"]) != ref:
        msgs.append("checkpointed base differs from extract()")
        bad += w.n_base
    if nh(v["refreshed"]) != nh(output):
        msgs.append("refreshed checkpoint differs from extract() over the "
                    "same docs")
        bad += w.n_base + w.n_slice
    wrong = oracle_sample(sample, v["sample"])
    if wrong:
        msgs.append(f"{len(wrong)} sampled docs differ from extract_python: "
                    f"{wrong[:3]}")
        bad += len(wrong)
    return output, bad, msgs


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()
    # a terminated run still stops its legs (run_legs' finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "dxnn_ocr_cpp_spark", "pipeline.py")):
        print(f"perfbench: no dxnn_ocr_cpp_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads as W

    if args.workload not in W.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(W.WORKLOADS)}")
    w = W.WORKLOADS[args.workload]
    with open(f"{HERE}/frozen.json") as f:
        frozen = json.load(f)["workloads"][w.name]

    work = f"{HERE}/_work"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(f"{work}/{d}")
    os.makedirs(f"{HERE}/_out", exist_ok=True)
    errors: list[str] = []

    # inputs, and the guard against a silent change of them
    if W.probe_digest(w, DEFAULT_SEED) != frozen["input_probe"]:
        errors.append(f"input drift: the first {W.PROBE_DOCS} docs of seed "
                      f"{DEFAULT_SEED} no longer match frozen.json")
    gen = W.generate(w, args.seed, f"{work}/input")
    if args.seed == DEFAULT_SEED and gen["digest"] != frozen["input"]:
        errors.append("input drift: the seed-0 input digest no longer "
                      "matches frozen.json")

    nproc = os.cpu_count() or 1
    q = max(1, nproc // 4)
    rng = random.Random(f"sample-{args.seed}")
    picks = set(rng.sample(range(len(gen["base"])), SAMPLE_DOCS)) | set(W.EDGE_DOCS)
    sample = {d["url"]: d for d in [gen["base"][i] for i in sorted(picks)]
              + gen["slice"] + [gen["oversized"]]}
    env = dict(os.environ, PYTHONPATH=ROOT, PYSPARK_PYTHON=sys.executable,
               TMPDIR=f"{work}/tmp", SPARK_LOCAL_DIRS=f"{work}/spark-local")
    env.pop("SPARK_GRAFT_MASTER", None)
    legs = leg_specs(w, args, work, q, sorted(sample))
    # each leg checks the base corpus; the full leg also the slice
    attempted = len(legs) * w.n_base + w.n_slice + len(sample)
    failed = 0
    res, kern, timeline = {}, None, {"inputs": time.monotonic() - t_start}
    try:
        res = run_legs(legs, env, t_start, args.seconds, timeline)
        if args.trace:
            remaining = RUN_LIMIT_S - 10 - (time.monotonic() - t_start)
            spans = f"{HERE}/_out/{w.name}-seed{args.seed}-kernel-spans.jsonl"
            kern = kernel_ladder(work, legs[0][1]["files"], spans, env, remaining)
            timeline["kernel"] = time.monotonic() - t_start
    except Abort as e:
        errors.append(str(e))
        failed = attempted
    output = None
    if res:
        output, bad, msgs = verify(w, res, sample)
        if args.seed == DEFAULT_SEED and output != frozen["output"]:
            msgs.append(f"output digest {output} differs from frozen.json")
            bad += w.n_base + w.n_slice
        errors += msgs
        failed += bad
    failed = min(failed, attempted)
    correct = not errors

    metrics: dict = {}
    if res:
        full, quarter = res["full"], res["quarter"]
        setups = [r["setup_s"] for r in res.values()]
        if not args.trace:
            metrics = {
                "docs_per_s": (full["docs_per_s"], "1/s"),
                "docs_per_s_quarter": (quarter["docs_per_s"], "1/s"),
                "scaling_eff": (scaling_eff(full, quarter), "ratio"),
                "refresh_s": (full["refresh_s"], "s"),
                "setup_s": (statistics.median(setups), "s"),
                "peak_rss_mb": (full["peak_rss_mb"], "MB"),
            }
        elif kern is not None:
            metrics = trace_metrics(res, kern, legs[0][1]["files"])

    record = {
        "workload": w.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "input": gen["props"] | {"digest": gen["digest"]},
        "provenance": provenance(nproc), "timeline_s": timeline, "legs": res,
        "kernel": kern, "output": output, "errors": errors,
    }
    with open(f"{HERE}/_out/{w.name}-seed{args.seed}-trace{args.trace}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    report(record, metrics, attempted, failed)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


def scaling_eff(full: dict, quarter: dict) -> float:
    """docs_per_s / (4 x docs_per_s_quarter), taken in each round from
    the quarter pass and the fastest full pass that ran beside it, and
    the median over rounds: host load that drifts between rounds moves
    the passes of a round alike and cancels."""
    f = full["passes_s"]
    return statistics.median(
        q / (4 * min(f[r * FULL_PER_ROUND:(r + 1) * FULL_PER_ROUND]))
        for r, q in enumerate(quarter["passes_s"]))


# per-layer metrics of a traced run, with their units
PER_LAYER = {
    **{f"{m}.core_us_per_doc": "us/doc" for m in (
        "io.scan", "segment.arrow_hop", "htmlseg.decode", "htmlseg.segment_html",
        "segment.segment_one", "score_emit", "io.write", "rungs.extract")},
    "htmlseg.decode.us_per_doc": "us/doc",
    "htmlseg.segment_html.us_per_doc": "us/doc",
    "htmlseg.segment_html.us_per_kb": "us/KB",
    "segment.normalize_build.us_per_doc": "us/doc",
    "segment.to_arrow.us_per_doc": "us/doc",
    "htmlseg.candidates_per_doc": "count",
    "segment.blocks_per_candidate": "ratio",
    "emit.spans_per_block": "ratio",
    "htmlseg.truncated_docs": "count",
    "htmlseg.oversized_docs": "count",
    "htmlseg.fallback_charset_docs": "count",
    "io.scan.bytes_per_doc": "B/doc",
    "segment.arrow_in.bytes_per_doc": "B/doc",
    "segment.arrow_out.bytes_per_doc": "B/doc",
    "emit.text.bytes_per_doc": "B/doc",
    "lineage.blocks.wall_s": "s",
    "lineage.extracted.wall_s": "s",
    "spark.task_ms_p50": "ms",
    "spark.task_ms_p99": "ms",
    "spark.gc_frac": "ratio",
    "spark.shuffle_write_bytes": "B",
    "spark.peak_exec_mem_mb": "MB",
    "host.cores_used.full": "count",
    "host.cores_used.quarter": "count",
    "tracing.overhead_ratio": "ratio",
}


def trace_metrics(res: dict, kern: dict, files: list[str]) -> dict:
    traced = res["traced"]["trace"]
    spark = traced["spark"]
    layers = dict(traced["layers"], **kern["layers"], **spark)
    # the parquet bytes a pass scans
    layers["io.scan.bytes_per_doc"] = \
        sum(os.path.getsize(p) for p in files) / kern["docs"]
    for leg in ("full", "quarter"):
        layers[f"host.cores_used.{leg}"] = res[leg]["cores_used"]
    # the traced and the full leg run at the same cores, and their
    # passes alternate: the traced pass time over the untraced one
    layers["tracing.overhead_ratio"] = \
        res["full"]["docs_per_s"] / res["traced"]["docs_per_s"]
    return {k: (layers[k], unit) for k, unit in PER_LAYER.items()}


def report(record: dict, metrics: dict, attempted: int, failed: int) -> None:
    """Human-readable summary ahead of the result line."""
    p, inp = record["provenance"], record["input"]
    print(f"perfbench {record['workload']} seed={record['seed']} "
          f"seconds={record['seconds']} trace={record['trace']}")
    print("  host: " + ", ".join(f"{k}={v}" for k, v in p.items()))
    print("  timeline: " + ", ".join(f"{k} {v:.1f} s"
                                     for k, v in record["timeline_s"].items()))
    print(f"  input: {inp['docs']} docs, html p50 {inp['html_bytes_p50']:.0f} B, "
          f"p99 {inp['html_bytes_p99']:.0f} B, {inp['html_mb']} MB, "
          f"digest {inp['digest'][:16]}")
    for name, r in record["legs"].items():
        print(f"  leg {name}: cores={r['cores']} affinity={r['affinity']} "
              f"setup {r['setup_s']:.2f} s, busy cores {r['cores_used']:.2f}, "
              f"steal {r['steal_frac']:.4f}, passes "
              + " ".join(f"{x:.3f}" for x in r["passes_s"]))
        if "refreshes_s" in r:
            print(f"  leg {name} refreshes: "
                  + " ".join(f"{x:.3f}" for x in r["refreshes_s"]))
    if record["output"]:
        full = record["legs"]["full"]["digests"][0]
        print(f"  output digest {record['output']}, candidates/doc "
              f"{full['cand'] / full['n']:.2f}")
    if record["trace"] and "traced" in record["legs"]:
        rung = record["legs"]["traced"]["trace"]["rung_wall_s"]
        total = rung["extract"]
        print("  spark rung ladder (self time, share of the full extract() rung):")
        prev = 0.0
        for name, wall in rung.items():
            flag = "  (negative: within the rungs' noise)" if wall < prev else ""
            print(f"    {name:<13} {wall - prev:8.3f} s  {(wall - prev) / total:7.1%}{flag}")
            prev = wall
        print(f"    {'sum':<13} {prev:8.3f} s  {prev / total:7.1%}")
    for e in record["errors"]:
        print(f"  ERROR: {e}", file=sys.stderr)
    print(f"  failed_frac {failed / attempted:.4f} ({failed} of {attempted} docs)")
    for k, (v, u) in metrics.items():
        print(f"  {k:<42} {v:14.4f} {u}")


if __name__ == "__main__":
    sys.exit(main())
