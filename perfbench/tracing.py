"""Per-layer measurements of the traced run.

``spark_ladder`` runs inside the traced leg's JVM session: a ladder of
rungs over the same input, each timed to the noop sink (the fastest of
its passes). Each rung adds one layer to the previous one, so a layer's
self time is the difference between successive rungs and the self times
sum to the full rung (``extract()``) by construction:

    scan         parquet scan of (url, html)
    arrow_hop    + a passthrough pandas UDF (returns each html's length)
    decode       + htmlseg.decode_html in that UDF
    segment_html + htmlseg.segment_html (tokenize + segment)
    segment_one  with_blocks(slim): normalize, block build, struct return
    extract      the full extract(): Catalyst score, filter, sort, array_join

``event_log`` reads the Spark event log the traced leg wrote and reduces
its task records to the ``spark.*`` metrics, per job group.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

import pandas as pd

RUNG_REPS = 2  # timed passes per rung; a rung's wall is the fastest
RUNGS = ("scan", "arrow_hop", "decode", "segment_html", "segment_one", "extract")
# metric name of each rung's self time
RUNG_METRIC = {
    "scan": "io.scan", "arrow_hop": "segment.arrow_hop",
    "decode": "htmlseg.decode", "segment_html": "htmlseg.segment_html",
    "segment_one": "segment.segment_one", "extract": "score_emit",
}


def _rung_frames(base, cfg):
    from pyspark.sql import functions as F

    from dxnn_ocr_cpp_spark.htmlseg import decode_html, segment_html
    from dxnn_ocr_cpp_spark.operators.segment import with_blocks
    from dxnn_ocr_cpp_spark.pipeline import extract

    @F.pandas_udf("int")
    def arrow_hop(html: pd.Series) -> pd.Series:
        return pd.Series([len(b) for b in html], dtype="int32")

    @F.pandas_udf("int")
    def decode(html: pd.Series) -> pd.Series:
        return pd.Series([len(decode_html(b, cfg.sniff_bytes)[0]) for b in html],
                         dtype="int32")

    @F.pandas_udf("int")
    def seg_html(html: pd.Series) -> pd.Series:
        return pd.Series([segment_html(b, cfg.max_candidates, cfg.max_html_bytes,
                                       cfg.sniff_bytes, engine=cfg.parser_engine)
                          .n_candidates for b in html], dtype="int32")

    docs = base.select("url", "html")
    return {
        "scan": docs,
        "arrow_hop": docs.select("url", arrow_hop("html").alias("r")),
        "decode": docs.select("url", decode("html").alias("r")),
        "segment_html": docs.select("url", seg_html("html").alias("r")),
        "segment_one": with_blocks(docs, cfg, slim=True).drop("html"),
        "extract": extract(base, cfg),
    }


def spark_ladder(leg, spec: dict) -> dict:
    """Rung ladder, write rung, one refresh and exact counts."""
    from dxnn_ocr_cpp_spark.pipeline import extract, extract_checkpointed

    F, cfg, n, cores = leg.F, leg.cfg, spec["n_docs"], leg.cores
    work, base = spec["work"], leg.base

    def core_us(wall: float) -> float:
        return wall / n * 1e6 * cores

    def rung_wall(df) -> float:
        walls = []
        for _ in range(RUNG_REPS):
            t = time.perf_counter()
            leg.noop(df)
            walls.append(time.perf_counter() - t)
        return min(walls)

    frames = _rung_frames(base, cfg)
    rung = {}
    for name in RUNGS:
        leg.group(f"rung.{name}")
        rung[name] = rung_wall(frames[name])
    out, prev = {}, 0.0
    for name in RUNGS:
        out[f"{RUNG_METRIC[name]}.core_us_per_doc"] = core_us(rung[name] - prev)
        prev = rung[name]
    out["rungs.extract.core_us_per_doc"] = core_us(rung["extract"])

    # write rung: the same extract() into a real parquet sink
    leg.group("rung.write")
    sink = f"{work}/sink-{cores}"
    walls = []
    for _ in range(RUNG_REPS):
        t = time.perf_counter()
        extract(base, cfg).write.mode("overwrite").parquet(sink)
        walls.append(time.perf_counter() - t)
    out["io.write.core_us_per_doc"] = core_us(min(walls) - rung["extract"])

    # checkpoint stages of one refresh (the incremental call over base +
    # slice, on the base checkpoint built during set-up), from the
    # _lineage rows the program writes
    leg.group("ckpt")
    leg.restore()
    _, run = extract_checkpointed(leg.spark, base.unionByName(leg.slice),
                                  leg.root, cfg)
    walls = {r["stage"]: r["w"] for r in run.lineage()
             .where(F.col("run_id") == run.run_id).groupBy("stage")
             .agg(F.max("wall_ms").alias("w")).collect()}
    out["lineage.blocks.wall_s"] = walls["blocks"] / 1000.0
    out["lineage.extracted.wall_s"] = walls["extracted"] / 1000.0

    # exact counts over base + slice + the oversized page, from the
    # program's own output
    leg.group("counts")
    full = extract(base.unionByName(leg.slice).unionByName(leg.oversized),
                   cfg, keep_intermediate=True)
    c = full.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_candidates").alias("cand"),
        F.sum(F.size("seg.blocks")).alias("blocks"),
        F.sum("n_spans").alias("spans"),
        F.sum(F.octet_length("text")).alias("text_bytes"),
        F.sum(F.col("seg.truncated").cast("int")).alias("truncated"),
        F.sum(F.col("seg.oversized").cast("int")).alias("oversized"),
        F.sum((F.col("charset") == "fallback-utf-8").cast("int")).alias("fallback"),
    ).collect()[0]
    out.update({
        "htmlseg.candidates_per_doc": c["cand"] / c["docs"],
        "segment.blocks_per_candidate": c["blocks"] / max(c["cand"], 1),
        "emit.spans_per_block": c["spans"] / max(c["blocks"], 1),
        "emit.text.bytes_per_doc": c["text_bytes"] / c["docs"],
        "htmlseg.truncated_docs": c["truncated"],
        "htmlseg.oversized_docs": c["oversized"],
        "htmlseg.fallback_charset_docs": c["fallback"],
    })
    return {"layers": out, "rung_wall_s": rung}


def _pct(xs: list, q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0


def _events(events_dir: str):
    """Parsed events of the one app logged under ``events_dir``. Spark 4
    writes a rolling log: a directory of numbered events_<n>_<app> files
    (a single file when rolling is off)."""
    files = [p for p in glob.glob(os.path.join(events_dir, "**"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")]
    if not files:
        raise RuntimeError(f"no Spark event log under {events_dir}")

    def part(p: str) -> int:
        name = os.path.basename(p)
        return int(name.split("_")[1]) if name.startswith("events_") else 0

    for path in sorted(files, key=part):
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def event_log(events_dir: str) -> dict:
    """spark.* metrics from the leg's event log, split by job group:
    task times over the timed extract() passes (group ``e2e``), the GC
    share and peak execution memory over every job of the leg, and
    shuffle bytes over the refresh (group ``ckpt``)."""
    stage_group, tasks = {}, []
    for ev in _events(events_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = g
        elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
            m = ev["Task Metrics"]
            tasks.append({
                "stage": ev["Stage ID"],
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "peak_mem": m.get("Peak Execution Memory", 0),
                "shuffle_w": (m.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0),
            })

    def by(g):
        return [t for t in tasks if stage_group.get(t["stage"]) == g]

    e2e, ckpt = by("e2e"), by("ckpt")
    run = [t["run_ms"] for t in e2e]
    return {
        "spark.task_ms_p50": statistics.median(run),
        "spark.task_ms_p99": _pct(run, 0.99),
        # over every task of the leg: under the engine's default heap the
        # timed passes alone may see no collection at all
        "spark.gc_frac": sum(t["gc_ms"] for t in tasks)
        / max(sum(t["run_ms"] for t in tasks), 1),
        "spark.shuffle_write_bytes": sum(t["shuffle_w"] for t in ckpt),
        "spark.peak_exec_mem_mb": max(t["peak_mem"] for t in tasks) / 2**20,
    }
