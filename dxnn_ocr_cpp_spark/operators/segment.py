"""Stage 1 — segmentation operator (detection analog).

The ONE pandas UDF on the hot path: html BINARY -> struct(blocks array,
stats). This is the analog of the reference's batched NPU detection
call (/root/reference/src/detection/text_detector.cpp:241-271): an
opaque, Arrow-batched, vectorized-at-batch-granularity model invocation.
Everything before it (column pruning) and after it (scoring, emission)
stays in Catalyst expression land.

Batch-size discipline: html blobs are multi-MB, so callers must cap
spark.sql.execution.arrow.maxRecordsPerBatch (session.build_session
does) — the backpressure analog of the reference's bounded queues
(ocr_pipeline.cpp:353-355).
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from dxnn_ocr_cpp_spark.config import DEFAULT_CONFIG, ExtractionConfig
from dxnn_ocr_cpp_spark.htmlseg import normalize_text, segment_html
from dxnn_ocr_cpp_spark.schemas import SEGMENT_RESULT, SEGMENT_RESULT_SLIM


@functools.lru_cache(maxsize=8)
def _boiler_re(boiler_ancestors: tuple):
    """Compiled form of the boiler-ancestor predicate — one C-level
    scan per block instead of a per-segment split/membership loop
    (profiled at ~10% of the whole kernel on the bench corpus).
    A path segment is 'tag[n]', so a boiler tag is always followed by
    '[' and preceded by start-of-string or '/'."""
    import re
    alts = "|".join(re.escape(t) for t in boiler_ancestors)
    return re.compile(f"(?:^|/)(?:{alts})\\[")


def _is_boiler_path(tag_path: str, boiler_ancestors) -> bool:
    """The boiler-ancestor predicate, computed ONCE Python-side: any
    path segment's tag (before its '[n]' index) is a boiler ancestor.
    segment_one ships it as each block's `boiler` field on both
    schemas; score.block_score and extract_python read that field."""
    return _boiler_re(tuple(boiler_ancestors)) \
        .search(tag_path) is not None


def segment_one(raw: bytes | None, cfg: ExtractionConfig,
                slim: bool = False) -> dict:
    """Per-document segmentation -> plain dict matching SEGMENT_RESULT
    (slim=True: SEGMENT_RESULT_SLIM — tag_path and n_tags dropped, only
    the 1-byte `boiler` verdict kept; the Arrow-boundary diet the
    schema comment in schemas.py quantifies). Exposed separately so
    unit tests and goldens exercise the exact production code path
    without a JVM."""
    res = segment_html(raw, cfg.max_candidates, cfg.max_html_bytes,
                       cfg.sniff_bytes, engine=cfg.parser_engine)
    blocks = []
    for b in res.blocks:
        t = normalize_text(b.text_raw)
        if not t:
            continue  # D1 analog: candidacy requires text after normalization
        # counts describe the NORMALIZED text the block emits — raw
        # counts included zero-width/bidi chars that normalization
        # strips, letting soup-padded blocks past min_text_chars and
        # skewing density features against the actual output
        # normalize_text collapses every whitespace run to one ASCII
        # space, so non-ws chars = len - spaces (== sum of split lens,
        # without the list allocation)
        n_text = len(t) - t.count(" ")
        rec = {
            "block_id": b.block_id,
            "tag": b.tag,
            "depth": b.depth,
            "pos": b.pos,
            "text": t,
            "n_text_chars": n_text,
            "n_link_chars": min(b.n_link_chars, n_text),
            "boiler": _is_boiler_path(b.tag_path, cfg.boiler_ancestors),
        }
        if not slim:
            rec["tag_path"] = b.tag_path
            rec["n_tags"] = b.n_tags
        blocks.append(rec)
    return {
        "blocks": blocks,
        "n_candidates": res.n_candidates,
        "truncated": res.truncated,
        "charset": res.charset,
        "oversized": res.oversized,
    }


def make_segment_udf(cfg: ExtractionConfig = DEFAULT_CONFIG,
                     slim: bool = False):
    """Build the stage-1 pandas UDF closed over per-run config (the
    OCRTaskConfig flow, ref ocr_pipeline.cpp:457-461 — params travel
    with the task, not with engine construction)."""
    schema = SEGMENT_RESULT_SLIM if slim else SEGMENT_RESULT

    @F.pandas_udf(schema)
    def segment_udf(html: pd.Series) -> pd.DataFrame:
        out = [segment_one(raw, cfg, slim=slim) for raw in html]
        return pd.DataFrame(out)

    return segment_udf


def with_blocks(df, cfg: ExtractionConfig = DEFAULT_CONFIG,
                html_col: str = "html", out_col: str = "seg",
                slim: bool = False):
    """df + seg struct column. Keeps the pre-UDF projection minimal so
    parquet/Iceberg scans prune to (url, html) — the pushdown the
    reference never had (X12)."""
    return df.withColumn(
        out_col, make_segment_udf(cfg, slim=slim)(F.col(html_col)))
