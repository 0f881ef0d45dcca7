"""Stage 2 — per-block boilerplate scoring (classifier analog).

The reference runs a tiny CNN per textline crop to decide 0/180
rotation (/root/reference/src/classification/text_classifier.cpp) and
filters regions by mean-probability score
(/root/reference/src/detection/db_postprocess.cpp:164-195, boxThresh
filter :58-61). Our analog scores each candidate block with boilerplate
heuristics — and, unlike the reference's NPU call, it needs NO Python
at all: the whole stage is Catalyst higher-order-function expressions
over the blocks array, so it rides whole-stage codegen and never leaves
the JVM.

score = tag_prior * (1 - link_density) * length_term   in [0, 1]
  tag_prior     1.0 content tags / 0.0 boiler-ancestor paths / 0.7 other
  link_density  n_link_chars / n_text_chars   (D4 region-score analog)
  length_term   0.5 + 0.5*min(n_text_chars/length_norm_chars, 1)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from dxnn_ocr_cpp_spark.config import DEFAULT_CONFIG, ExtractionConfig


def link_density(b: Column) -> Column:
    return b["n_link_chars"] / F.greatest(b["n_text_chars"], F.lit(1))


def block_score(b: Column, cfg: ExtractionConfig = DEFAULT_CONFIG) -> Column:
    """Score expression for one block struct (use inside F.transform).
    The boiler-ancestor prior reads the block's `boiler` verdict, which
    segment_one computes once in Python on both the slim and the full
    schema — one predicate, so the two paths cannot disagree."""
    prior = (
        F.when(b["boiler"], F.lit(0.0))
        .when(b["tag"].isin(*cfg.content_tags), F.lit(1.0))
        .otherwise(F.lit(0.7))
    )
    ld = F.least(link_density(b), F.lit(1.0))
    length_term = F.lit(0.5) + F.lit(0.5) * F.least(
        b["n_text_chars"] / F.lit(float(cfg.length_norm_chars)), F.lit(1.0))
    return prior * (F.lit(1.0) - ld) * length_term


def with_scored_blocks(df, cfg: ExtractionConfig = DEFAULT_CONFIG,
                       seg_col: str = "seg", out_col: str = "scored"):
    """blocks array -> scored-blocks array (each block struct plus a
    `score` field). Pure column expressions — zero shuffle, zero Python."""
    return df.withColumn(out_col, F.transform(
        F.col(f"{seg_col}.blocks"),
        lambda b: b.withField("score", block_score(b, cfg))))
