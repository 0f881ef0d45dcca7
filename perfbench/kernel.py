"""In-process kernel ladder on one pinned core, no Spark.

Usage: ``python3 perfbench/kernel.py <spec.json>`` (``run.py`` pins it
with taskset and builds the spec). For every doc of the given parquet
files it times three public calls, each including the previous one:

    decode        htmlseg.decode_html
    segment_html  htmlseg.segment_html (decode + tokenize + segment)
    segment_one   operators.segment.segment_one(slim=True)
                  (segment_html + normalize + block build)

and, per Arrow batch of ``arrow_max_records`` docs, the pandas/pyarrow
conversion of the segment_one results to SEGMENT_RESULT_SLIM (the UDF's
return leg). Spans are kept in memory and written to ``spec["spans"]``
at the end; a layer's self time is its span minus the enclosed one.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def to_arrow(rows: list, struct_type):
    """pandas DataFrame -> Arrow struct array, as the UDF's return leg."""
    import pandas as pd
    import pyarrow as pa

    pdf = pd.DataFrame(rows)
    return pa.StructArray.from_arrays(
        [pa.Array.from_pandas(pdf[f.name], type=f.type) for f in struct_type],
        fields=list(struct_type))


def main() -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type

    from dxnn_ocr_cpp_spark.config import DEFAULT_CONFIG as cfg
    from dxnn_ocr_cpp_spark.htmlseg import decode_html, segment_html
    from dxnn_ocr_cpp_spark.operators.segment import segment_one
    from dxnn_ocr_cpp_spark.schemas import SEGMENT_RESULT_SLIM

    with open(sys.argv[1]) as f:
        spec = json.load(f)
    html = pa.concat_arrays([pq.read_table(p, columns=["html"]).column("html")
                             .combine_chunks() for p in spec["files"]])
    docs = html.to_pylist()
    struct_type = to_arrow_type(SEGMENT_RESULT_SLIM)
    clock = time.perf_counter_ns
    spans = []  # (layer, first doc, start ns, end ns)
    arrow_in = arrow_out = 0
    batch = cfg.arrow_max_records
    to_arrow([segment_one(docs[0], cfg, slim=True)], struct_type)  # warm imports
    for lo in range(0, len(docs), batch):
        rows = []
        for i in range(lo, min(lo + batch, len(docs))):
            raw = docs[i]
            t0 = clock()
            decode_html(raw, cfg.sniff_bytes)
            t1 = clock()
            segment_html(raw, cfg.max_candidates, cfg.max_html_bytes,
                         cfg.sniff_bytes, engine=cfg.parser_engine)
            t2 = clock()
            rows.append(segment_one(raw, cfg, slim=True))
            t3 = clock()
            spans += [("decode", i, t0, t1), ("segment_html", i, t1, t2),
                      ("segment_one", i, t2, t3)]
        t0 = clock()
        arr = to_arrow(rows, struct_type)
        t1 = clock()
        spans.append(("to_arrow", lo, t0, t1))
        arrow_in += html.slice(lo, len(rows)).nbytes
        arrow_out += arr.nbytes

    total = {}
    for layer, _, a, b in spans:
        total[layer] = total.get(layer, 0) + (b - a) / 1e3  # us
    n, kb = len(docs), sum(len(d) for d in docs) / 1024
    seg_self = total["segment_html"] - total["decode"]
    out = {
        "htmlseg.decode.us_per_doc": total["decode"] / n,
        "htmlseg.segment_html.us_per_doc": seg_self / n,
        "htmlseg.segment_html.us_per_kb": seg_self / kb,
        "segment.normalize_build.us_per_doc":
            (total["segment_one"] - total["segment_html"]) / n,
        "segment.to_arrow.us_per_doc": total["to_arrow"] / n,
        "segment.arrow_in.bytes_per_doc": arrow_in / n,
        "segment.arrow_out.bytes_per_doc": arrow_out / n,
    }
    with open(spec["spans"], "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
    with open(spec["out"], "w") as f:
        json.dump({"docs": n, "affinity": sorted(os.sched_getaffinity(0)),
                   "layers": out}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
