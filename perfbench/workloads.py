"""Seeded workload inputs, generated in one process with pyarrow (no Spark).

Every workload is a base corpus, an appended slice of new urls (the
slice feeds ``refresh_s``) and one oversized page, which only the
untimed checks and the traced counts read. Doc ``i`` of a workload is a
pure function of ``(workload, seed, i)``: content comes from
``corpus.make_document`` (the heavy edge pages from ``FIXTURE_SEED``) and
``script_heavy`` pads it with bytes derived from ``(seed, i)``, so the
same seed always yields the same files.
"""

from __future__ import annotations

import base64
import hashlib
import os
import random
import statistics
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from dxnn_ocr_cpp_spark.corpus import make_document

# corpus.make_document puts its edge pages at fixed residues:
# i % 4999 == 13 is the ~2 MB giant page, i % 503 == 21 the 1,600-block
# page, i % 20 == 4 cp1252 and i % 50 == 31 a bogus charset declaration.
# Every base corpus is docs 0..n_base-1, so it holds one giant page and
# at least one of each other edge page.
EDGE_DOCS = (4, 13, 21, 31)
PROBE_DOCS = 64  # docs 0..63 of the pinned seed; they hold every EDGE_DOCS
# The oversized page (doc n_base + n_slice) ends its body in an inline
# script of this size, so it is larger than the engine's 20 MB html
# guard (config.max_html_bytes), and the guard cuts it inside the
# script: the page keeps its text. It is an input of its own: in the
# base corpus its split would be the straggler of every timed pass, and
# in the slice it would be most of every timed refresh.
OVERSIZED_SCRIPT_BYTES = 21 << 20
# parquet files of each base corpus. Spark packs files into splits; many
# small files keep the split holding the giant page the same size
# whatever the seed draws for its neighbours
N_FILES = 64
# The giant and 1,600-block pages cost as much as hundreds of ordinary
# docs, and what they cost depends on the content the seed draws. They
# are always drawn from this seed, so the seed varies the bulk of the
# corpus without moving the benchmark's cost by whichever heavy pages it
# happened to draw.
FIXTURE_SEED = 0


def is_heavy(i: int) -> bool:
    return i % 4999 == 13 or i % 503 == 21


@dataclass(frozen=True)
class Workload:
    name: str
    n_base: int        # docs in the base corpus
    n_slice: int       # docs appended for the refresh job
    pad_kb: int = 0    # inline <script>/<style> + data: URI padding


# Why each workload exists is recorded in BENCHMARK.json and README.md.
WORKLOADS = {
    w.name: w for w in (
        Workload("crawl_mix", n_base=600, n_slice=60),
        Workload("script_heavy", n_base=200, n_slice=20, pad_kb=100),
    )
}

SCHEMA = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])


def _filler(rng: random.Random, n: int) -> bytes:
    """About ``n`` bytes of base64: no '<', so it never closes a raw-text
    element early."""
    return base64.b64encode(rng.randbytes(n * 3 // 4))


def _pad(seed: int, i: int, kb: int) -> tuple[bytes, bytes]:
    """(head padding, body attribute) for one script_heavy doc: ~60%
    inline script, ~30% inline style, ~10% a data: URI attribute."""
    rng = random.Random(f"pad-{seed}-{i}")
    n = kb * 1024
    script = b"<script>var blob=\"" + _filler(rng, n * 6 // 10) + b"\";</script>"
    style = b"<style>.b{background:url(" + _filler(rng, n * 3 // 10) + b")}</style>"
    uri = b'<img alt="" src="data:image/png;base64,' + _filler(rng, n // 10) + b'">'
    return script + style, uri


def make_doc(w: Workload, seed: int, i: int) -> dict:
    d = make_document(i, FIXTURE_SEED if is_heavy(i) else seed)
    if w.pad_kb:
        head, uri = _pad(seed, i, w.pad_kb)
        html = d["html"].replace(b"</head>", head + b"</head>", 1)
        d["html"] = html.replace(b"<body>", b"<body>" + uri, 1)
    if i == w.n_base + w.n_slice:
        rng = random.Random(f"oversized-{seed}")
        tail = (b"<script>var bundle=\"" + _filler(rng, OVERSIZED_SCRIPT_BYTES)
                + b"\";</script></body>")
        d["html"] = d["html"].replace(b"</body>", tail, 1)
    return d


def make_docs(w: Workload, seed: int, ids) -> list[dict]:
    return [make_doc(w, seed, i) for i in ids]


def input_digest(docs: list[dict]) -> str:
    """sha256 over every (url, html) in order: pins generated inputs."""
    h = hashlib.sha256()
    for d in docs:
        h.update(d["url"].encode())
        h.update(len(d["html"]).to_bytes(8, "little"))
        h.update(d["html"])
    return h.hexdigest()


def probe_digest(w: Workload, seed: int) -> str:
    """Digest of the first PROBE_DOCS docs of ``seed``. Cheap enough to
    recompute on every run, so an edit to corpus.py that changes the
    pinned seed's inputs is caught whatever seed a run was given."""
    return input_digest(make_docs(w, seed, range(PROBE_DOCS)))


def write_parquet(docs: list[dict], out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(docs) // n_files)
    for f in range(n_files):
        part = docs[f * per:(f + 1) * per]
        tbl = pa.table({
            "url": [d["url"] for d in part],
            "warc_ts": pa.array([d["warc_epoch"] * 1_000_000 for d in part],
                                pa.timestamp("us", tz="UTC")),
            "html": [d["html"] for d in part],
            "text": pa.array([None] * len(part), pa.string()),
            "lang": [d["lang"] for d in part],
        }, schema=SCHEMA)
        pq.write_table(tbl, f"{out_dir}/part-{f:03d}.parquet")


def properties(docs: list[dict]) -> dict:
    sizes = sorted(len(d["html"]) for d in docs)
    q = statistics.quantiles(sizes, n=100, method="inclusive")
    return {"docs": len(docs), "html_bytes_p50": statistics.median(sizes),
            "html_bytes_p99": round(q[98], 1), "html_mb": round(sum(sizes) / 1e6, 2)}


def generate(w: Workload, seed: int, work: str) -> dict:
    """Writes <work>/base, <work>/slice and <work>/oversized; returns the
    input properties, the digest of all three, and the docs."""
    base = make_docs(w, seed, range(w.n_base))
    extra = make_docs(w, seed, range(w.n_base, w.n_base + w.n_slice))
    big = make_docs(w, seed, [w.n_base + w.n_slice])
    write_parquet(base, f"{work}/base", N_FILES)
    write_parquet(extra, f"{work}/slice", 1)
    write_parquet(big, f"{work}/oversized", 1)
    return {"base": base, "slice": extra, "oversized": big[0],
            "digest": input_digest(base + extra + big),
            "props": properties(base)}
