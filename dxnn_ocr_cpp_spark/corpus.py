"""Seeded synthetic Common-Crawl-style corpus (the test-image analog).

The reference ships a 20-image golden corpus
(/root/reference/test/twocode_images/ + labels.json); ours is a seeded
HTML generator producing the `documents` table mandated by
BASELINE.json input_hint: (url STRING, warc_ts TIMESTAMP, html BINARY,
text STRING, lang STRING).

Determinism contract: doc i is a pure function of (seed, i) — the RNG
is re-seeded per document — so the corpus is identical regardless of
partition count, generation order, or scale (doc i at n=200 equals doc
i at n=20000). Generation is distributed (spark.range -> mapInPandas),
which is also the 10^12-doc scale path: no driver-side materialization.

Edge rows at fixed residues (FIXTURES.md §1): empty body, giant page on
a hot host (skew + Arrow batch cap), >1500-block page (candidate cap),
entity/zero-width soup, RTL snippet, CDATA/comments, cp1252 page,
broken charset declaration.
"""

from __future__ import annotations

import random

EPOCH_2026 = 1767225600  # 2026-01-01T00:00:00Z, fixed (no wall clock)

HOSTS = [f"host{i:02d}.example.org" for i in range(20)]

_WORDS_EN = (
    "data spark engine pipeline extract content page web crawl text "
    "block score link density boiler plate main article heading list "
    "token stream batch arrow column vector shuffle partition bucket "
    "salt skew lineage checkpoint golden byte exact order span index "
    "quality filter threshold candidate region detect classify emit"
).split()
_WORDS_DE = (
    "daten seite inhalt text block haupt artikel liste strom stapel "
    "spalte vektor verteilung eimer salz schiefe herkunft prüfpunkt "
    "golden byte genau ordnung spanne index qualität filter schwelle"
).split()
_WORDS_ZH = list("数据页面内容文本块主文章列表流批列向量分区桶盐倾斜血统检查点金字节精确顺序跨度索引质量过滤阈值候选区域检测分类发出")

_NAV_WORDS = "Home About Products Blog Contact Careers Login Signup Help Terms Privacy Press API Docs Pricing Support Forum Status Archive Sitemap".split()


def _sentence(rng: random.Random, lang: str, extra: str = "") -> str:
    if lang == "zh":
        n = rng.randint(8, 24)
        body = "".join(rng.choice(_WORDS_ZH) for _ in range(n))
        return body + extra + "。"
    words = _WORDS_DE if lang == "de" else _WORDS_EN
    n = rng.randint(5, 14)
    toks = [rng.choice(words) for _ in range(n)]
    toks[0] = toks[0].capitalize()
    return " ".join(toks) + extra + "."


def _nav(rng: random.Random) -> str:
    n = rng.randint(5, 30)
    links = " ".join(
        f'<a href="/{w.lower()}">{w}</a>'
        for w in (rng.choice(_NAV_WORDS) for _ in range(n))
    )
    return f"<nav>{links}</nav>"


def _sidebar(rng: random.Random) -> str:
    items = "".join(
        f'<li><a href="/rel/{i}">{rng.choice(_NAV_WORDS)} {i}</a></li>'
        for i in range(rng.randint(3, 12))
    )
    return f"<aside><h3>Related</h3><ul>{items}</ul></aside>"


def _content_blocks(rng: random.Random, lang: str, i: int) -> str:
    """1-40 main-content blocks, occasionally nested to depth ~12."""
    n = rng.randint(1, 40)
    parts = []
    for b in range(n):
        kind = rng.random()
        extra = ""
        if b == 0 and i % 20 != 4:  # cp1252 rows can't encode payloads
            if i % 11 == 3:
                # entity / zero-width soup row (C3 analog)
                extra = " &amp; fish&nbsp;&amp;&nbsp;chips ​zero​width"
            if i % 13 == 5:
                extra += " שלום עולם"  # RTL (concatenates on collision)
        s = " ".join(_sentence(rng, lang, extra if k == 0 else "")
                     for k in range(rng.randint(1, 4)))
        if kind < 0.15:
            # the heading must carry `extra` too: discarding it here
            # silently stripped the zero-width-soup / RTL payload from
            # ~15% of the edge-residue fixture rows (same RNG draws, so
            # only the affected edge docs change)
            parts.append(f"<h2>{_sentence(rng, lang, extra)[:-1]}</h2>")
        elif kind < 0.3:
            parts.append(f"<li>{s}</li>")
        else:
            parts.append(f"<p>{s}</p>")
    body = "".join(parts)
    # nesting chains (tag-path depth exercise)
    depth = rng.randint(0, 10)
    for d in range(depth):
        tag = "article" if d == 0 else "div"
        body = f"<{tag}>{body}</{tag}>"
    if i % 17 == 9:
        body = f"<!-- comment {i} --><![CDATA[ raw cdata ]]>" + body
    return f"<main>{body}</main>"


def make_document(i: int, seed: int = 42) -> dict:
    """Doc i as a dict matching the documents schema. Pure(seed, i)."""
    rng = random.Random(f"ccdoc-{seed}-{i}")
    r = rng.random()
    host = HOSTS[0] if r < 0.30 else HOSTS[1] if r < 0.50 else rng.choice(HOSTS[2:])
    url = f"https://{host}/page-{i:06d}"
    lang = "en" if i % 10 < 7 else ("zh" if i % 10 < 9 else "de")
    charset = "utf-8"
    meta = '<meta charset="utf-8">'
    if i % 20 == 4:
        charset = "cp1252"
        meta = '<meta charset="windows-1252">'
    elif i % 50 == 31:
        meta = '<meta charset="bogus-enc">'  # broken decl -> utf-8 fallback

    head = (f"<head>{meta}<title>Page {i}</title>"
            f"<style>.x{{color:red}}</style>"
            f"<script>var a={i};console.log('skip me');</script></head>")

    if i % 101 == 7:
        body = "<body></body>"  # empty body edge (F8: row still emits text='')
    elif i % 503 == 21:
        # >1500 candidate blocks (cap D3)
        items = "".join(f"<li>item {j} of {i}</li>" for j in range(1600))
        body = f"<body><main><ul>{items}</ul></main></body>"
    else:
        banner = ("<aside><p>We use cookies. <a href='/accept'>Accept</a> "
                  "<a href='/reject'>Reject</a></p></aside>")
        main = _content_blocks(rng, lang, i)
        if i % 4999 == 13:
            # giant ~2 MB page on a hot host (skew + Arrow-batch cap)
            url = f"https://{HOSTS[0]}/page-{i:06d}"
            main = main * max(1, (2 << 20) // max(len(main), 1))
        body = (f"<body><header><h1>Site {i % 7}</h1></header>{_nav(rng)}"
                f"{banner}{main}{_sidebar(rng)}"
                f"<footer><p>© 2026 Example Corp <a href='/terms'>Terms</a></p></footer></body>")

    page = f"<!DOCTYPE html><html>{head}{body}</html>"
    if charset == "cp1252":
        page = page.replace("</title>", " café “quoted”</title>")
        page = page.replace("<body>", "<body><p>café naïve “smart” — dash</p>", 1)
        html = page.encode("cp1252", "replace")
    else:
        html = page.encode("utf-8")
    return {
        "url": url,
        "warc_epoch": EPOCH_2026 + i * 17,
        "html": html,
        "text": None,
        "lang": lang,
    }


def generate_documents_df(spark, n_docs: int, seed: int = 42,
                          partitions: int | None = None):
    """Distributed generation: spark.range(n) -> mapInPandas.

    Deterministic content regardless of `partitions`; warc_ts is built
    from an epoch long via timestamp_seconds so it is a fixed instant
    independent of session time zone.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    gen_schema = ("id long, url string, warc_epoch long, html binary, "
                  "text string, lang string")

    def gen(batches):
        for pdf in batches:
            rows = [make_document(int(i), seed) for i in pdf["id"]]
            out = pd.DataFrame({
                "id": pdf["id"].values,
                "url": [r["url"] for r in rows],
                "warc_epoch": [r["warc_epoch"] for r in rows],
                "html": [r["html"] for r in rows],
                "text": pd.array([None] * len(rows), dtype="object"),
                "lang": [r["lang"] for r in rows],
            })
            yield out

    rng_parts = partitions or max(2, spark.sparkContext.defaultParallelism)
    df = (spark.range(0, n_docs, numPartitions=rng_parts)
          .mapInPandas(gen, schema=gen_schema)
          .withColumn("warc_ts", F.timestamp_seconds(F.col("warc_epoch")))
          .select("url", "warc_ts", "html", "text", "lang"))
    return df
