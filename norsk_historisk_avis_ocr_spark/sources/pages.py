"""Deterministic synthetic Common-Crawl-style pages (the ``pages`` table).

``BASELINE.json``'s input_hint fixes the input shape:
``pages(url string, warc_ts timestamp, html binary, text string, lang
string)``. No such table ships with the sandbox, so this module synthesizes
one — **deterministically** (seeded per doc, no wall clock, no external
data) — from the driver-provided ``documents`` table. Every page plants
known structure so each pipeline stage has a computable golden output:

- masthead heading spanning the columns (sometimes absent),
- 1-5 content columns with per-line divider pipe-bleed noise
  (the artifact class cleaned by ``engines/tesseract_engine.py:24-65``),
- hyphenated line breaks (``word-\\n cont`` — rejoined by ``:82-88``),
- 1-2-char garbage lines and blank-line runs,
- historical-orthography tokens (normalizer targets),
- boilerplate nav/footer blocks with high link density (stripping targets).

The sidecar ground truth (planted raw header/column texts) rides along so
tests can derive byte goldens by running the reference's pure text functions
on the planted sections.
"""

from __future__ import annotations

import datetime
import html as html_mod
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, LongType, StringType, StructField, StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), False),
    StructField("html", BinaryType(), False),
    StructField("text", StringType(), True),
    StructField("lang", StringType(), True),
])

SIDECAR_SCHEMA = StructType(PAGES_SCHEMA.fields + [
    StructField("doc_id", LongType(), False),
    StructField("planted_header", StringType(), True),
    StructField("planted_columns", ArrayType(StringType()), False),
])

_EPOCH = datetime.datetime(1997, 1, 1, tzinfo=datetime.timezone.utc)

_ORTHO_TOKENS = ["rnann", "hvad", "clet", "bleven", "liar", "forst", "vaere", "sarnme"]
_GARBAGE = ["a)", "-.", "*", "l.", "«", "x"]
_NAV_LINKS = ["Forside", "Arkiv", "Abonnement", "Annonser", "Kontakt"]


def _escape(s: str) -> str:
    return html_mod.escape(s, quote=False)


def _render_text(s: str) -> str:
    """Raw section text → HTML with exact round-trip through the parser."""
    return "<br/>".join(_escape(line) for line in s.split("\n"))


def _make_section(rng: random.Random, words: list[str]) -> str:
    """Build one raw 'OCR-like' column text with planted noise."""
    lines: list[str] = []
    i = 0
    n = len(words)
    while i < n:
        take = rng.randint(3, 7)
        line_words = words[i:i + take]
        i += take
        line = " ".join(line_words)
        r = rng.random()
        if r < 0.18 and len(line_words[-1]) >= 6 and i < n:
            # hyphenated line break: split the last word across lines
            w = line_words[-1]
            cut = rng.randint(2, len(w) - 2)
            line = " ".join(line_words[:-1] + [w[:cut] + "-"])
            lines.append(line)
            lines.append(w[cut:] + (" " + words[i] if i < n else ""))
            i += 1
            continue
        if r < 0.30:
            line = line + " | " + rng.choice("kgsbh")  # trailing bleed
        elif r < 0.40:
            line = rng.choice([".", "-", '"']) + "| " + line  # leading bleed
        elif r < 0.46:
            line = "|" + line + "|"  # standalone pipes
        lines.append(line)
        if rng.random() < 0.12:
            lines.append(rng.choice(_GARBAGE))  # 1-2 char stray garbage
        if rng.random() < 0.15:
            lines.extend([""] * rng.randint(1, 3))  # blank-line runs
    return "\n".join(lines)


def build_page(doc_id: int, text: str, lang: str | None) -> dict:
    """One deterministic page. Pure function of (doc_id, text, lang)."""
    rng = random.Random(0x5EED ^ (doc_id * 2654435761) & 0xFFFFFFFF)
    words = list(text.split()) if text else ["tom", "side"]
    # sprinkle orthography targets deterministically
    for k in range(0, len(words), 9):
        words[k] = _ORTHO_TOKENS[(doc_id + k) % len(_ORTHO_TOKENS)]

    host = "host0.example" if doc_id % 3 == 0 else f"host{doc_id % 50}.example"
    url = f"https://{host}/p/{doc_id}"
    warc_ts = _EPOCH + datetime.timedelta(seconds=int(doc_id) * 137)

    header: str | None = None
    columns: list[str] = []
    body_parts: list[str] = []

    if doc_id % 13 == 0:
        # empty body: boilerplate only → pipeline's no-content fallback
        pass
    elif doc_id % 11 == 0:
        # single-column page, no table markup (fallback geometry analog)
        sec = _make_section(rng, words)
        columns = [sec]
        body_parts.append(f"<div><p>{_render_text(sec)}</p></div>")
    else:
        if doc_id % 7 != 0:
            header = " ".join(w.upper() for w in words[:rng.randint(2, 4)]) + " TIDENDE"
            body_parts.append(f"<header><h1>{_render_text(header)}</h1></header>")
        n_cols = rng.randint(1, 5)
        chunk = max(1, len(words) // n_cols)
        tds = []
        for c in range(n_cols):
            cw = words[c * chunk:(c + 1) * chunk] or ["spalte", "tom"]
            if doc_id % 17 == 0 and c == n_cols - 1:
                sec = "\n".join([rng.choice(_GARBAGE) for _ in range(4)])
            else:
                sec = _make_section(rng, cw)
            columns.append(sec)
            tds.append(f"<td>{_render_text(sec)}</td>")
        body_parts.append("<table><tr>" + "".join(tds) + "</tr></table>")

    nav = "<nav>" + " | ".join(
        f'<a href="/{w.lower()}">{w}</a>' for w in _NAV_LINKS) + "</nav>"
    footer = ('<footer><a href="/om">Om avisen</a> <a href="/rss">RSS</a> '
              '<a href="/c">©1957</a></footer>')
    page = ("<html><head><title>side</title>"
            "<style>td{vertical-align:top}</style></head><body>"
            + nav + "".join(body_parts) + footer + "</body></html>")

    return {
        "url": url,
        "warc_ts": warc_ts,
        "html": page.encode("utf-8"),
        "text": text,
        "lang": lang if lang is not None else "no",
        "doc_id": int(doc_id),
        "planted_header": header,
        "planted_columns": columns,
    }


def pages_df(spark: SparkSession, sf_dir: str, replicate: int = 1,
             with_sidecar: bool = False,
             partitions: int | None = None) -> DataFrame:
    """Distributed pages table synthesized from ``{sf_dir}/documents.parquet``.

    ``replicate`` fans each document out to N distinct pages (distinct
    doc_id/url/noise) so the bench can scale row count without external
    data. Generation runs inside ``mapInPandas`` — no driver-side loops.

    ``partitions``: the sandbox documents parquet is one tiny file → one
    input split → a serial pipeline regardless of cores. Repartitioning the
    *row stream before generation* restores the parallelism a real 100 TB
    multi-file scan gets for free from splittable input.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text", "lang")
    if replicate > 1:
        reps = spark.range(replicate).select(F.col("id").alias("rep"))
        docs = docs.crossJoin(F.broadcast(reps)).select(
            (F.col("doc_id") * replicate + F.col("rep")).alias("doc_id"),
            "text", "lang")
    if partitions:
        docs = docs.repartition(partitions, F.col("doc_id"))

    schema = SIDECAR_SCHEMA if with_sidecar else PAGES_SCHEMA
    sidecar = with_sidecar

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            rows = [build_page(int(d), t, g)
                    for d, t, g in zip(pdf["doc_id"], pdf["text"], pdf["lang"])]
            out = pd.DataFrame(rows)
            if not sidecar:
                out = out[["url", "warc_ts", "html", "text", "lang"]]
            yield out

    return docs.mapInPandas(gen, schema=schema)
