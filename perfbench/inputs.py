"""Seeded benchmark inputs, built once per (workload, seed, size) and cached.

Everything the program receives is a parquet table written here; the
expected values the checks compare against are computed here too, from
the generators' planted ground truth, never from the program's output.

- pages (``extract_*``): ``sources.pages.build_page`` over seeded texts —
  native ~0.8 KB pages plus a 1% tail of long pages whose text is 4 to 12
  document texts concatenated.
- committed state (``extract_resume``): a base of pages no seed makes,
  committed by ``jobs/extract.py`` itself once per checkout and reused
  read-only by every pass; the seed makes the pages still to do.
- scans (``scan_backfill``): the ``sources.rasters`` DataFrame generators,
  re-keyed per codec (they all key pages as ``page-{doc_id}``).
"""

from __future__ import annotations

import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

# Words with no overlap with the pages' nav/footer boilerplate, so a
# boilerplate word in the output can only come from boilerplate.
VOCAB = (
    "avis side dag kveld morgen byen landet folk mann kone barn skole kirke "
    "havn skip fisk sild torsk bonde gaard eng skog fjell elv vei bro "
    "stasjon tog post brev telegraf kongen regjering stortinget kommune "
    "ordfører møte vedtak budsjett skatt penger kroner arbeid fabrikk "
    "verksted lønn streik fagforening handel butikk marked pris korn mel "
    "smør melk ost kjøtt vinter sommer høst vår regn sne storm vind frost "
    "varme ulykke brann politi dommer retten saken vitne lærer prest "
    "doktor syke hospital konsert teater forestilling bok blad lesere "
    "annonse salg leie bolig hus gate torget skolen elever student "
    "universitet forskning utstilling bibliotek idrett skirenn løp "
    "seier kamp laget spiller trener publikum billett reise amerika "
    "utvandring hjemkomst familie bryllup begravelse fødsel minne "
    "historie fremtid fremgang utvikling maskin motor bil fly radio "
    "elektrisitet kraftstasjon vannverk kloakk sykehus aldershjem"
).split()

PAGES_SCHEMA = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
    pa.field("html", pa.binary(), nullable=False),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])

# Doc ids of the committed base: above every seed's (< 1e9) and below
# ~1.8e9, where build_page's warc_ts overflows.
BASE_FIRST_ID = 1_500_000_000

# Scan corpus make-up per seed: (codec family, generator arm, page count).
# Each family draws doc ids from its own range so no two codecs share a
# source page; the PDF generator picks its arm from doc_id (even: DCT,
# odd: Flate, doc_id % 8 == 3: CCITT G4), so its ids are drawn per arm.
SCAN_MIX = (("png", None, 8), ("jpeg", "gray", 4), ("jpeg", "color", 4),
            ("pdf", "dct", 8), ("pdf", "flate", 6), ("pdf", "ccitt", 2))
# Each seed draws a family/arm's pages from a fixed pool of twice its page
# count, so runs with different seeds share (and reuse) synthesized pages.
SCAN_POOL_FACTOR = 2


def _write_table(rows: list[dict], schema: pa.Schema, path: str,
                 n_files: int) -> None:
    """Rows dealt round-robin into ``n_files`` parquet files, so every
    file (one input task each) gets the same mix of short and long rows."""
    os.makedirs(path, exist_ok=True)
    for f in range(n_files):
        part = rows[f::n_files]
        table = pa.Table.from_pylist(
            [{k: r[k] for k in schema.names} for r in part], schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))


def _doc_text(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(n_words))


def make_pages(seed: int, n_native: int, n_long: int,
               first_id: int | None = None) -> list[dict]:
    """Seeded pages with their planted sections (``build_page`` sidecar).
    Doc ids start at ``10_000 * (seed % 100_000)`` unless ``first_id``."""
    from norsk_historisk_avis_ocr_spark.sources.pages import build_page

    rng = random.Random(seed)
    base = 10_000 * (seed % 100_000) if first_id is None else first_id
    pages = []
    for i in range(n_native + n_long):
        if i < n_native:
            text = _doc_text(rng, rng.randint(30, 70))
        else:  # long page: 4..12 document texts concatenated
            text = " ".join(_doc_text(rng, rng.randint(30, 70))
                            for _ in range(4 + (i - n_native) % 9))
        pages.append(build_page(base + i, text, "no"))
    # long pages spread evenly through the table, not clustered at its end
    rng.shuffle(pages)
    return pages


def _expected_rows(pages: list[dict]) -> dict:
    from .checks import expected_texts
    return {p["url"]: expected_texts(p["planted_header"],
                                     p["planted_columns"])
            for p in pages}


class Cache:
    """``.bench_cache/inputs/<workload>-s<seed>-<size>/`` directories; a
    directory counts only once its ``meta.json`` is written."""

    def __init__(self, root: str):
        self.root = os.path.join(root, ".bench_cache", "inputs")

    def dir(self, key: str) -> str:
        return os.path.join(self.root, key)

    def ready(self, key: str) -> bool:
        return os.path.exists(os.path.join(self.dir(key), "meta.json"))

    def fresh(self, key: str) -> str:
        d = self.dir(key)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def load_meta(self, key: str) -> dict:
        with open(os.path.join(self.dir(key), "meta.json")) as f:
            return json.load(f)

    def save_meta(self, key: str, meta: dict) -> None:
        tmp = os.path.join(self.dir(key), "meta.json.tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, os.path.join(self.dir(key), "meta.json"))


def spark_html_bytes(spark, path: str, exclude_urls) -> int:
    """Sum of ``length(html)`` counted by Spark from the pages table over
    the rows whose url is not in ``exclude_urls``."""
    from pyspark.sql import functions as F
    df = spark.read.parquet(path)
    if exclude_urls:
        done = spark.createDataFrame([(u,) for u in exclude_urls], "url string")
        df = df.join(done, "url", "left_anti")
    return int(df.agg(F.sum(F.length("html"))).first()[0] or 0)


def build_committed_base(d: str, n_native: int, n_long: int, n_files: int,
                         spark_factory) -> dict:
    """The committed state ``extract_resume`` starts from: pages that no
    seed generates, committed by ``jobs/extract.py`` itself. Built once per
    checkout; every run and every pass starts from these files."""
    from jobs.extract import main as extract_main

    pages = make_pages(0, n_native, n_long, first_id=BASE_FIRST_ID)
    _write_table(pages, PAGES_SCHEMA, os.path.join(d, "pages"), n_files)
    spark_factory()
    extract_main(["--input", os.path.join(d, "pages"),
                  "--output", os.path.join(d, "committed")])
    return {"rows": len(pages)}


def build_extract_inputs(d: str, seed: int, n_native: int, n_long: int,
                         n_files: int, base_dir: str | None = None) -> dict:
    """The pages table: the seed's new pages, plus every page of the
    committed base when ``base_dir`` is given; and the expected texts of
    the new pages, the rows each pass must commit."""
    import pickle

    todo = make_pages(seed, n_native, n_long)
    pages, committed = todo, []
    if base_dir is not None:
        base = pq.read_table(os.path.join(base_dir, "pages")).to_pylist()
        committed = [p["url"] for p in base]
        pages = base + todo
        random.Random(seed).shuffle(pages)
    _write_table(pages, PAGES_SCHEMA, os.path.join(d, "pages"), n_files)
    with open(os.path.join(d, "expected.pkl"), "wb") as f:
        pickle.dump({"all_urls": [p["url"] for p in pages],
                     "committed_urls": committed,
                     "todo": _expected_rows(todo)}, f)
    return {"rows": len(pages), "committed": len(committed),
            "todo": len(todo),
            "input_bytes": sum(len(p["html"]) for p in pages)}


def _scan_pool() -> list[tuple[str, str | None, list[int]]]:
    """(family, arm, doc ids) of every codec arm's pool."""
    out = []
    for fam_i, (family, arm, count) in enumerate(SCAN_MIX):
        n_pool = SCAN_POOL_FACTOR * count
        if family == "pdf":  # doc_id % 8 picks the PDF arm
            residues = {"dct": (0, 2, 4, 6), "flate": (1, 5, 7),
                        "ccitt": (3,)}[arm]
            pool = [8 * k + r for k in range(n_pool) for r in residues]
        elif family == "jpeg":  # arms=("gray", "color"): doc_id % 2
            pool = [2 * k + (arm == "color") for k in range(n_pool)]
        else:
            pool = list(range(n_pool))
        base = 10_000 * (fam_i + 1)
        out.append((family, arm, [base + i for i in pool[:n_pool]]))
    return out


def scan_ids(seed: int) -> list[tuple[str, str | None, int]]:
    """(family, arm, doc_id) of every page of this seed's corpus, in slot
    order: the seed picks which source page fills each slot."""
    rng = random.Random(seed)
    out = []
    for (family, arm, count), (_f, _a, pool) in zip(SCAN_MIX, _scan_pool()):
        out += [(family, arm, doc) for doc in rng.sample(pool, count)]
    return out


def scan_key(family: str, arm: str | None, doc_id: int) -> str:
    return f"{family}{'-' + arm if arm else ''}-{doc_id}"


POOL_SCHEMA = pa.schema([
    pa.field("page_id", pa.string(), nullable=False),
    pa.field("png", pa.binary(), nullable=False),
    pa.field("width", pa.int32(), nullable=False),
    pa.field("height", pa.int32(), nullable=False),
    pa.field("source_id", pa.string(), nullable=False),
])


def build_scan_pool(pool_dir: str, spark_factory) -> None:
    """Synthesize the whole pool, through the ``sources.rasters``
    generators, one parquet file per page; only the first run in a
    checkout finds pages missing, so later seeds only write their
    tables."""
    import tempfile

    from norsk_historisk_avis_ocr_spark.sources.rasters import (
        jpeg_pages_df, pdf_pages_df, raster_pages_df,
    )
    os.makedirs(pool_dir, exist_ok=True)
    missing = [(fam, arm, doc) for fam, arm, docs in _scan_pool()
               for doc in docs if not os.path.exists(
                   os.path.join(pool_dir, scan_key(fam, arm, doc) + ".parquet"))]
    if not missing:
        return
    spark = spark_factory()
    gens = {"png": raster_pages_df,
            "jpeg": lambda s, p, **kw: jpeg_pages_df(
                s, p, arms=("gray", "color"), **kw),
            "pdf": pdf_pages_df}
    for family, gen in gens.items():
        ids = sorted({doc for fam, _a, doc in missing if fam == family})
        if not ids:
            continue
        with tempfile.TemporaryDirectory(dir=pool_dir) as tmp:
            spark.createDataFrame([(i,) for i in ids], "doc_id long") \
                .write.parquet(os.path.join(tmp, "documents.parquet"))
            df = gen(spark, tmp, partitions=min(len(ids), 16))
            for row in df.toLocalIterator():
                doc_id = int(row["page_id"].split("-")[1])
                arm = next(a for fam, a, doc in missing
                           if fam == family and doc == doc_id)
                rec = row.asDict()
                rec["source_id"] = rec["page_id"]
                rec["page_id"] = scan_key(family, arm, doc_id)
                pq.write_table(pa.Table.from_pylist([rec], schema=POOL_SCHEMA),
                               os.path.join(pool_dir, rec["page_id"]
                                            + ".parquet"))


SCAN_SCHEMA = pa.schema([
    pa.field("page_id", pa.string(), nullable=False),
    pa.field("png", pa.binary(), nullable=False),
])


def build_scan_inputs(d: str, pool_dir: str, seed: int, n_files: int,
                      spark_factory) -> dict:
    """The job's table holds exactly (page_id, png); what the checks need
    about each page (source page id, codec, size) goes to ``meta``.

    Page ids name the slot (``pdf-dct-3``), not the source page: the job
    hash-partitions on the id, so every seed gets the same codec mix per
    task and the seed moves only page content, not task balance."""
    build_scan_pool(pool_dir, spark_factory)
    wanted = scan_ids(seed)
    rows, pages, slots = [], {}, {}
    for family, arm, doc_id in wanted:
        rec = pq.read_table(os.path.join(
            pool_dir, scan_key(family, arm, doc_id) + ".parquet")).to_pylist()[0]
        kind = f"{family}-{arm}" if arm else family
        slots[kind] = slots.get(kind, -1) + 1
        rec["page_id"] = f"{kind}-{slots[kind]}"
        rows.append(rec)
        pages[rec["page_id"]] = {"source_id": rec["source_id"],
                                 "family": family, "arm": arm,
                                 "width": rec["width"],
                                 "height": rec["height"]}
    _write_table(rows, SCAN_SCHEMA, os.path.join(d, "scans"), n_files)
    return {"rows": len(rows),
            "input_bytes": sum(len(r["png"]) for r in rows),
            "pages": pages}
