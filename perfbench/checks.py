"""Output checks made apart from the program.

The expected texts come from a literal implementation of SURVEY.md C1
(divider-noise clean), C2 (reflow) and the ``"\\n\\n"``-join rules of
C3/C4, applied to the sections the page generator planted — not from the
program's own stage functions. The remaining checks are properties every
output row must have.
"""

from __future__ import annotations

import re

# Boilerplate the page generator puts in every page's nav and footer; the
# seeded texts (``inputs.VOCAB``) share no word with it.
BOILERPLATE = ("Forside", "Arkiv", "Abonnement", "Annonser", "Kontakt",
               "Om avisen", "RSS", "©1957")
_PUNCT = ".,;:!?«»\"'()[]{}-–—"


def c1_clean(text: str) -> str:
    """SURVEY.md C1, step by step as written there."""
    lines = []
    for line in text.split("\n"):
        line = re.sub(r"\s*\|.{0,3}$", "", line)   # (1)
        line = re.sub(r"^.{0,3}\|\s*", "", line)   # (2)
        line = line.strip("|")                     # (3)
        line = line.rstrip()                       # (4)
        lines.append(line)
    kept = [ln for ln in lines if not 1 <= len(ln.strip()) <= 2]  # (5)
    out = []
    for ln in kept:                                # (6)
        if ln.strip() == "" and out and out[-1].strip() == "":
            continue
        out.append(ln)
    return "\n".join(out)


def c2_reflow(text: str) -> str:
    """SURVEY.md C2."""
    text = text.strip()
    if not text:
        return ""
    text = re.sub(r"-\n\s*", "", text)
    text = re.sub(r"\n+", " ", text)
    text = re.sub(r"  +", " ", text)
    return text.strip()


def expected_texts(header: str | None, columns: list[str]) -> tuple:
    """(combined, transcribed) of a page from its planted sections."""
    sections = ([header] if header is not None else []) + list(columns)
    cleaned = [c1_clean(s) for s in sections]
    combined = "\n\n".join(cleaned) + "\n"
    reflowed = [c2_reflow(s) for s in cleaned]
    transcribed = "\n\n".join(r for r in reflowed if r) + "\n"
    return combined, transcribed


def _core(token: str) -> str:
    return token.strip(_PUNCT).lower()


def rewrites_only_table_keys(before: str, after: str, table: dict,
                             preserve: set) -> bool:
    """Walk both token streams; every place they differ must be a run of
    ``before`` tokens whose joined cores are a table key (not preserved),
    replaced by one token whose core is that key's value (case aside)."""
    b, a = before.split(), after.split()
    i = j = 0
    max_k = max((len(k.split()) for k in table), default=1)
    while i < len(b) and j < len(a):
        if b[i] == a[j]:
            i += 1
            j += 1
            continue
        for k in range(min(max_k, len(b) - i), 0, -1):
            key = " ".join(_core(t) for t in b[i:i + k])
            if key in table and not any(_core(t) in preserve
                                        for t in b[i:i + k]):
                if _core(a[j]) == table[key].lower():
                    break
        else:
            return False
        i += k
        j += 1
    return i == len(b) and j == len(a)


def check_extract_row(row: dict, expected: tuple, table: dict,
                      preserve: set) -> str | None:
    """None if the row passes every check, else the first failure."""
    combined, transcribed = expected
    if row["combined"] != combined:
        return "combined differs from C1+C3 on the planted sections"
    if row["transcribed"] != transcribed:
        return "transcribed differs from C1+C2+C4 on the planted sections"
    final = row["normalized"] if row["normalized"] is not None \
        else row["transcribed"]
    if row["final"] != final:
        return "final != coalesce(normalized, transcribed)"
    if row["normalized"] is not None and not rewrites_only_table_keys(
            row["transcribed"], row["normalized"], table, preserve):
        return "normalized rewrites a token that is not a table key"
    sections = ([row["header"]] if row["header"] is not None else []) \
        + list(row["columns"])
    labels = (["header"] if row["header"] is not None else []) \
        + [f"column-{i}" for i in range(1, len(row["columns"]) + 1)]
    raw = row["combined"].encode("utf-8")
    spans = row["spans"]
    if [s["section"] for s in spans] != labels:
        return "span labels do not match header/columns"
    pos = 0
    for s, text in zip(spans, sections):
        if s["start"] != pos or raw[s["start"]:s["end"]] != text.encode():
            return "spans do not slice combined into header and columns"
        pos = s["end"] + 2
    if (spans and spans[-1]["end"] + 1 != len(raw)) or \
            (not spans and raw != b"\n"):
        return "spans do not cover combined"
    if any(w in row["combined"] for w in BOILERPLATE):
        return "nav/footer boilerplate survived"
    return None


def check_geometry_row(row: dict, page: dict, expected_geo) -> str | None:
    """Geometry properties of one page (+ equality on lossless payloads;
    ``expected_geo`` is None for lossy ones)."""
    if row["decode_error"] is not None:
        return f"decode_error: {row['decode_error']}"
    w, h = page["width"], page["height"]
    bounds = row["boundaries"]
    if not bounds or bounds[0] != 0 or bounds[-1] != w or any(
            x >= y for x, y in zip(bounds, bounds[1:])):
        return "boundaries do not rise strictly from 0 to the page width"
    boxes = row["column_boxes"]
    if len(boxes) != len(bounds) - 1:
        return "column box count != column count"
    for bx in boxes:
        if not (0 <= bx["x0"] < bx["x1"] <= w and 0 <= bx["y0"] < bx["y1"] <= h):
            return "column box outside the page"
    if expected_geo is not None:
        def tup(b):
            return None if b is None else (b["x0"], b["y0"], b["x1"], b["y1"])
        got = {"boundaries": list(bounds), "body_top": list(row["body_top"]),
               "title_box": tup(row["title_box"]),
               "column_boxes": [tup(b) for b in boxes]}
        want = {"boundaries": [int(x) for x in expected_geo["boundaries"]],
                "body_top": [int(x) for x in expected_geo["body_top"]],
                "title_box": None if expected_geo["title_box"] is None
                else tuple(int(v) for v in expected_geo["title_box"]),
                "column_boxes": [tuple(int(v) for v in b)
                                 for b in expected_geo["column_boxes"]]}
        if got != want:
            return "geometry differs from split_columns_geometry on the source"
    return None


def lossless_source(page: dict):
    """The pixel array a lossless payload carries, rebuilt from the
    generator's source page; None for lossy (DCT) payloads."""
    import numpy as np

    from norsk_historisk_avis_ocr_spark.sources.rasters import synth_page_array
    if page["family"] == "jpeg" or page["arm"] == "dct":
        return None
    arr = synth_page_array(page["source_id"], width=page["width"],
                           height=page["height"])
    if page["arm"] == "ccitt":  # bilevel: ink below mid-gray
        arr = np.where(arr < 128, 0, 255).astype(np.uint8)
    return arr
