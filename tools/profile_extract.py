"""Profile the per-row extraction hot path (no Spark needed).

Builds bench-shaped synthetic pages via sources.pages.build_page from the
sf0.1 documents table (read with pyarrow directly) and profiles
extract_one / its sub-stages. Usage:

    python tools/profile_extract.py [n_docs] [--stage]

--stage: per-stage wall-time breakdown instead of cProfile.
"""
from __future__ import annotations

import cProfile
import pstats
import sys
import time

import pyarrow.parquet as pq

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from norsk_historisk_avis_ocr_spark.functions.udfs import (  # noqa: E402
    extract_one,
)
from norsk_historisk_avis_ocr_spark.sources.pages import build_page  # noqa: E402
from norsk_historisk_avis_ocr_spark.stages.htmlparse import (  # noqa: E402
    extract_sections,
)
from norsk_historisk_avis_ocr_spark.stages.normalize import (  # noqa: E402
    default_normalizer,
)
from norsk_historisk_avis_ocr_spark.stages.textops import (  # noqa: E402
    clean_divider_noise, combine_sections, readable_diff, section_spans,
    transcribe_sections,
)


def load_pages(n: int):
    t = pq.read_table("/root/testdata/sf0.1/documents.parquet",
                      columns=["doc_id", "text", "lang"])
    rows = t.to_pylist()[:n]
    # doc_id * 24 mirrors the bench's replicate=24 id spacing (one page
    # per doc here; the profiler measures per-row cost, not fan-out)
    return [build_page(int(r["doc_id"]) * 24, r["text"], r["lang"])
            for r in rows]


def stage_breakdown(pages, normalizer):
    stages = {k: 0.0 for k in
              ("extract_sections", "clean", "combine", "transcribe",
               "spans", "normalize", "diff", "metrics")}
    for p in pages:
        html = p["html"]
        t0 = time.perf_counter()
        header_raw, column_raws = extract_sections(html)
        t1 = time.perf_counter(); stages["extract_sections"] += t1 - t0

        sections, labels = [], []
        if header_raw is not None:
            sections.append(clean_divider_noise(header_raw))
            labels.append("header")
        for i, raw in enumerate(column_raws, 1):
            sections.append(clean_divider_noise(raw))
            labels.append(f"column-{i}")
        t2 = time.perf_counter(); stages["clean"] += t2 - t1

        combined = combine_sections(sections)
        t3 = time.perf_counter(); stages["combine"] += t3 - t2
        transcribed = transcribe_sections(sections)
        t4 = time.perf_counter(); stages["transcribe"] += t4 - t3
        spans = section_spans(sections, labels)
        t5 = time.perf_counter(); stages["spans"] += t5 - t4

        normalized = normalizer.normalize_framed(transcribed)
        t6 = time.perf_counter(); stages["normalize"] += t6 - t5
        changes = readable_diff(transcribed[:-1], normalized[:-1])
        t7 = time.perf_counter(); stages["diff"] += t7 - t6

        # the same counters as extract_one
        raws = ([header_raw] if header_raw is not None else []) + column_raws
        n_dropped = sum(1 for raw in raws for ln in raw.split("\n")
                        if 0 < len(ln.strip()) <= 2)
        n_hyphens = sum(s.count("-\n") for s in sections)
        assert n_dropped >= 0 and n_hyphens >= 0 and combined and spans
        t8 = time.perf_counter(); stages["metrics"] += t8 - t7
    return stages


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    per_stage = "--stage" in sys.argv
    pages = load_pages(n)
    norm = default_normalizer()
    table = norm.to_table()
    # warm
    for p in pages[:50]:
        extract_one(p["url"], p["html"], norm)

    if per_stage:
        t0 = time.perf_counter()
        stages = stage_breakdown(pages, norm)
        total = time.perf_counter() - t0
        print(f"docs={len(pages)} total={total:.3f}s "
              f"({len(pages)/total:.0f} docs/s/core)")
        for k, v in sorted(stages.items(), key=lambda kv: -kv[1]):
            print(f"  {k:18s} {v:7.3f}s  {100*v/total:5.1f}%")
    else:
        prof = cProfile.Profile()
        t0 = time.perf_counter()
        prof.enable()
        for p in pages:
            extract_one(p["url"], p["html"], norm)
        prof.disable()
        total = time.perf_counter() - t0
        print(f"docs={len(pages)} total={total:.3f}s "
              f"({len(pages)/total:.0f} docs/s/core)")
        st = pstats.Stats(prof)
        st.sort_stats("cumulative").print_stats(25)
    assert table


if __name__ == "__main__":
    main()
