"""Profile the per-row extraction hot path (no Spark needed).

Builds bench-shaped synthetic pages via sources.pages.build_page from the
sf0.1 documents table (read with pyarrow directly) and profiles
extract_one / its sub-stages. Usage:

    python tools/profile_extract.py [n_docs] [--stage]

--stage: per-stage breakdown (each stage function's cumulative time in
the same cProfile run) instead of the top of the profile.
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
    OrthographyNormalizer, default_normalizer,
)
from norsk_historisk_avis_ocr_spark.stages.textops import (  # noqa: E402
    clean_divider_noise, combine_sections, readable_diff, section_spans,
    transcribe_sections,
)

# the stage functions extract_one calls, in call order
STAGES = (extract_sections, clean_divider_noise, combine_sections,
          transcribe_sections, section_spans,
          OrthographyNormalizer.normalize_framed, readable_diff)


def load_pages(n: int):
    t = pq.read_table("/root/testdata/sf0.1/documents.parquet",
                      columns=["doc_id", "text", "lang"])
    rows = t.to_pylist()[:n]
    # doc_id * 24 mirrors the bench's replicate=24 id spacing (one page
    # per doc here; the profiler measures per-row cost, not fan-out)
    return [build_page(int(r["doc_id"]) * 24, r["text"], r["lang"])
            for r in rows]


def stage_breakdown(stats: pstats.Stats) -> dict[str, float]:
    """Cumulative seconds of each stage function ``extract_one`` calls,
    read from a profile of the real ``extract_one``; the rest of its time
    (metric counters, row assembly) is ``other``."""
    def cum(fn):
        code = fn.__code__
        key = (code.co_filename, code.co_firstlineno, code.co_name)
        return stats.stats[key][3] if key in stats.stats else 0.0

    stages = {fn.__name__: cum(fn) for fn in STAGES}
    stages["other"] = cum(extract_one) - sum(stages.values())
    return stages


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    per_stage = "--stage" in sys.argv
    pages = load_pages(n)
    norm = default_normalizer()
    # warm
    for p in pages[:50]:
        extract_one(p["url"], p["html"], norm)

    prof = cProfile.Profile()
    t0 = time.perf_counter()
    prof.enable()
    for p in pages:
        extract_one(p["url"], p["html"], norm)
    prof.disable()
    total = time.perf_counter() - t0
    print(f"docs={len(pages)} total={total:.3f}s "
          f"({len(pages)/total:.0f} docs/s/core, under cProfile)")
    st = pstats.Stats(prof)
    if per_stage:
        stages = stage_breakdown(st)
        for k, v in sorted(stages.items(), key=lambda kv: -kv[1]):
            print(f"  {k:20s} {v:7.3f}s  {100*v/total:5.1f}%")
    else:
        st.sort_stats("cumulative").print_stats(25)


if __name__ == "__main__":
    main()
