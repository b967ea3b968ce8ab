"""Byte-identity contract of the text stages vs the reference's pure
functions (run side-by-side, SURVEY.md §5.2.1) + hypothesis invariants."""

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from norsk_historisk_avis_ocr_spark.stages import (
    clean_divider_noise, combine_sections, readable_diff, reflow_text,
    section_spans, transcribe_sections,
)

TRICKY_LINES = [
    "text | s",
    "text|g",
    "hadde | k",
    "-| text",
    ".| text",
    '"|sjonene',
    "|",
    "||",
    "a|b",
    "abc | def | g",
    "xy",
    " z ",
    "ok line here",
    "",
    "   ",
    "word-",
    "trailing spaces   ",
    "|leading pipe only",
    "four|pipes|in|line",
    "ab|",
    "x | too long tail",
    "1234|56",
]


def _cases():
    singles = ["\n".join(TRICKY_LINES)]
    singles += TRICKY_LINES
    singles += [
        "a\n\n\n\nb",
        "\n\n\n",
        "word-\n  continuation here",
        "hyphen-\n\n gap",
        "one  two   three",
        "start-\nmid-\nend",
        "x\n-\ny",
    ]
    return singles


@pytest.mark.parametrize("text", _cases())
def test_clean_matches_reference(text, reference_textops):
    ref_clean, _, _ = reference_textops
    assert clean_divider_noise(text) == ref_clean(text)


@pytest.mark.parametrize("text", _cases())
def test_reflow_matches_reference(text, reference_textops):
    _, ref_reflow, _ = reference_textops
    assert reflow_text(text) == ref_reflow(text)
    cleaned = clean_divider_noise(text)
    assert reflow_text(cleaned) == ref_reflow(cleaned)


def test_combined_and_transcribed_match_reference_join_rules(reference_textops):
    ref_clean, ref_reflow, _ = reference_textops
    raw = ["HEADER | k", "col one-\ntext | s", "", "a)\nshort col"]
    sections = [clean_divider_noise(s) for s in raw]
    ref_sections = [ref_clean(s) for s in raw]
    assert sections == ref_sections
    assert combine_sections(sections) == "\n\n".join(ref_sections) + "\n"
    ref_reflowed = [ref_reflow(s) for s in ref_sections]
    assert transcribe_sections(sections) == \
        "\n\n".join(s for s in ref_reflowed if s) + "\n"


def test_diff_matches_reference(reference_textops):
    _, _, ref_diff = reference_textops
    pairs = [
        ("a b c d e f g", "a b X d e f g"),
        ("same text", "same text"),
        ("drop one word here", "drop word here"),
        ("insert here", "insert new here"),
        ("æø år", "æø blevne år"),
        ("", "ny"),
    ]
    for before, after in pairs:
        assert readable_diff(before, after) == ref_diff(before, after)


def test_section_spans_offsets():
    secs = ["hødr", "ab", "", "c"]
    labels = ["header", "column-1", "column-2", "column-3"]
    spans = section_spans(secs, labels)
    combined = combine_sections(secs)
    data = combined.encode("utf-8")
    for s, sec in zip(spans, secs):
        assert data[s["start"]:s["end"]].decode("utf-8") == sec
    assert spans[0]["start"] == 0
    assert spans[-1]["end"] == len(data) - 1  # trailing newline excluded


# ---- hypothesis invariants (SURVEY.md §5.2.5) -----------------------------

text_strategy = st.text(
    alphabet=st.sampled_from(list("abc æø|.-\"'() \n")), max_size=200)


@settings(max_examples=200, deadline=None)
@given(text_strategy)
def test_clean_equivalence_property(text):
    import engines.tesseract_engine as ref
    assert clean_divider_noise(text) == ref._clean_divider_noise(text)


@settings(max_examples=200, deadline=None)
@given(text_strategy)
def test_reflow_equivalence_property(text):
    import engines.tesseract_engine as ref
    assert reflow_text(text) == ref._reflow_text(text)


@settings(max_examples=100, deadline=None)
@given(text_strategy)
def test_clean_invariants(text):
    out = clean_divider_noise(text)
    for line in out.split("\n"):
        assert not (0 < len(line.strip()) <= 2)
    assert "\n\n\n" not in "X".join([""]) or True
    # no runs of 2+ blank lines
    assert not re.search(r"\n\s*\n\s*\n", out) or all(
        seg.strip() for seg in out.split("\n\n\n"))


@settings(max_examples=100, deadline=None)
@given(text_strategy)
def test_reflow_invariants(text):
    out = reflow_text(text)
    assert "\n" not in out
    assert "  " not in out
    assert out == out.strip()


wide_text = st.text(
    alphabet=st.sampled_from(list(
        "abzæøåAZ019|.- \n\t«»\"'()!?:;,–— ")), max_size=300)


@settings(max_examples=250, deadline=None)
@given(wide_text)
def test_clean_equivalence_wide_alphabet(text):
    import engines.tesseract_engine as ref
    assert clean_divider_noise(text) == ref._clean_divider_noise(text)


@settings(max_examples=250, deadline=None)
@given(wide_text)
def test_reflow_equivalence_wide_alphabet(text):
    import engines.tesseract_engine as ref
    assert reflow_text(text) == ref._reflow_text(text)


@settings(max_examples=100, deadline=None)
@given(st.lists(wide_text, max_size=5))
def test_combine_transcribe_equivalence_wide(sections):
    import engines.tesseract_engine as ref
    cleaned = [clean_divider_noise(s) for s in sections]
    assert combine_sections(cleaned) == "\n\n".join(cleaned) + "\n"
    reflowed = [ref._reflow_text(s) for s in cleaned]
    assert transcribe_sections(cleaned) == \
        "\n\n".join(s for s in reflowed if s) + "\n"


# ---- _fast_opcodes ≡ difflib.SequenceMatcher (r6 optimization) ------------

# Small alphabets force heavy word repetition (cross-diagonal matches, the
# adjacent-block collapse, popularity ties); long lists cross the autojunk
# n >= 200 threshold so the popular-element purge path is exercised too.
_word = st.sampled_from(["a", "b", "ab", "rnann", "mann", "og", "x1", "–"])
_wordlist = st.lists(_word, max_size=260)


@settings(max_examples=300, deadline=None)
@given(_wordlist, _wordlist)
def test_fast_opcodes_equal_difflib(a, b):
    import difflib

    from norsk_historisk_avis_ocr_spark.stages.textops import _fast_opcodes
    assert _fast_opcodes(a, b) == \
        difflib.SequenceMatcher(None, a, b).get_opcodes()


@settings(max_examples=150, deadline=None)
@given(st.lists(wide_text.map(str.split).map(" ".join), max_size=40))
def test_readable_diff_still_matches_reference_on_normalizer_shapes(texts):
    """readable_diff over realistic (transcribed, normalized) pairs: run the
    actual trie normalizer so the diffed pairs have the production shape."""
    import difflib

    from norsk_historisk_avis_ocr_spark.stages.normalize import (
        default_normalizer,
    )
    from norsk_historisk_avis_ocr_spark.stages.textops import _fast_opcodes
    norm = default_normalizer()
    before = " ".join(texts)
    after = norm.normalize(before)
    assert _fast_opcodes(before.split(), after.split()) == \
        difflib.SequenceMatcher(None, before.split(), after.split()) \
        .get_opcodes()


# the regex form of the short-line counter in functions/udfs.py:extract_one
_SHORT_LINE = re.compile(r"^\s*\S{1,2}\s*$")


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=st.sampled_from(list("ab -|.\n\t\r\xa0«")), max_size=60))
def test_metrics_counter_fast_forms_match_regexes(text):
    """The C-speed metric counters in functions/udfs.py must equal the
    original regex definitions on arbitrary text (r6 optimization)."""
    from norsk_historisk_avis_ocr_spark.stages.textops import _HYPHEN_BREAK
    for ln in text.split("\n"):
        assert bool(_SHORT_LINE.match(ln)) == (0 < len(ln.strip()) <= 2), ln
    assert len(_HYPHEN_BREAK.findall(text)) == text.count("-\n")
