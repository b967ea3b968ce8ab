"""Engine configuration — the reference's engine registry as config.

The reference ships three engines (``engines/__init__.py:4-16``) that share
one dataflow and differ only in the correction pass and output naming
(``ocr.py:111-116``; per-config output dirs ``tesseract_engine.py:97-98``).
Here that is one pipeline plus an :class:`EngineConfig`: the config's name
keys the output location (so differently-configured runs coexist
side-by-side like the reference's per-config folders) and is stamped on
every result row.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    """One extraction configuration (≅ one reference engine + kwargs)."""
    normalize: bool = True
    diff_changes: bool = True

    @property
    def name(self) -> str:
        """Stable identity string, used like the reference's
        ``output_dir_name`` (results of different configs never mix)."""
        if not self.normalize:
            return "extract-plain"
        diff = "" if self.diff_changes else "-nodiff"
        return f"extract-norm{diff}"

    def extract_kwargs(self) -> dict:
        kw: dict = {"normalize": self.normalize}
        if not self.diff_changes:
            kw["output_columns"] = [
                f.name for f in __import__(
                    "norsk_historisk_avis_ocr_spark.functions.udfs",
                    fromlist=["RESULT_SCHEMA"]).RESULT_SCHEMA.fields
                if f.name != "correction_changes"]
        return kw


# The reference's three engines, re-expressed (SURVEY.md §3.3: "the three
# engines collapse to one pipeline with config flags").
ENGINES: dict[str, EngineConfig] = {
    # tesseract: OCR only, no correction pass
    "plain": EngineConfig(normalize=False, diff_changes=False),
    # tesseract+claude: correction + changes report
    "normalized": EngineConfig(normalize=True, diff_changes=True),
    # claude-vision: correction without the separate tesseract diff artifact
    "normalized-nodiff": EngineConfig(normalize=True, diff_changes=False),
}
