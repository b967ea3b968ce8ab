"""DataFrame-level operators: extraction pipeline, resume, windows, dedup,
similarity, quality, multimodal plumbing."""

from .extract import extract_pages, split_quarantine
from .resume import resume_filter

__all__ = ["extract_pages", "split_quarantine", "resume_filter"]
