"""Sources & sinks: synthetic pages generator, parquet readers, manifest sink."""

from .pages import build_page, pages_df, PAGES_SCHEMA
from .sinks import write_results, read_done_urls

__all__ = ["build_page", "pages_df", "PAGES_SCHEMA",
           "write_results", "read_done_urls"]
