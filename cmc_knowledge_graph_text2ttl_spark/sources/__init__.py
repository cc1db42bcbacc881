from .pages import PAGES_SCHEMA, read_pages, synth_pages_df, synth_page_rows

__all__ = ["PAGES_SCHEMA", "read_pages", "synth_pages_df", "synth_page_rows"]
