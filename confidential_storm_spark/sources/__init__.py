"""Table loaders and synthetic generators (SURVEY §2.1 sources)."""

from .tables import TABLES, load_table, contributions_view

__all__ = ["TABLES", "load_table", "contributions_view"]
