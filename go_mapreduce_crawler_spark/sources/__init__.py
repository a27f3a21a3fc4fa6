from .tables import TABLES, load_table, register_views
from .crawl import list_files

__all__ = ["TABLES", "load_table", "register_views", "list_files"]
