from .parquet import load_table
from .rental import RENTAL_DUCKDB_SQL, rental_view

__all__ = ["load_table", "rental_view", "RENTAL_DUCKDB_SQL"]
