from biokg_spark.sources.tables import TABLES, load_table, write_tsv

__all__ = ["TABLES", "load_table", "write_tsv"]
