from azure_pdf_parser_spark.sources.tables import load_table, register_tables
from azure_pdf_parser_spark.sources.spanize import derive_spans

__all__ = ["load_table", "register_tables", "derive_spans"]
