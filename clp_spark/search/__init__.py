"""CLP-style search over encoded sinks: dictionary-filter pushdown, then
regex confirmation only on surviving rows (search-without-decompress)."""

from clp_spark.search.compiler import CompiledQuery, compile_query
from clp_spark.search.decode import decode_messages
from clp_spark.search.executor import search
from clp_spark.search.schema_search import (
    Schema,
    SchemaRule,
    compile_schema_query,
    schema_compress_df,
    schema_search,
)
from clp_spark.search.sinks import open_archive, search_archives, search_sinks
from clp_spark.search.wildcard import wildcard_match, wildcard_to_regex

__all__ = [
    "CompiledQuery",
    "Schema",
    "SchemaRule",
    "compile_query",
    "compile_schema_query",
    "decode_messages",
    "open_archive",
    "schema_compress_df",
    "schema_search",
    "search",
    "search_archives",
    "search_sinks",
    "wildcard_match",
    "wildcard_to_regex",
]
