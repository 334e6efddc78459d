"""The doc_id-derived vocabulary of the synthetic eval/RAG/schema fixtures.

The eval, RAG and schema queries build their items, citations and corpora
from ``documents.doc_id``, and their DuckDB oracles rebuild the same
strings. Each derivation is written here once, as a Column function for the
Spark side and as a SQL fragment over a SQL expression for the oracle:

- part number ``700 + x % 37`` (a 15 CFR part, e.g. ``712``),
- section body ``<part number>.<1 + x % 7>`` (e.g. ``712.3``),
- section id ``EAR-`` + section body,
- dataset id ``ds<x % 3>``.

It also holds the BM25 query terms of the retrieval rows, which the
``queries_fidelity`` oracles read at import time: kept outside ``queries``,
they do not make a family module import the registry it is part of.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

BM25_QUERY = ["spark", "join", "stream"]


def part_number(x: Column) -> Column:
    return x % 37 + 700


def section_body(x: Column) -> Column:
    return F.concat(
        part_number(x).cast("string"), F.lit("."), (x % 7 + 1).cast("string")
    )


def section_id(x: Column) -> Column:
    return F.concat(F.lit("EAR-"), section_body(x))


def dataset_id(x: Column) -> Column:
    return F.concat(F.lit("ds"), (x % 3).cast("string"))


def part_number_sql(x: str) -> str:
    return f"({x}) % 37 + 700"


def section_body_sql(x: str) -> str:
    return f"CAST({part_number_sql(x)} AS VARCHAR) || '.' || CAST(({x}) % 7 + 1 AS VARCHAR)"


def section_id_sql(x: str) -> str:
    return f"'EAR-' || {section_body_sql(x)}"


def dataset_id_sql(x: str) -> str:
    return f"'ds' || CAST(({x}) % 3 AS VARCHAR)"
