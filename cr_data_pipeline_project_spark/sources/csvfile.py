"""CSV corpus ingest with quarantine routing — the delimited-export
twin of the JSONL loader (sources/jsonl.py), sharing its contract:
parse against an EXPLICIT schema, route every unusable line to a
quarantine feed with the raw bytes + source file + machine-readable
reason, never drop a line silently, and reconcile line totals
(count(clean) + count(quarantine) == count(text lines) — tested).

Same one-scan design: ``spark.read.text`` + ``from_csv`` (whole-stage
codegen) with the corrupt-record column riding inside the schema, so
clean and quarantine are two filters over one narrow plan — no
``.cache()`` (the documented corrupt-column pattern's requirement, a
non-starter at 100 TB), no second format, zero shuffles.

CSV-specific reason taxonomy (from_csv PERMISSIVE behavior, probed
empirically): a structural failure (wrong column arity, unclosed
quote) corrupts BOTH the typed parse and an all-strings probe parse;
a type failure corrupts only the typed one. Header lines are
recognized exactly (raw == the schema's field names joined by the
separator) and get their own reason — a loader that silently
swallowed them would also swallow a data row that happens to equal
the header, and one that admitted them would ship a poisoned row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from .jsonl import _CORRUPT, split_lines, with_corrupt_column


def _csv_opts() -> dict:
    return {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": _CORRUPT}


def parse_csv_lines(
    text_df: DataFrame, schema: T.StructType, sep: str = ","
) -> DataFrame:
    """``value`` lines → (raw_line, src_file, rec, probe_ok) — the
    shared narrow plan. ``probe_ok`` is the all-strings re-parse
    verdict that splits type_mismatch from malformed_csv (every
    field as string: arity/quoting failures still corrupt it, type
    failures cannot)."""
    full = with_corrupt_column(schema)
    probe = with_corrupt_column(
        T.StructType(
            [T.StructField(f.name, T.StringType()) for f in schema.fields]
        )
    )
    opts = {**_csv_opts(), "sep": sep}
    ddl = lambda st: ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in st.fields
    )
    ddl_full, ddl_probe = ddl(full), ddl(probe)
    return text_df.select(
        F.col("value").alias("raw_line"),
        F.input_file_name().alias("src_file"),
        F.from_csv(F.col("value"), ddl_full, opts).alias("rec"),
        F.from_csv(F.col("value"), ddl_probe, opts)
        .getField(_CORRUPT)
        .isNull()
        .alias("probe_ok"),
    )


def split_csv(
    parsed: DataFrame,
    schema: T.StructType,
    required: tuple[str, ...] = (),
    sep: str = ",",
) -> tuple[DataFrame, DataFrame]:
    """Route a ``(raw_line, src_file, rec, probe_ok)`` frame into
    ``(clean, quarantine)`` — ONE routing definition for batch and
    any future streaming ingest (the split_jsonl discipline).

    Reasons: ``blank_line`` (whitespace-only; counted so totals
    reconcile), ``header_line`` (exactly the schema's column names
    joined by ``sep``), ``malformed_csv`` (arity or quoting failure
    — the all-strings probe also fails), ``type_mismatch`` (arity
    fine, at least one field failed its declared type),
    ``missing_required:<col>`` (the order of
    :func:`sources.jsonl.split_lines`)."""
    header = F.col("raw_line") == F.lit(sep.join(schema.fieldNames()))
    return split_lines(
        parsed,
        schema,
        required,
        lambda corrupt: [
            (header, "header_line"),
            (corrupt & F.col("probe_ok"), "type_mismatch"),
            (corrupt, "malformed_csv"),
        ],
    )


def read_csv_corpus(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    required: tuple[str, ...] = (),
    sep: str = ",",
) -> tuple[DataFrame, DataFrame]:
    """Returns ``(clean, quarantine)`` — see :func:`split_csv` for
    the routing contract and reason taxonomy."""
    return split_csv(
        parse_csv_lines(spark.read.text(path), schema, sep),
        schema,
        required,
        sep,
    )
