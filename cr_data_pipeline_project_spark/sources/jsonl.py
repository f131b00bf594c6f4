"""JSONL corpus ingest with quarantine routing — the production
loader pattern for LLM training corpora (one JSON document per
line, web-crawl / dump exports): parse against an EXPLICIT schema,
route every unusable line to a quarantine feed carrying the raw
bytes, the source file, and a machine-readable reason, and never
drop a line silently.

Complements the reference's JSON sources (S5,
/root/reference/src/api_extract.py:162-252 lands trusted API
payloads): corpus dumps are UNtrusted — truncated lines, encoding
damage, schema drift — and a silent ``PERMISSIVE`` null is how a
pipeline loses 2% of its corpus without noticing.

Design: ONE ``spark.read.text`` scan per consumer; parsing is
``from_json`` (whole-stage codegen) so clean and quarantine are two
filters over the same narrow plan — no caching (Spark's documented
corrupt-record-column pattern requires ``.cache()`` before the
corrupt rows can be isolated, a non-starter on a 100 TB read), no
second format. Everything is line-local, so the scan parallelizes
per split with zero shuffles.

Scale notes (100 TB of JSONL):
- text() splits on line boundaries inside large files — full
  parallelism without small-file pressure.
- from_json + the validity filters stay inside one codegen stage;
  the quarantine branch carries raw lines only for the (rare)
  failing rows, the clean branch prunes ``raw_line`` immediately.
- Writing both outputs materializes the scan twice; when the input
  is object-store-cold, land the parsed struct once and fork from
  the landed copy instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T


_CORRUPT = "__corrupt_record"


def check_required(schema: T.StructType, required: tuple[str, ...]) -> None:
    """Reject a ``required`` name absent from the schema — shared by
    the batch split and the streaming ingest (which must fail BEFORE
    ``.start()``, not as a StreamingQueryException inside the first
    micro-batch with the checkpoint already created)."""
    for col in required:
        if col not in schema.fieldNames():
            raise ValueError(
                f"required column {col!r} is not in the schema: "
                f"{schema.fieldNames()}"
            )


def with_corrupt_column(schema: T.StructType) -> T.StructType:
    """``schema`` plus the loader's reserved corrupt-record column —
    the parse schema of the JSONL and CSV loaders; a schema that
    already names that column is rejected."""
    if _CORRUPT in schema.fieldNames():
        raise ValueError(
            f"schema field {_CORRUPT!r} collides with the loader's "
            "reserved corrupt-record column — rename it"
        )
    return T.StructType(
        [*schema.fields, T.StructField(_CORRUPT, T.StringType())]
    )


def split_lines(
    parsed: DataFrame,
    schema: T.StructType,
    required: tuple[str, ...],
    reasons,
) -> tuple[DataFrame, DataFrame]:
    """Route a parsed ``(raw_line, src_file, rec, ...)`` frame into
    ``(clean, quarantine)`` — the one quarantine router behind
    :func:`split_jsonl` and ``csvfile.split_csv``. A line's reason is
    the first that holds of: ``blank_line``; the format's own
    ``(condition, reason)`` pairs, ``reasons(corrupt)``, in order
    (``corrupt``: the typed parse failed); then
    ``missing_required:<col>`` in ``required`` order. ``clean`` is
    the reason-less rows projected to the schema's columns;
    ``quarantine`` is ``(raw_line, src_file, reason)``."""
    check_required(schema, required)
    # \s-anywhere, not F.trim: trim strips ASCII spaces only, and a
    # tab-padded blank line mislabeled malformed is exactly the
    # false alarm the reason taxonomy exists to avoid
    reason = F.when(F.col("raw_line").rlike(r"^\s*$"), F.lit("blank_line"))
    corrupt = F.col("rec").isNull() | F.col("rec").getField(
        _CORRUPT
    ).isNotNull()
    missing = [
        (F.col("rec").getField(col).isNull(), f"missing_required:{col}")
        for col in required
    ]
    for cond, name in [*reasons(corrupt), *missing]:
        reason = reason.when(cond, F.lit(name))
    p = parsed.withColumn("reason", reason)
    clean = p.where(F.col("reason").isNull()).select(
        *[F.col("rec").getField(f).alias(f) for f in schema.fieldNames()]
    )
    quarantine = p.where(F.col("reason").isNotNull()).select(
        "raw_line", "src_file", "reason"
    )
    return clean, quarantine


def parse_lines(text_df: DataFrame, schema: T.StructType) -> DataFrame:
    """``value`` lines (batch OR streaming text source) →
    (raw_line, src_file, rec struct) — the shared narrow plan.

    The corrupt-record column rides INSIDE the ``from_json`` schema:
    PERMISSIVE mode yields an all-NULL struct for a malformed line
    (indistinguishable from a valid ``{}``), so malformedness must be
    observed through the corrupt column, not struct nullness."""
    return text_df.select(
        F.col("value").alias("raw_line"),
        F.input_file_name().alias("src_file"),
        F.from_json(
            F.col("value"),
            with_corrupt_column(schema),
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": _CORRUPT},
        ).alias("rec"),
    )


def _parsed(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return parse_lines(spark.read.text(path), schema)


def split_jsonl(
    parsed: DataFrame,
    schema: T.StructType,
    required: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """Route a ``(raw_line, src_file, rec)`` frame (from
    :func:`_parsed`, batch or micro-batch) into ``(clean,
    quarantine)`` — ONE routing definition shared by the batch reader
    and the streaming ingest, so their accept/reject semantics cannot
    drift (the reasons of :func:`split_lines`)."""
    # type_mismatch vs malformed_json needs an independent "is this
    # a JSON object at all" probe — a schema-field-salvaged heuristic
    # mislabels a record whose ONLY present field type-fails (and is
    # config-dependent via spark.sql.json.enablePartialResults). A
    # map<string,string> parse succeeds iff the line is a JSON
    # object, regardless of the declared schema.
    is_obj = F.from_json(
        F.col("raw_line"), "map<string,string>"
    ).isNotNull()
    return split_lines(
        parsed,
        schema,
        required,
        lambda corrupt: [
            (corrupt & is_obj, "type_mismatch"),
            (corrupt, "malformed_json"),
        ],
    )


def read_jsonl_corpus(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    required: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """Returns ``(clean, quarantine)``.

    ``clean``: one row per parseable line with every ``required``
    field non-null, projected to the schema's columns.

    ``quarantine``: one row per rejected line —
    ``(raw_line, src_file, reason)`` with ``reason`` one of
    ``blank_line`` (whitespace-only, not an error worth alerting on
    but counted so line totals reconcile), ``malformed_json`` (not a
    JSON OBJECT — broken syntax, or a top-level array/scalar/null:
    the corpus contract is one object per line), ``type_mismatch``
    (a JSON object, but at least one field failed its declared type;
    admitting it would ship silent schema drift downstream), or
    ``missing_required:<col>``
    (well-typed, but a declared required field is absent or
    explicitly null; the first failing column in ``required`` order
    names the reason).

    Conservation contract (tested): every input line lands in
    exactly one output — ``count(clean) + count(quarantine) ==
    count(text lines)``.
    """
    return split_jsonl(_parsed(spark, path, schema), schema, required)


def quarantine_report(quarantine: DataFrame) -> DataFrame:
    """Per-(file, reason) reject counts — the ingest health signal an
    operator alerts on (a reason spiking on one file = upstream
    export broke). Partial-combining aggregate over a
    files×reasons-bounded key space."""
    return (
        quarantine.groupBy("src_file", "reason")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .orderBy("src_file", "reason")
    )
