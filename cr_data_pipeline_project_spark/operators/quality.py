"""Data-quality assertion operators — Spark has no enforced
constraints, so the reference DDL's PK/UNIQUE/FK/CHECK rules
(/root/reference/sql/db_creation_script.sql:22-181) become queries
that return *violations* (SURVEY.md §1.3).

Each checker returns a DataFrame of offending rows (empty = healthy)
so callers can count, log, quarantine, or fail. ``assert_empty``
wraps any of them into a hard gate; ``violation_counts`` counts a
named set of them in one Spark action (``pipeline.audit``, q225).

Scale notes: every check is a single aggregate or anti-join over the
checked table — they pipeline with the load job and reuse its scan
when cached. Run them inside the same action as the write (Observation
API) or as one post-commit audit action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def duplicate_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """PK/UNIQUE violation: key groups with more than one row
    (e.g. uq_match_key, db_creation_script.sql:105)."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .where(F.col("n_rows") > 1)
    )


def fk_orphans(child: DataFrame, parent: DataFrame, on: list[str]) -> DataFrame:
    """FK violation: child rows whose key is absent from the parent
    (the 8 FKs at db_creation_script.sql:122-159). NULL FKs are
    legal (clanless players, api_extract.py:48)."""
    cond = None
    for k in on:
        c = F.col(k).isNotNull()
        cond = c if cond is None else cond & c
    return child.where(cond).join(parent.select(*on), on, "left_anti")


def check_violations(df: DataFrame, condition) -> DataFrame:
    """CHECK-constraint violation rows: everything NOT satisfying the
    condition (ck_elixir_cost 0-10, ck_season_dates start<end)."""
    return df.where(~condition | condition.isNull())


def deck_size_violations(
    match_cards: DataFrame, key_cols: list[str], expected: int = 8
) -> DataFrame:
    """The 8-cards-per-deck invariant the reference asserts
    arithmetically in its logs (etl_pipeline_script.py:148)."""
    return (
        match_cards.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n_cards"))
        .where(F.col("n_cards") != expected)
    )


def violation_counts(checks: dict[str, DataFrame]) -> DataFrame:
    """One ``(check_name, n_violations bigint)`` row per named check,
    all computed by a single action: each check becomes a
    literal-labelled one-row count aggregate, and the rows are
    unioned in the dict's order."""
    rows = [
        df.agg(F.count(F.lit(1)).cast("bigint").alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )
        for name, df in checks.items()
    ]
    out = rows[0]
    for row in rows[1:]:
        out = out.unionByName(row)
    return out


def assert_empty(violations: DataFrame, what: str) -> None:
    n = violations.limit(1).count()
    if n:
        sample = violations.limit(5).collect()
        raise AssertionError(f"data-quality violation [{what}]: e.g. {sample}")
