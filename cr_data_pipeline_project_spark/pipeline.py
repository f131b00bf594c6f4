"""End-to-end ETL pipeline — the Spark re-expression of the
reference's ``run_etl_script()`` (/root/reference/
etl_pipeline_script.py:34-155, lifecycle E1 in SURVEY.md §3).

Each stage is a lazy DataFrame DAG ending in a lake write; the
reference's FK-driven stage ordering survives as *write ordering*
(comments at etl_pipeline_script.py:37,55,88,137). Extraction is
injected as plain DataFrames (the REST layer in ``sources.rest``
produces them), so the pipeline itself is pure Spark and fully
testable offline.

Each stage's work runs once. ``Lake.read`` applies the declared
schema, so a read starts no job. The dim and match_cards row counts
are observed (``DataFrame.observe``) on the frame the lake write
consumes, instead of recomputing the stage with ``count()``; only the
two skip-empty appends (seasons, rankings) and the checkpointed new
matches are counted up front, because the count decides whether and
how they are written. ``audit`` counts its six checks in one action.

Scale notes (100 TB lake)
-------------------------
- Facts (matches, match_cards) are append-only with an anti-join
  incremental gate — the scan of existing keys projects ONLY the key
  column (column-pruned parquet scan), and AQE broadcasts the delta
  side (per-run deltas are tiny vs the accumulated fact table).
- At real scale, partition facts by ``season_id`` so the
  existing-keys scan prunes to recent partitions, and the quality
  audit reads only the partitions the run touched.
- Dims (players, clans, cards) are rewrite-on-upsert — fine while
  dims ≪ facts; a transactional format (Delta/Iceberg MERGE) slots in
  behind ``Lake.overwrite`` without touching pipeline logic.
"""

from __future__ import annotations

import contextlib
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from . import schemas
from .functions.calendar import season_calendar
from .operators import mutations, quality
from .session import local_frame
from .sources.battlelog import flatten_match_cards, flatten_matches

FACTS = ("matches", "match_cards")
DIMS = ("seasons", "players", "clans", "cards", "season_rankings")


class Lake:
    """Minimal parquet lake: one directory per table. Facts are
    hive-partitioned (matches by ``season_id`` — SURVEY §1.4 and the
    reference's own future-work note, README.md:127) so incremental
    gates and audits prune to touched partitions; verify with the
    plan's ``PartitionFilters``.

    Rewritten tables (dim upserts, purges, compaction) use a
    versioned layout with an atomic pointer commit, matching the
    transactionality of the reference's DB-side MERGE/DELETE
    (src/db_ops.py:62-149)::

        <root>/<table>/_VERSION   # text pointer, os.replace()-atomic
        <root>/<table>/v<N>/      # immutable parquet snapshot

    ``overwrite`` stages the full new snapshot into ``v<N+1>`` while
    readers keep using ``v<N>``; the commit point is ONE atomic
    rename of the pointer file, so a crash at any instant leaves the
    previous snapshot intact and readable (crash-injection tested).
    Old versions are GC'd after commit. Append-only facts stay flat
    until first rewritten; appends land inside the current snapshot."""

    PARTITIONING: dict[str, list[str]] = {"matches": ["season_id"]}

    def __init__(
        self, spark: SparkSession, root: str, retain_versions: int = 1
    ):
        self.spark = spark
        self.root = root
        # How many committed snapshots survive GC (≥1). With >1 the
        # superseded snapshots remain addressable via
        # ``read(name, version=...)`` — time travel, Delta/Iceberg
        # style, on plain parquet directories.
        self.retain_versions = max(1, retain_versions)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _pointer(self, name: str) -> str:
        return os.path.join(self.path(name), "_VERSION")

    def current_version(self, name: str) -> int:
        """0 = unversioned (legacy flat dir or absent)."""
        try:
            with open(self._pointer(name)) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return 0

    def data_dir(self, name: str) -> str:
        """Directory holding the table's current data files."""
        v = self.current_version(name)
        return os.path.join(self.path(name), f"v{v}") if v else self.path(name)

    def exists(self, name: str) -> bool:
        return os.path.exists(self.path(name))

    def read(self, name: str, version: int | None = None) -> DataFrame:
        """Read the table's current snapshot, or a retained past one
        (``version=``, see ``versions()``). Past snapshots exist when
        ``retain_versions > 1``; reading a GC'd or never-committed
        version raises.

        Every read applies the table's declared schema
        (``schemas.DOMAIN``), so it starts no schema-inference job,
        returns only the declared columns, and widens files that hold
        a narrower integer than declared (``match_view_id`` written as
        ``int`` before it was cast to ``bigint``). A partition column
        comes last, as it does with inference."""
        if version is not None:
            path = os.path.join(self.path(name), f"v{version}")
            if version not in self.versions(name) or not os.path.isdir(path):
                raise ValueError(
                    f"{name}: version {version} not retained "
                    f"(available: {self.versions(name)})"
                )
        elif self.exists(name):
            path = self.data_dir(name)
        else:
            return local_frame(self.spark, [], schemas.DOMAIN[name])
        return self.spark.read.schema(schemas.DOMAIN[name]).parquet(path)

    def versions(self, name: str) -> list[int]:
        """Committed snapshot versions still on disk, oldest first.
        Excludes any staged-but-uncommitted (orphan) snapshot above
        the pointer."""
        import re

        root = self.path(name)
        cur = self.current_version(name)
        if not os.path.isdir(root):
            return []
        out = []
        for entry in os.listdir(root):
            m = re.fullmatch(r"v(\d+)", entry)
            if m and int(m.group(1)) <= cur:
                out.append(int(m.group(1)))
        return sorted(out)

    def append(self, name: str, df: DataFrame) -> None:
        w = df.write.mode("append")
        parts = self.PARTITIONING.get(name)
        if parts:
            w = w.partitionBy(*parts)
        w.parquet(self.data_dir(name))

    def compact(self, name: str, target_files: int = 1) -> int:
        """Small-file compaction — the 100 TB housekeeping operator:
        incremental appends accumulate per-batch files; rewrite the
        table into ``target_files`` per partition. Returns the file
        count before compaction. (On a transactional format this is
        OPTIMIZE; on plain parquet it's the atomic snapshot swap.)"""
        import glob

        before = len(
            glob.glob(
                os.path.join(self.data_dir(name), "**", "*.parquet"),
                recursive=True,
            )
        )
        df = self.read(name).coalesce(target_files)
        self.overwrite(name, df)
        return before

    def overwrite(self, name: str, df: DataFrame) -> None:
        """Atomic full-table rewrite (upsert sink for dims).

        The plan may read the table's CURRENT files — safe, because
        the new snapshot is staged into a sibling directory (never
        clobbering its own input, so no localCheckpoint needed and
        existing caches stay valid). Commit = one ``os.replace`` of
        the pointer; a crash before it leaves ``v<N>`` untouched, a
        re-run after it simply restages ``v<N+1>`` over the orphan."""
        root = self.path(name)
        os.makedirs(root, exist_ok=True)
        cur = self.current_version(name)
        new_v = cur + 1
        staged = os.path.join(root, f"v{new_v}")
        w = df.write.mode("overwrite")  # clobbers an orphaned stage
        parts = self.PARTITIONING.get(name)
        if parts:
            w = w.partitionBy(*parts)
        w.parquet(staged)
        tmp = os.path.join(root, "_VERSION.tmp")
        with open(tmp, "w") as f:
            f.write(str(new_v))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._pointer(name))  # ← the commit point
        self._gc(name, keep=new_v)

    def to_jdbc(
        self,
        name: str,
        url: str,
        table: str | None = None,
        mode: str = "overwrite",
        driver: str | None = None,
        **options: str,
    ) -> None:
        """Mirror a lake table into a JDBC database — the literal
        reference storage boundary (src/db_ops.py:24-50 connects over
        SQLAlchemy/pyodbc; db_ops.py:52-60 bulk-inserts). Spark's JDBC
        sink batches inserts per partition; pass ``batchsize`` /
        ``numPartitions`` options to tune. The lake stays the source
        of truth; this is an egress mirror for consumers that live on
        a relational DB."""
        w = (
            self.read(name)
            .write.format("jdbc")
            .option("url", url)
            .option("dbtable", table or name)
            .mode(mode)
        )
        if driver:
            w = w.option("driver", driver)
        for k, v in options.items():
            w = w.option(k, v)
        w.save()

    def from_jdbc(
        self,
        url: str,
        table: str,
        driver: str | None = None,
        **options: str,
    ) -> DataFrame:
        """Read a JDBC table (S8/S9 ingress parity with db_ops.py
        reads). For big tables pass ``partitionColumn`` +
        ``lowerBound``/``upperBound``/``numPartitions`` so the scan
        parallelizes into range-pruned queries instead of one
        connection."""
        r = (
            self.spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", table)
        )
        if driver:
            r = r.option("driver", driver)
        for k, v in options.items():
            r = r.option(k, v)
        return r.load()

    def _gc(self, name: str, keep: int) -> None:
        """Drop snapshots older than the retention window (and the
        legacy flat files once the first versioned snapshot
        commits). The newest ``retain_versions`` committed snapshots
        survive for ``read(version=...)``."""
        import re
        import shutil

        oldest_kept = keep - self.retain_versions + 1
        root = self.path(name)
        for entry in os.listdir(root):
            p = os.path.join(root, entry)
            m = re.fullmatch(r"v(\d+)", entry)
            if m and int(m.group(1)) < oldest_kept and os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            elif entry != "_VERSION" and not m:
                # legacy flat-layout files superseded by the snapshot
                (shutil.rmtree if os.path.isdir(p) else os.remove)(p)


@contextlib.contextmanager
def _stage(spark: SparkSession, walls: list, name: str, rows_key: str):
    """Run one ``run_etl`` stage: its jobs carry the description
    ``run_etl <name>`` (the job group stays the caller's), and
    ``(name, wall seconds, rows_key)`` is appended to ``walls``;
    ``rows_key`` names the stats entry holding the stage's row count."""
    sc = spark.sparkContext
    prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"run_etl {name}")
    t0 = time.perf_counter()
    try:
        yield
    finally:
        walls.append((name, time.perf_counter() - t0, rows_key))
        sc.setLocalProperty("spark.job.description", prior)


def _counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with its row count observed by the action that consumes
    it; read ``obs.get["rows"]`` after that action."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def run_etl(
    spark: SparkSession,
    lake: Lake,
    *,
    rankings: DataFrame,
    players: DataFrame,
    clans: DataFrame,
    cards: DataFrame,
    battlelogs: DataFrame,
    failed_players: list[str] | None = None,
    calendar_from: str,
    calendar_months: int,
    log_dir: str | None = None,
) -> dict[str, int]:
    """One pipeline run. Returns per-stage inserted/updated row counts
    (the reference's log metrics, S13); pass ``log_dir`` to also emit
    the reference's durable per-run logfile artifact
    (etl_pipeline_script.py:20-29, see :mod:`.runlog`), which adds one
    ``run_etl stage=<name> wall_s=<s> rows=<n>`` line per stage."""
    from .session import prepare

    prepare(spark)  # UTC rendering of match_key regardless of host tz
    stats: dict[str, int] = {}
    walls: list[tuple[str, float, str]] = []
    failed_players = failed_players or []

    # 1. seasons — generate + dedup + insert-if-absent
    #    (etl_pipeline_script.py:38-53). Counted before the write: an
    #    empty append to this flat table would still add a file.
    with _stage(spark, walls, "seasons", "seasons_inserted"):
        cal = season_calendar(
            spark, calendar_from, calendar_months
        ).dropDuplicates(["season_id"])
        new_seasons = mutations.insert_if_absent(
            cal, lake.read("seasons").select("season_id"), ["season_id"]
        )
        stats["seasons_inserted"] = new_seasons.count()
        if stats["seasons_inserted"]:
            lake.append("seasons", new_seasons)

    # 2-3. clans, players — MERGE upsert (etl_pipeline_script.py:72-93)
    for name, batch, key in (
        ("clans", clans, "clan_id"),
        ("players", players, "player_id"),
    ):
        with _stage(spark, walls, name, f"{name}_total"):
            target = lake.read(name)
            merged, obs = _counted(
                mutations.upsert(target, batch.select(*target.columns), [key])
            )
            lake.overwrite(name, merged)
            stats[f"{name}_total"] = obs.get["rows"]

    # 4. season_rankings — insert-if-absent by season
    #    (etl_pipeline_script.py:96-107); counted before the write, as
    #    seasons are.
    with _stage(spark, walls, "season_rankings", "rankings_inserted"):
        new_rank = mutations.insert_if_absent(
            rankings,
            lake.read("season_rankings").select("season_id").distinct(),
            ["season_id"],
        )
        stats["rankings_inserted"] = new_rank.count()
        if stats["rankings_inserted"]:
            lake.append("season_rankings", new_rank)

    # 4b. purge failed players child-first (db_ops.py:53-59;
    #     etl_pipeline_script.py:109-112)
    if failed_players:
        with _stage(spark, walls, "purge", "players_purged"):
            purge = local_frame(
                spark, [(p,) for p in failed_players], "player_id string"
            )
            current = {
                n: lake.read(n)
                for n in ("match_cards", "matches", "season_rankings", "players")
            }
            purged = mutations.cascade_delete(current, "player_id", purge)
            for name in ("match_cards", "matches", "season_rankings", "players"):
                if lake.exists(name):
                    lake.overwrite(name, purged[name])
            stats["players_purged"] = len(failed_players)

    # 5. cards — MERGE upsert with null→0 coercion (db_ops.py:128-149)
    with _stage(spark, walls, "cards", "cards_total"):
        cards_clean = cards.withColumn(
            "elixir_cost", F.coalesce(F.col("elixir_cost"), F.lit(0))
        )
        target = lake.read("cards")
        merged_cards, obs = _counted(
            mutations.upsert(
                target, cards_clean.select(*target.columns), ["card_id"]
            )
        )
        lake.overwrite("cards", merged_cards)
        stats["cards_total"] = obs.get["rows"]

    # 6. matches + match_cards — flatten, incremental-gate, append
    #    (etl_pipeline_script.py:119-153)
    with _stage(spark, walls, "matches", "matches_inserted"):
        seasons_dim = lake.read("seasons")
        matches = flatten_matches(battlelogs, seasons=seasons_dim)
        existing_keys = lake.read("matches").select("match_key")
        # localCheckpoint (not cache): appending to the matches path
        # below triggers refreshByPath, which would invalidate a cache
        # whose lineage reads that same path — the anti-join would then
        # recompute against the just-appended file and yield nothing.
        new_matches = mutations.insert_if_absent(
            matches, existing_keys, ["match_key"]
        ).localCheckpoint(eager=True)
        n_new = new_matches.count()
        stats["matches_inserted"] = n_new
        if n_new:
            # deterministic surrogate ids continuing from the current
            # max (M6: IDENTITY replacement), as the declared bigint
            start = (
                lake.read("matches")
                .agg(F.coalesce(F.max("match_view_id"), F.lit(0)))
                .collect()[0][0]
            )
            keyed = mutations.add_surrogate_keys(
                new_matches, ["match_key"], "match_view_id", start_at=int(start)
            ).withColumn("match_view_id", F.col("match_view_id").cast("bigint"))
            lake.append(
                "matches", keyed.select(*[f.name for f in schemas.MATCHES])
            )

    # match_cards only for the new match views (second-pass
    # extraction, etl_pipeline_script.py:141-147)
    with _stage(spark, walls, "match_cards", "match_cards_inserted"):
        if n_new:
            new_cards = flatten_match_cards(battlelogs).join(
                new_matches.select("match_key"), "match_key", "left_semi"
            )
            mapping = keyed.select("match_key", "match_view_id")
            with_ids, obs = _counted(
                new_cards.join(F.broadcast(mapping), "match_key").select(  # J1
                    "match_view_id", "match_key", "player_id", "card_id"
                )
            )
            lake.append("match_cards", with_ids)
            stats["match_cards_inserted"] = obs.get["rows"]
        else:
            stats["match_cards_inserted"] = 0

    if log_dir is not None:
        from . import runlog

        logger = runlog.run_logger(log_dir)
        logger.info("run_etl completed lake=%s", lake.root)
        runlog.log_stats(logger, "run_etl", stats)
        for name, wall, rows_key in walls:
            logger.info(
                "run_etl stage=%s wall_s=%.3f rows=%d", name, wall, stats[rows_key]
            )
        runlog.close(logger)
    return stats


def audit(spark: SparkSession, lake: Lake) -> dict[str, int]:
    """Post-load data-quality audit mirroring the DDL constraints
    (SURVEY.md §1.3). Returns violation counts (all should be 0),
    counted in one Spark action."""
    matches = lake.read("matches")
    match_cards = lake.read("match_cards")
    players = lake.read("players")
    seasons = lake.read("seasons")
    counts = quality.violation_counts(
        {
            "dup_match_keys": quality.duplicate_keys(matches, ["match_key"]),
            "dup_season_ids": quality.duplicate_keys(seasons, ["season_id"]),
            "orphan_match_players": quality.fk_orphans(
                matches.select(F.col("player_id")), players, ["player_id"]
            ),
            "bad_crowns": quality.check_violations(
                matches, F.col("crowns").between(0, 3)
            ),
            "bad_decks": quality.deck_size_violations(
                match_cards, ["match_key", "player_id"]
            ),
            "season_date_violations": quality.check_violations(
                seasons, F.col("sn_start_date") < F.col("sn_end_date")
            ),
        }
    )
    return {r["check_name"]: r["n_violations"] for r in counts.collect()}
