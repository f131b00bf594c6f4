"""End-to-end ETL pipeline — the Spark re-expression of the
reference's ``run_etl_script()`` (/root/reference/
etl_pipeline_script.py:34-155, lifecycle E1 in SURVEY.md §3).

Each stage is a lazy DataFrame DAG ending in a lake write. Extraction
is injected as plain DataFrames (the REST layer in ``sources.rest``
produces them), so the pipeline itself is pure Spark and fully
testable offline.

The reference runs its stages one after another because SQL Server
enforces the foreign keys (comments at etl_pipeline_script.py:37,55,
88,137). Here that order survives as *commit* order only: the stages
form a fixed DAG and run on Python threads, each starting once the
tables it reads are final. Each insert commit waits for its FK
parents' writes (``schemas.FOREIGN_KEYS``), the purge commits child
first, and an overwrite stages its snapshot before it waits, so
independent stages overlap. A failed stage cancels every commit not
yet allowed; ``run_etl``'s docstring says which may already have
landed.

Each stage computes its delta once, then writes and counts from that
one result. ``Lake.read`` applies the declared schema, so a read
starts no job. Every row count is observed (``DataFrame.observe``) on
the frame an action already consumes, never recomputed with
``count()``: the dim upserts and match_cards on their lake write; the
two skip-empty appends (seasons, rankings) and the new matches on the
``localCheckpoint`` their append then reads, since the count decides
whether they are written at all. The battlelog is walked once: the new
matches carry their deck into the checkpoint, and match_cards is that
checkpoint's deck exploded. The purge filters by the failed players'
ids as literals. ``audit`` counts its six checks in one action.

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

import functools
import os
import shutil
import threading
import time
import uuid
from collections.abc import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from . import schemas
from .functions.calendar import season_calendar
from .operators import mutations, quality
from .session import local_frame
from .sources.battlelog import _match_views

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

    def overwrite(
        self,
        name: str,
        df: DataFrame,
        before_commit: Callable[[], None] | None = None,
    ) -> None:
        """Atomic full-table rewrite (upsert sink for dims).

        The plan may read the table's CURRENT files — safe, because
        the new snapshot is staged into a sibling directory (never
        clobbering its own input, so no localCheckpoint needed and
        existing caches stay valid). Commit = one ``os.replace`` of
        the pointer; a crash before it leaves ``v<N>`` untouched, a
        re-run after it simply restages ``v<N+1>`` over the orphan.

        ``before_commit`` runs between staging and the commit and may
        block (``run_etl`` waits there for the table's FK parents); if
        it raises, the staged snapshot is removed and nothing commits."""
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
        if before_commit is not None:
            try:
                before_commit()
            except BaseException:
                shutil.rmtree(staged, ignore_errors=True)
                raise
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


# Each insert commit waits for the writes of its FK parents.
FK_PARENTS: dict[str, tuple[str, ...]] = {
    child: tuple(p for c, _, p in schemas.FOREIGN_KEYS if c == child)
    for child, _, _ in schemas.FOREIGN_KEYS
}
# The purge rewrites these child first, in the reference's DELETE order
# (db_ops.py:53-59); each commit waits for the one before it.
PURGE_ORDER = ("match_cards", "matches", "season_rankings", "players")


class _Cancelled(Exception):
    """Raised by a wait once another stage of the run has failed."""


class _Commits:
    """The writes one ``run_etl`` has made visible, by key: a stage's
    name once its write committed (or it chose to write nothing), and
    ``purge <table>`` once the purge's rewrite of that table committed.
    Stages wait here for their inputs and, before each commit, for
    their FK parents. Once a stage fails every wait raises
    ``_Cancelled``, so no further commit starts."""

    def __init__(self) -> None:
        self._cv = threading.Condition()
        self._done: set[str] = set()
        self.error: BaseException | None = None

    def mark(self, key: str) -> None:
        with self._cv:
            self._done.add(key)
            self._cv.notify_all()

    def fail(self, exc: BaseException) -> None:
        with self._cv:
            if self.error is None:
                self.error = exc
            self._cv.notify_all()

    def wait(self, *keys: str) -> None:
        with self._cv:
            self._cv.wait_for(
                lambda: self.error is not None or self._done.issuperset(keys)
            )
            if self.error is not None:
                raise _Cancelled


def _run_all(
    spark: SparkSession, commits: _Commits, targets: list[Callable[[], None]]
) -> None:
    """Run each target on its own Python thread, return once all have
    ended, then re-raise the run's first error. Each thread gets its
    own copy of the caller's local properties (job group, description)
    through ``inheritable_thread_target``."""

    def thread(target: Callable[[], None]) -> threading.Thread:
        def run() -> None:
            try:
                target()
            except BaseException as exc:  # re-raised by the caller below
                commits.fail(exc)

        return threading.Thread(target=inheritable_thread_target(spark)(run))

    threads = [thread(t) for t in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if commits.error is not None:
        raise commits.error


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
    ``run_etl stage=<name> start_s=<s> wall_s=<s> rows=<n> jobs=<n>``
    line per stage, ``start_s`` counted from the start of the run and
    ``jobs`` the Spark jobs the stage started in this run (each stage
    then tags its jobs with a tag unique to the run, read back from
    the status store once the run has ended).

    The stages form a fixed DAG, each on its own Python thread, its
    jobs in the caller's job group with the description
    ``run_etl <stage>``. A stage starts once the tables it reads are
    final: the purge after players and season_rankings; matches after
    seasons and the purge's matches commit; match_cards after matches
    and the purge's match_cards commit. Each insert commit waits for
    its FK parents (``FK_PARENTS``); an overwrite stages its snapshot
    first and waits only before the pointer swap. The purge stages its
    four snapshots at once and commits them child first
    (``PURGE_ORDER``).

    If a stage raises, every wait in the run raises from then on, so
    no further commit starts; ``run_etl`` re-raises the first error
    once every stage thread has ended. Commits that were already
    allowed may have landed: seasons, clans and cards wait for no
    other stage, and a stage whose inputs and FK parents had committed
    before the failure may have committed too. A stage still waiting
    for a failed stage never commits, and its staged snapshot is
    removed: after a clans failure, players, season_rankings, matches
    and match_cards keep their prior versions and files."""
    from .session import prepare

    prepare(spark)  # UTC rendering of match_key regardless of host tz
    failed_players = failed_players or []
    commits = _Commits()
    rows: dict[str, int] = {}
    runs: dict[str, tuple[float, float]] = {}  # stage -> (start_s, wall_s)
    handoff: dict[str, DataFrame] = {}  # the new matches, for match_cards

    def append(name: str, df: DataFrame) -> None:
        commits.wait(*FK_PARENTS.get(name, ()))
        lake.append(name, df)

    def upsert(name: str, batch: DataFrame, key: str) -> int:
        # MERGE upsert (etl_pipeline_script.py:72-93, db_ops.py:128-149)
        target = lake.read(name)
        merged, obs = _counted(
            mutations.upsert(target, batch.select(*target.columns), [key])
        )
        lake.overwrite(
            name, merged, lambda: commits.wait(*FK_PARENTS.get(name, ()))
        )
        return obs.get["rows"]

    def insert_new(name: str, new: DataFrame) -> int:
        # The delta is computed once, into a checkpoint whose count is
        # observed; the append reads the checkpoint. An empty delta
        # writes nothing: an empty append to a flat table would still
        # add a file.
        counted, obs = _counted(new)
        delta = counted.localCheckpoint(eager=True)
        n = obs.get["rows"]
        if n:
            append(name, delta)
        return n

    def seasons() -> int:
        # generate + dedup + insert-if-absent (etl_pipeline_script.py:38-53)
        cal = season_calendar(
            spark, calendar_from, calendar_months
        ).dropDuplicates(["season_id"])
        return insert_new("seasons", mutations.insert_if_absent(
            cal, lake.read("seasons").select("season_id"), ["season_id"]
        ))

    def season_rankings() -> int:
        # insert-if-absent by season (etl_pipeline_script.py:96-107)
        return insert_new("season_rankings", mutations.insert_if_absent(
            rankings,
            lake.read("season_rankings").select("season_id").distinct(),
            ["season_id"],
        ))

    def purge() -> int:
        # failed players, child first (db_ops.py:53-59;
        # etl_pipeline_script.py:109-112)
        purged = mutations.cascade_delete(
            {n: lake.read(n) for n in PURGE_ORDER}, "player_id", failed_players
        )

        def rewrite(name: str, after: tuple[str, ...]) -> None:
            if lake.exists(name):
                lake.overwrite(name, purged[name], lambda: commits.wait(*after))
            commits.mark(f"purge {name}")

        after = [()] + [(f"purge {n}",) for n in PURGE_ORDER[:-1]]
        _run_all(
            spark,
            commits,
            [functools.partial(rewrite, n, a) for n, a in zip(PURGE_ORDER, after)],
        )
        return len(failed_players)

    def new_matches() -> int:
        # flatten, incremental-gate, key, append
        # (etl_pipeline_script.py:119-137); each view keeps its deck
        # for match_cards
        views = _match_views(battlelogs, seasons=lake.read("seasons"))
        fresh = mutations.insert_if_absent(
            views, lake.read("matches").select("match_key"), ["match_key"]
        )
        # deterministic surrogate ids continuing from the current max
        # (M6: IDENTITY replacement), as the declared bigint; a battle
        # listed twice in the batch lands once (uq_match_key)
        start = (
            lake.read("matches")
            .agg(F.coalesce(F.max("match_view_id"), F.lit(0)))
            .collect()[0][0]
        )
        keyed, obs = _counted(
            mutations.first_per_key_with_ids(
                fresh, "match_key", "match_view_id", start_at=int(start)
            ).withColumn("match_view_id", F.col("match_view_id").cast("bigint"))
        )
        # localCheckpoint (not cache): appending to the matches path
        # below triggers refreshByPath, which would invalidate a cache
        # whose lineage reads that same path — the anti-join would then
        # recompute against the just-appended file and yield nothing.
        delta = keyed.localCheckpoint(eager=True)
        n_new = obs.get["rows"]
        if n_new:
            append("matches", delta.select(*[f.name for f in schemas.MATCHES]))
            handoff["new"] = delta
        return n_new

    def new_match_cards() -> int:
        # the new match views' decks (second-pass extraction,
        # etl_pipeline_script.py:141-147), ids already attached
        if not handoff:
            return 0
        cards, obs = _counted(
            handoff["new"].select(
                "match_view_id", "match_key", "player_id",
                F.explode("deck").alias("card_id"),
            )
        )
        append("match_cards", cards)
        return obs.get["rows"]

    def after_purge(name: str) -> tuple[str, ...]:
        return (f"purge {name}",) if failed_players else ()

    cards_clean = cards.withColumn(  # null→0 coercion (db_ops.py:128-149)
        "elixir_cost", F.coalesce(F.col("elixir_cost"), F.lit(0))
    )
    # (name, stats key, inputs it waits for, body), in run-log order
    stages: list[tuple[str, str, tuple[str, ...], Callable[[], int]]] = [
        ("seasons", "seasons_inserted", (), seasons),
        ("clans", "clans_total", (), lambda: upsert("clans", clans, "clan_id")),
        ("players", "players_total", (),
         lambda: upsert("players", players, "player_id")),
        ("season_rankings", "rankings_inserted", (), season_rankings),
        *([("purge", "players_purged", ("players", "season_rankings"), purge)]
          if failed_players else []),
        ("cards", "cards_total", (), lambda: upsert("cards", cards_clean, "card_id")),
        ("matches", "matches_inserted", ("seasons", *after_purge("matches")),
         new_matches),
        ("match_cards", "match_cards_inserted",
         ("matches", *after_purge("match_cards")), new_match_cards),
    ]
    sc = spark.sparkContext
    run_tag = f"run_etl-{uuid.uuid4().hex}"
    t_run = time.perf_counter()

    def run(name: str, key: str, inputs: tuple[str, ...], body) -> None:
        commits.wait(*inputs)
        sc.setJobDescription(f"run_etl {name}")
        if log_dir is not None:
            sc.addJobTag(f"{run_tag}-{name}")  # inherited by purge threads
        t0 = time.perf_counter()
        rows[key] = body()
        runs[name] = (t0 - t_run, time.perf_counter() - t0)
        commits.mark(name)

    _run_all(spark, commits, [functools.partial(run, *s) for s in stages])
    stats = {key: rows[key] for _, key, _, _ in stages}

    if log_dir is not None:
        from . import runlog

        # Every job of the run has ended; once the listener bus has
        # drained, the status store holds each one with its stage's tag.
        jvm_sc = sc._jsc.sc()
        jvm_sc.listenerBus().waitUntilEmpty()
        tracker = jvm_sc.statusTracker()
        logger = runlog.run_logger(log_dir)
        logger.info("run_etl completed lake=%s", lake.root)
        runlog.log_stats(logger, "run_etl", stats)
        for name, key, _, _ in stages:
            logger.info(
                "run_etl stage=%s start_s=%.3f wall_s=%.3f rows=%d jobs=%d",
                name, *runs[name], stats[key],
                len(tracker.getJobIdsForTag(f"{run_tag}-{name}")),
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
