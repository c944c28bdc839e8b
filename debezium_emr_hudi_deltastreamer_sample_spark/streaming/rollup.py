"""Incremental rollup maintenance (continuous aggregation): keep a
time-bucketed aggregate table up to date from append batches without ever
re-scanning history — the "hypertable rollup" pattern for 100 TB event
streams.

The trick is additivity: maintain (count, sum, min, max) partials per (bucket, keys);
each micro-batch aggregates ITSELF (map-side partials, tiny output), then
merges with the stored rollup by summing partials per group. Derived
metrics (avg) are computed at read time. Cost per batch is O(batch) + a
rollup-sized merge, independent of total history; the rollup table is
bucket-count sized, not event-count sized.

Crash-safety (the transactional-foreachBatch-sink contract): each applied
batch becomes ONE immutable commit directory published with a single
filesystem rename. The commit NAME is the sequence number alone — the
compare-and-swap property requires that any two writers publishing at the
same seq collide on the name, whatever batch/run they carry — and the
(batch id, run id) provenance rides INSIDE the directory as an empty
marker file written into the stage BEFORE the rename, so there is still
no separate marker write that could diverge from the data. A
crash before the publish leaves only staging garbage (never visible to
readers); after it the batch is durably applied. The publish goes through
the commit log's fsutil.CommitTimeline: atomic directory rename on
local/HDFS, and on object stores (where directory rename is a torn
copy+delete) the commit-POINTER protocol — stage immutably, CAS one tiny
pointer file via conditional create — so the single-rename guarantee
holds there too.

Replay/restart semantics: Structured Streaming batch ids are monotone PER
CHECKPOINT, so dedup is keyed by (run_id, batch_id) where ``run_id``
should identify the checkpoint (pass e.g. the checkpoint path). Replaying
a batch id already committed for the same run is a no-op; a NEW run (fresh
checkpoint) starts its own batch counter and is applied from scratch —
new data is never silently skipped because some earlier run reached a
higher batch id.

Use from ``foreachBatch`` (the engine's CDC shape, SURVEY.md §7.4.5) or
standalone on batch appends.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsutil import CommitTimeline

# Commit naming: seq-only directory name (true CAS — two writers at the
# same seq MUST collide on the name, whatever batch/run they carry) with
# the (batch, run) provenance as an empty marker FILE inside the commit.
# Carrying (seq, batch, run) in the name itself broke the compare-and-swap:
# two concurrent writers of different batches built DIFFERENT names at the
# SAME seq, both renames succeeded, and the next tip folded only one of
# them — permanent undercount.
_COMMIT_NAME = "c{seq:012d}"
_META_RE = re.compile(r"^_applied_b(\d{12})_(.+)$")


class IncrementalRollup:
    """Additive (count/sum/min/max) rollup of an event stream at a fixed time
    bucket, persisted as versioned parquet commits under ``path``__commits.

    ``keep_commits`` is also the CONCURRENT-READER window: a reader (or a
    racing committer's merge) planned against the current tip keeps its
    files for keep_commits-1 further commits before retention may delete
    them — run with the default (2) or higher whenever readers or multiple
    writers overlap; keep_commits=1 is single-writer-then-read only."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        ts_col: str,
        bucket: str,
        keys: Sequence[str],
        value_col: str,
        keep_commits: int = 2,
    ) -> None:
        self.spark = spark
        self.path = path
        self.ts_col = ts_col
        self.bucket = bucket
        self.keys = list(keys)
        self.value_col = value_col
        self.keep_commits = max(1, keep_commits)
        self._timeline = CommitTimeline(
            spark, f"{path}__commits", _COMMIT_NAME, f"{path}__stage"
        )
        # Reserved partials-schema names: a key/ts/value column with one of
        # these would emit duplicate columns inside _partials (opaque
        # AMBIGUOUS_REFERENCE mid-apply) or be silently shadowed in read()
        # — fail loudly at the boundary, like merge._reject_reserved.
        reserved = {"w", "bucket_start", "n", "total", "vmin", "vmax", "mean"}
        clash = reserved & ({ts_col, value_col} | set(self.keys))
        if clash:
            raise ValueError(
                f"rollup column name(s) {sorted(clash)} collide with the "
                "partials schema (w/bucket_start/n/total/vmin/vmax/mean); "
                "rename them before building the rollup"
            )

    def _partials(self, df: DataFrame) -> DataFrame:
        return (
            df.groupBy(
                F.window(self.ts_col, self.bucket).alias("w"), *self.keys
            )
            .agg(
                # count(value), not count(*): total/vmin/vmax ignore NULL
                # values, so n must too or the derived mean diverges from
                # avg(value) on null-bearing groups.
                F.count(F.col(self.value_col)).alias("n"),
                F.sum(F.col(self.value_col).cast("double")).alias("total"),
                F.min(F.col(self.value_col).cast("double")).alias("vmin"),
                F.max(F.col(self.value_col).cast("double")).alias("vmax"),
            )
            .select(
                F.col("w.start").alias("bucket_start"),
                *self.keys,
                "n",
                "total",
                "vmin",
                "vmax",
            )
        )

    # -- commit log ---------------------------------------------------------

    def _hadoop(self):
        return self._timeline.fs, self._timeline.hpath

    def _commits_dir(self) -> str:
        return self._timeline.dir

    def _provenance(self, entries) -> list[tuple[int, int, str, str, str]]:
        """Resolved commits of ``entries`` with their provenance, as
        (seq, batch_id, run_id, content_uri, commit_name), seq-ascending.
        One member listing per RETAINED commit for its marker (retention
        keeps only keep_commits entries plus each run's newest, so this
        stays O(keep_commits) namenode calls — no data files are
        opened)."""
        fs, hpath = self._hadoop()
        out = []
        for seq, _, uri in CommitTimeline.resolved(entries):
            try:
                members = fs.listStatus(hpath(uri))
            except Exception:
                # Retention retired this commit between the listing and
                # the member walk. Safe to skip entirely: _trim never
                # deletes a run's NEWEST commit, so a retired commit's
                # (run, batch) high-water is always superseded by a
                # retained one — skipping cannot re-open replay dedup.
                continue
            marker = None
            for member in members:
                if member.isDirectory():
                    # Crash garbage from a torn move-INTO undo (see
                    # fsutil.heal_nested_dirs) — commits are flat by
                    # protocol; heal before a reader trips on it.
                    fs.delete(member.getPath(), True)
                    continue
                meta = _META_RE.match(member.getPath().getName())
                if meta and marker is None:
                    marker = (
                        seq, int(meta.group(1)), meta.group(2), uri,
                        self._timeline.name(seq),
                    )
            # A commit with no marker would be torn — the marker is written
            # into the STAGE before the publish, so it cannot happen;
            # ignore rather than guess provenance.
            if marker is not None:
                out.append(marker)
        return out

    def _commits(self) -> list[tuple[int, int, str, str, str]]:
        return self._provenance(self._timeline.entries())

    @staticmethod
    def _safe_run(run_id: str) -> str:
        """Filesystem-safe run token. Sanitization alone can COLLIDE two
        distinct run ids ('/ckpt/a_1' and '/ckpt/a-1' both map to
        '-ckpt-a-1'), which would merge their batch-id dedup scopes and
        silently skip the second run's batches — so any id the regex had
        to touch gets a crc32 of the ORIGINAL appended. Untouched ids
        keep their historical token (no migration)."""
        import zlib

        safe = re.sub(r"[^A-Za-z0-9.-]", "-", run_id) or "default"
        if safe != run_id:
            safe += f"-{zlib.crc32(run_id.encode()):08x}"
        return safe

    def last_applied_batch(self, run_id: str = "default") -> int:
        run = self._safe_run(run_id)
        return max(
            (b for _, b, r, _, _ in self._commits() if r == run), default=-1
        )

    def apply_batch(self, df: DataFrame, batch_id: int = 0, run_id: str = "default") -> None:
        """Fold one append batch into the rollup, atomically.

        Idempotent under foreachBatch's at-least-once replay: a batch id at
        or below the last committed one FOR THIS RUN is skipped (the
        additive merge would double-count it). The merged rollup is staged
        and published with one rename whose target name IS the applied-batch
        record — data and marker cannot diverge (see module docstring)."""
        run = self._safe_run(run_id)
        tl = self._timeline
        fs, hpath = self._hadoop()
        # Stall-based retry budget (the SchemaSidecar.publish pattern): a
        # lost CAS where the commit seq MOVED is another run making
        # progress — this writer rebuilds on the new tip and must not
        # count it toward giving up; only no-progress attempts (persistent
        # rename/FS failures) do. A fixed attempt count starved healthy
        # publishers under real contention (tests/test_concurrency_hunt).
        stalled, last_mark = 0, (-1, -1)
        while stalled < 5:
            # settle: merging from the newest resolved commit PAST an
            # in-flight claim would publish a successor that EXCLUDES it —
            # a silent lost update its (run, batch) marker makes permanent.
            entries = tl.settle(tl.entries())
            commits = self._provenance(entries)
            next_seq = tl.next_seq(entries)
            tip = commits[-1][0] if commits else -1
            stalled = 0 if (next_seq, tip) > last_mark else stalled + 1
            last_mark = (next_seq, tip)
            if batch_id <= max(
                (b for _, b, r, _, _ in commits if r == run), default=-1
            ):
                return
            partial = self._partials(df)
            if commits:
                current = self.spark.read.parquet(commits[-1][3])
                merged = (
                    current.unionByName(partial)
                    .groupBy("bucket_start", *self.keys)
                    .agg(
                        F.sum("n").alias("n"),
                        F.sum("total").alias("total"),
                        F.min("vmin").alias("vmin"),
                        F.max("vmax").alias("vmax"),
                    )
                )
            else:
                merged = partial
            # The staged write executes the merge plan exactly once (the
            # plan reads the PREVIOUS commit, the stage is fresh — no
            # read-under-overwrite), so no checkpoint materialization is
            # needed; retention keeps the read commit alive through the
            # write (keep_commits >= 2 and the per-run newest exemption).
            with tl.stage() as stage:
                merged.write.mode("overwrite").parquet(stage)
                # Provenance marker INSIDE the stage, before the publish —
                # data and applied-batch record publish together
                # (underscore-prefixed: parquet readers ignore it).
                fs.createNewFile(
                    hpath(f"{stage}/_applied_b{batch_id:012d}_{run}")
                )
                committed = tl.publish(stage, next_seq, built_on=entries)
            if committed:
                self._trim(entries, commits, run)
                return
            # Lost the seq: a concurrent writer published first — a replay
            # of this very batch (caught by the high-water check on the
            # next pass) or a different batch, making our staged merge
            # stale. Rebuild from the new tip rather than publishing a
            # merge that would drop the other batch's data.
        raise RuntimeError(
            f"could not publish rollup commit for batch {batch_id} (run {run}) "
            f"after 5 attempts — persistent rename failures at {self._commits_dir()}"
        )

    def _trim(self, entries, superseded, committing_run: str) -> None:
        """Retention: best-effort removal of superseded commits (readers of
        a just-superseded commit finish their scan; parquet files are
        immutable until deleted). A run's NEWEST commit is never trimmed —
        it is the only durable record of that run's applied-batch
        high-water-mark, and deleting it would let an at-least-once replay
        from that run re-apply (double-count) its last batch. The run that
        just committed is exempt: its new commit now carries its
        high-water-mark, so its older commits are fair game. Unresolved
        names are left alone."""
        keep = {s for s, _, uri in entries if uri is None}
        if self.keep_commits > 1:
            keep |= {s for s, _, _, _, _ in superseded[-(self.keep_commits - 1):]}
        newest_per_run: dict[str, int] = {}
        for seq, _, r, _, _ in superseded:
            if r != committing_run:
                newest_per_run[r] = max(newest_per_run.get(r, -1), seq)
        self._timeline.trim(entries, keep | set(newest_per_run.values()))

    def processor(self, run_id: str = "default"):
        """foreachBatch-compatible callable. Pass a ``run_id`` that
        identifies the CHECKPOINT (e.g. its path) so batch-id dedup is
        scoped to the stream run that generated the ids."""

        def process(df: DataFrame, batch_id: int) -> None:
            self.apply_batch(df, batch_id, run_id=run_id)

        return process

    def read(self) -> DataFrame:
        """Rollup with derived metrics (avg from the additive partials)."""
        commits = self._commits()
        if not commits:
            raise FileNotFoundError(f"no rollup commits at {self._commits_dir()}")
        r = self.spark.read.parquet(commits[-1][3])
        return r.withColumn("mean", F.col("total") / F.col("n"))

    def reaggregate(self, coarser_bucket: str) -> DataFrame:
        """Hierarchical rollup: derive a COARSER-bucketed rollup from the
        stored partials without touching the raw events — the property
        additive partials buy (count/sum re-sum, min/max re-min/max). An
        hour table answering day/week/month queries from bucket-count-sized
        input is the other half of the continuous-aggregation story at
        100 TB: one fine rollup feeds every coarser resolution. Requires
        ``coarser_bucket`` to be a multiple of the fine bucket (window()
        aligns both to the epoch, so fine buckets nest exactly)."""
        commits = self._commits()
        if not commits:
            raise FileNotFoundError(f"no rollup commits at {self._commits_dir()}")
        fine = self.spark.read.parquet(commits[-1][3])
        coarse = (
            fine.groupBy(
                F.window("bucket_start", coarser_bucket).alias("w"), *self.keys
            )
            .agg(
                F.sum("n").alias("n"),
                F.sum("total").alias("total"),
                F.min("vmin").alias("vmin"),
                F.max("vmax").alias("vmax"),
            )
            .select(
                F.col("w.start").alias("bucket_start"),
                *self.keys,
                "n",
                "total",
                "vmin",
                "vmax",
            )
        )
        return coarse.withColumn("mean", F.col("total") / F.col("n"))
