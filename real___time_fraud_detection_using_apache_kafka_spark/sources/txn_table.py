"""Minimal transactional parquet table (Delta-style log, zero deps).

The reference's only persistence is append-only text logs with no
atomicity — a reader can observe half-written records (torn appends are
real in its committed logs; see SURVEY §2.11-5).  At 100 TB the same
problem reappears as partial multi-file writes: a plain parquet
directory becomes visible file-by-file, so concurrent readers see
half a commit.  This module gives the engine's sinks an ATOMIC
visibility boundary with the standard log-of-snapshots design
(the mechanism Delta Lake / Iceberg use, reduced to its core):

- the table directory holds immutable data files plus ``_txnlog/``
  with one JSON entry per version: the COMPLETE list of files that
  make up that snapshot;
- writers stage data files first (invisible to readers — readers only
  trust the log), then publish by creating ``_txnlog/<version>.json``
  with ``O_EXCL``: the filesystem's atomic create-if-absent is the
  whole commit protocol.  Two racing writers both stage; exactly one
  wins the version; the loser re-reads the log and retries against the
  new snapshot (optimistic concurrency) — staged files are never
  shared, so retries need no data rewrite for ``append``;
- readers resolve a snapshot by reading ONE log entry (latest, or a
  requested ``version`` — time travel), then scan exactly those files.
  A crashed writer leaves only unreferenced stage files, cleaned by
  ``vacuum``.

Scale notes: the log entry is O(files), written/read driver-side once
per commit — the data path stays fully distributed (plain parquet
scans of the referenced files, all pushdown/pruning intact).  On an
object store the ``O_EXCL`` create maps to a conditional PUT
(if-none-match), the same primitive the production formats use.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

_LOG_DIR = "_txnlog"


class CommitConflict(RuntimeError):
    """Another writer committed this version first (after retries)."""


class TxnTable:
    def __init__(self, path: str):
        self.path = path
        self.log_dir = os.path.join(path, _LOG_DIR)

    # ------------------------------------------------------------- log --
    def versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        return sorted(
            int(f[:-5]) for f in os.listdir(self.log_dir) if f.endswith(".json")
        )

    def _entry(self, version: int) -> dict:
        with open(os.path.join(self.log_dir, f"{version:020d}.json")) as fh:
            return json.load(fh)

    def _snapshot_files(self, version: int | None) -> tuple[int, list[str]]:
        vs = self.versions()
        if not vs:
            return -1, []
        v = vs[-1] if version is None else version
        if v not in vs:
            raise ValueError(f"version {v} not in {vs}")
        return v, self._entry(v)["files"]

    # ----------------------------------------------------------- write --
    def _stage(self, df: DataFrame) -> list[str]:
        stage = os.path.join(self.path, f"stage-{uuid.uuid4().hex}")
        df.write.mode("error").parquet(stage)
        return sorted(
            os.path.join(stage, f)
            for f in os.listdir(stage)
            if f.endswith(".parquet")
        )

    def _try_commit(self, version: int, files: list[str], action: str,
                    meta: dict | None = None) -> bool:
        os.makedirs(self.log_dir, exist_ok=True)
        entry = {
            "version": version,
            "action": action,
            "files": files,
            "ts": time.time(),
        }
        if meta:
            entry["meta"] = meta
        path = os.path.join(self.log_dir, f"{version:020d}.json")
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False  # lost the race; caller retries on the new snapshot
        with os.fdopen(fd, "w") as fh:
            json.dump(entry, fh)
        return True

    def _write(self, df: DataFrame, action: str, meta: dict | None = None,
               max_retries: int = 10) -> int:
        staged = self._stage(df)
        for _ in range(max_retries):
            latest, files = self._snapshot_files(None)
            new_files = staged if action == "overwrite" else files + staged
            if self._try_commit(latest + 1, new_files, action, meta):
                return latest + 1
        raise CommitConflict(f"lost {max_retries} commit races at {self.path}")

    def append(self, df: DataFrame, meta: dict | None = None) -> int:
        """Atomically add df's rows; returns the committed version.
        ``meta`` rides in the log entry (e.g. a streaming batch ledger)."""
        return self._write(df, "append", meta)

    def overwrite(self, df: DataFrame, meta: dict | None = None) -> int:
        """Atomically replace the table's contents (readers of older
        versions are untouched — their snapshots still resolve)."""
        return self._write(df, "overwrite", meta)

    def last_batch(self, app_id: str) -> int:
        """Highest streaming batch_id committed under ``app_id`` (-1 if
        none) — the read side of the exactly-once sink ledger.

        Scans the log NEWEST-FIRST and stops at the first entry carrying
        ``app_id`` AND a recorded ``batch_id``: a streaming sink commits
        batch ids monotonically, so the most recent matching entry is
        the high-water mark — and an app_id-stamped entry WITHOUT a
        batch_id (e.g. a maintenance overwrite tagged with the app) must
        not mask an older committed mark, which would silently disable
        replay dedup (ADVICE r4).  Per-call cost is O(entries since
        that app's last batch commit), not O(total log length) — a
        stream's own ledger probe reads one entry, however long-lived
        the table."""
        for v in reversed(self.versions()):
            m = self._entry(v).get("meta") or {}
            if m.get("app_id") == app_id and "batch_id" in m:
                return int(m["batch_id"])
        return -1

    # ------------------------------------------------------------ read --
    def read(self, spark: SparkSession, version: int | None = None,
             merge_schema: bool = False) -> DataFrame:
        """Snapshot read: latest version, or time travel to ``version``.
        An empty (never-committed) table raises ValueError.

        ``merge_schema=True`` unions the column sets of every file in the
        snapshot (columns absent from older files read as null) — the
        append-a-column evolution every long-lived table hits.  Off by
        default: schema merging reads every file's footer up front, a
        metadata cost worth paying only when snapshots actually span a
        schema change."""
        v, files = self._snapshot_files(version)
        if v < 0:
            raise ValueError(f"no committed version at {self.path}")
        if not files:
            # a committed-but-empty snapshot (overwrite of an empty df)
            return spark.createDataFrame([], schema="__empty string").limit(0)
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*files)

    # ------------------------------------------------------- maintain --
    def vacuum(self, keep_versions: int = 1) -> list[str]:
        """Delete data files referenced ONLY by versions older than the
        newest ``keep_versions``, plus orphaned stage files from crashed
        or lost-race writers.  Returns the deleted paths."""
        vs = self.versions()
        keep = set(vs[-keep_versions:]) if vs else set()
        live: set[str] = set()
        for v in keep:
            live.update(self._entry(v)["files"])
        deleted: list[str] = []
        for stage in os.listdir(self.path):
            sdir = os.path.join(self.path, stage)
            if not (stage.startswith("stage-") and os.path.isdir(sdir)):
                continue
            for f in os.listdir(sdir):
                full = os.path.join(sdir, f)
                if full not in live and (
                    f.endswith(".parquet") or f.startswith(("_", "."))
                ):
                    os.remove(full)
                    if f.endswith(".parquet"):
                        deleted.append(full)
            if not os.listdir(sdir):
                os.rmdir(sdir)
        for v in vs:
            if v not in keep:
                os.remove(os.path.join(self.log_dir, f"{v:020d}.json"))
        return deleted


def txn_batch_sink(table: TxnTable, app_id: str):
    """EXACTLY-once ``foreachBatch`` sink: the commit's meta carries
    (app_id, batch_id), and a replayed batch (failure between sink write
    and checkpoint commit — the at-least-once window every foreachBatch
    sink has) is detected from the log and skipped BEFORE staging, so
    the table observes each micro-batch exactly once::

        q = (df.writeStream.foreachBatch(txn_batch_sink(tbl, "scores"))
               .option("checkpointLocation", ckpt).start())

    A batch-id counter ledger written beside the data only approximates
    this, because ledger and data land in separate writes; here the
    ledger IS the atomic commit."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= table.last_batch(app_id):
            return  # replay of an already-committed batch
        table.append(batch_df, meta={"app_id": app_id, "batch_id": batch_id})

    return write
