"""Epoch-replay protection for foreachBatch sinks.

Structured Streaming guarantees each epoch's ``foreachBatch`` body runs *at
least* once: after a crash between the sink write and the checkpoint commit,
the whole micro-batch replays with the same ``epoch_id``. A sink that blindly
appends therefore double-writes under replay. The native file sink solves
this with its ``_spark_metadata`` transaction log; these helpers give
foreachBatch sinks the same property:

- **committed-epoch markers** (``<sink>/_epochs/<id>``): the batch body
  checks the marker first and skips an already-applied epoch. The marker is
  created atomically (tmp + rename) *after* the data write.
- **snapshot manifest** (``<root>/_MANIFEST.json``): snapshot-publishing
  sinks write each epoch's output to a versioned directory and then flip the
  manifest atomically — a crash mid-write leaves the previous snapshot
  intact and readable, and the replay simply rewrites the orphan directory.

Underscore-prefixed paths are ignored by Spark's file-listing, so markers
and manifests never pollute parquet reads of the sink directory.

These helpers use driver-local filesystem atomics (``os.replace``); on a
real cluster the sink root lives on a shared filesystem reachable from the
driver (foreachBatch bodies run driver-side), or is replaced outright by a
transactional table format (Delta/Iceberg ``txnAppId``/``txnVersion``),
which is the recommended production sink at 100 TB.
"""

from __future__ import annotations

import json
import os
import shutil


def epoch_committed(sink_path: str, epoch_id: int) -> bool:
    """True iff ``mark_epoch_committed(sink_path, epoch_id)`` already ran."""
    return os.path.exists(os.path.join(sink_path, "_epochs", str(epoch_id)))


def mark_epoch_committed(sink_path: str, epoch_id: int) -> None:
    """Atomically record that this epoch's writes reached the sink."""
    d = os.path.join(sink_path, "_epochs")
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{epoch_id}.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("")
    os.replace(tmp, os.path.join(d, str(epoch_id)))


def _manifest_path(root: str) -> str:
    return os.path.join(root, "_MANIFEST.json")


def read_manifest(root: str) -> dict | None:
    """Latest published snapshot: ``{"epoch": int, "dir": str}`` or None."""
    try:
        with open(_manifest_path(root), encoding="utf-8") as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


#: How many published snapshot generations stay on disk. Retention > 2
#: protects in-flight readers that resolved the manifest several publishes
#: ago from having their directory rmtree'd mid-scan under fast micro-batch
#: cadence; the read window is keep_generations - 1 publishes.
DEFAULT_KEEP_GENERATIONS = 4


def publish_snapshot(
    root: str,
    epoch_id: int,
    snapshot_dir: str,
    run_id: str | None = None,
    keep_generations: int = DEFAULT_KEEP_GENERATIONS,
) -> None:
    """Atomically flip the manifest to a fully-written snapshot directory,
    then garbage-collect all but the newest ``keep_generations`` snapshots
    (tracked in the manifest's ``history``; a reader that resolved the
    manifest up to ``keep_generations - 1`` publishes ago can still finish
    its scan). ``run_id`` namespaces the publisher (see ``run_id_for``) so
    a fresh-checkpoint restart's epoch counter cannot collide with a
    previous run's."""
    prev = read_manifest(root)
    history = list(prev.get("history", [prev["dir"]])) if prev else []
    history.append(snapshot_dir)
    history = history[-max(keep_generations, 1):]
    tmp = _manifest_path(root) + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(
            {
                "epoch": epoch_id,
                "dir": snapshot_dir,
                "run_id": run_id,
                "history": history,
            },
            fh,
        )
    os.replace(tmp, _manifest_path(root))
    keep = {os.path.basename(d) for d in history}
    snaps = os.path.join(root, "snapshots")
    if os.path.isdir(snaps):
        for name in os.listdir(snaps):
            if name not in keep:
                shutil.rmtree(os.path.join(snaps, name), ignore_errors=True)


def run_id_for(checkpoint_path: str) -> str:
    """Stable publisher identity: derived from the checkpoint location, so
    restarts of the SAME checkpoint (whose epoch counter continues) share a
    run id, while a FRESH checkpoint (epoch counter restarts at 0) gets a
    new one and can never be mistaken for a replay of the old run — the
    Delta ``txnAppId`` pattern with the checkpoint as the app."""
    import hashlib

    return hashlib.md5(
        os.path.abspath(checkpoint_path).encode()
    ).hexdigest()[:8]


class TxnSink:
    """Atomic multi-table per-epoch commit for foreachBatch sinks — the
    ``txn`` sink mode unifying ingest / incremental-dedup style appends.

    Layout::

        <root>/<table>/epoch=<run_id>-<epoch>/   one parquet dir per table per epoch
        <root>/_TXN.json                          committed epoch keys (the log)

    Per-epoch protocol:

    1. a replayed, already-committed epoch is a no-op (``epoch_committed``);
    2. every table's output is written to its epoch directory with
       ``mode=overwrite`` (``write``, from Spark) or replaced whole
       (``stage``, from the driver) — a crashed attempt's partial directory
       is simply rewritten on replay, never appended to;
    3. ONE atomic manifest update (tmp + rename) commits the epoch across
       ALL tables — there is no window where some tables of an epoch are
       visible and others are not.

    Readers (``read``/``committed_dirs``) resolve the manifest and read only
    committed directories, so partial or orphaned epoch dirs are invisible.
    This is the driver-local-filesystem realization of the Delta/Iceberg
    ``txnAppId``/``txnVersion`` contract the module docstring describes; at
    100 TB swap the manifest for the table format's transaction log.
    """

    def __init__(self, root: str, tables: tuple[str, ...], run_id: str = "local"):
        self.root = root
        self.tables = tuple(tables)
        self.run_id = run_id

    @classmethod
    def for_checkpoint(
        cls, root: str, tables: tuple[str, ...], checkpoint_path: str
    ) -> "TxnSink":
        return cls(root, tables, run_id_for(checkpoint_path))

    def _log_path(self) -> str:
        return os.path.join(self.root, "_TXN.json")

    def _read_log(self) -> list[str]:
        try:
            with open(self._log_path(), encoding="utf-8") as fh:
                return json.load(fh)["committed"]
        except FileNotFoundError:
            return []

    def epoch_key(self, epoch_id: int) -> str:
        return f"{self.run_id}-{epoch_id}"

    def epoch_committed(self, epoch_id: int) -> bool:
        return self.epoch_key(epoch_id) in self._read_log()

    def epoch_dir(self, table: str, epoch_id: int) -> str:
        return os.path.join(
            self.root, table, f"epoch={self.epoch_key(epoch_id)}"
        )

    def write(self, table: str, epoch_id: int, df) -> None:
        """Stage one table's epoch output (overwrite => replay-safe)."""
        df.write.mode("overwrite").parquet(self.epoch_dir(table, epoch_id))

    def stage(self, table: str, epoch_id: int, rows) -> None:
        """Stage one table's epoch output from a pyarrow Table on the
        driver, replacing whatever a crashed attempt left there.

        For results of a few rows, where a Spark write costs more than the
        data: its jobs, and a Hadoop local-filesystem permission call per
        created file. The log already lives on the driver's filesystem, so
        staging there adds no new requirement."""
        import pyarrow.parquet as pq

        d = self.epoch_dir(table, epoch_id)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        pq.write_table(rows, os.path.join(d, "part-00000.parquet"))

    def commit(self, epoch_id: int) -> None:
        """The single commit point for every table of this epoch."""
        committed = self._read_log()
        key = self.epoch_key(epoch_id)
        if key not in committed:
            committed.append(key)
        os.makedirs(self.root, exist_ok=True)
        tmp = self._log_path() + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump({"committed": committed}, fh)
        os.replace(tmp, self._log_path())

    def committed_dirs(self, table: str) -> list[str]:
        return [
            os.path.join(self.root, table, f"epoch={key}")
            for key in self._read_log()
        ]

    def has_data(self, table: str) -> bool:
        return bool(self.committed_dirs(table))

    def read(self, spark, table: str):
        """All committed epochs of one table (uncommitted dirs invisible)."""
        dirs = self.committed_dirs(table)
        if not dirs:
            raise FileNotFoundError(
                f"no committed epochs for {table} under {self.root}"
            )
        # basePath anchors partition discovery at the table root, so the
        # epoch=<key> staging dirs parse as one partition column (dropped —
        # it's replay bookkeeping, not data) and any partitioning INSIDE an
        # epoch dir (e.g. ingest's day=) survives as real table columns.
        # Only committed dirs are listed, so staged epochs stay invisible.
        return (
            spark.read.option("basePath", os.path.join(self.root, table))
            .parquet(*dirs)
            .drop("epoch")
        )
