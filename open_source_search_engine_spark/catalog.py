"""Snapshot-isolated table catalog.

The reference stores every table (Rdb) as a set of numbered sorted files plus
an in-memory tree, made durable by write-file-then-mark-readable
(`RdbDump.cpp:251`, `test/unit/PosdbTest.cpp:18-25` markNewFileReadable) and
swapped atomically on rebuild (`Rdb::updateToRebuildFiles`, `Rdb.h:227`).
The modern equivalent is Iceberg's snapshot commit. This module provides that
contract on whatever is available:

* If an iceberg-spark-runtime jar is present (see session.iceberg_jar), tables
  live in the ``osse`` hadoop catalog and commits are Iceberg commits.
* Otherwise (this container), tables are parquet directories under a warehouse
  root with an atomic JSON manifest pointer: a write lands in a new
  ``data-<n>-<uuid>`` directory, then a manifest listing ALL live data dirs is
  written to a temp file and ``os.replace``d over ``_current.json``. Readers
  resolve ``_current.json`` first, so they always see a complete committed
  snapshot -- same observable semantics (snapshot isolation, atomic append /
  overwrite, time-travel by snapshot id) at the granularity we need.

Either way the engine code only calls read_table / write_table / append_table.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

CURRENT = "_current.json"
#: the footer key under which Spark's Parquet writer records the Spark
#: schema of the rows (the schema Spark's own inference reads back)
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
#: every table is written with the Parquet v2 writer, whose integer
#: encodings (dictionary while it pays, else DELTA_BINARY_PACKED) pack the
#: postings' list columns (functions/codec.py) with no codec of our own
_PARQUET_WRITER = ("parquet.writer.version", "v2")


class Catalog:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)
        self.use_iceberg = "spark.sql.catalog.osse" in {
            k for k, _ in spark.sparkContext.getConf().getAll()
        }

    # -- parquet-snapshot implementation -----------------------------------
    def _tdir(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._tdir(name), CURRENT)

    def _read_manifest(self, name: str) -> dict | None:
        p = self._manifest_path(name)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    @contextmanager
    def _commit_lock(self, name: str, timeout: float = 30.0, stale: float = 120.0):
        """Serialize the read-parent -> merge-dirs -> publish critical
        section. Without it two concurrent appenders both read the same
        parent manifest and the second commit silently orphans the first
        append (and duplicates its sequence number) -- the exact lost
        update Iceberg's compare-and-swap commit rejects. O_CREAT|O_EXCL
        lock file; a lock older than ``stale`` seconds (crashed holder) is
        broken."""
        path = os.path.join(self._tdir(name), "_commit.lock")
        deadline = time.time() + timeout
        while True:
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                break
            except FileExistsError:
                try:
                    if time.time() - os.path.getmtime(path) > stale:
                        os.unlink(path)
                        continue
                except OSError:
                    continue  # holder released between exists and stat
                if time.time() > deadline:
                    raise TimeoutError(
                        f"commit lock on table {name} held past {timeout}s"
                    )
                time.sleep(0.05)
        try:
            yield
        finally:
            try:
                os.unlink(path)
            except OSError:
                pass

    def _commit(self, name: str, data_dirs: list[str], parent: dict | None) -> dict:
        tdir = self._tdir(name)
        snap = {
            "snapshot_id": uuid.uuid4().hex,
            "parent_id": parent["snapshot_id"] if parent else None,
            "sequence": (parent["sequence"] + 1) if parent else 0,
            "committed_at": time.time(),
            "data_dirs": data_dirs,
            # recorded so a moved/cloned warehouse stays readable: readers
            # remap any dir that no longer exists from this root onto the
            # current one (_resolve_dirs) -- the Iceberg-metadata-relocation
            # analog, needed because a warehouse built in a scratch dir is
            # routinely copied to durable storage (our bench cache does
            # exactly this)
            "warehouse": self.warehouse,
        }
        tmp = os.path.join(tdir, f"_tmp-{snap['snapshot_id']}.json")
        with open(tmp, "w") as f:
            json.dump(snap, f)
        # keep snapshot history for time-travel / lineage
        with open(os.path.join(tdir, f"snap-{snap['sequence']:06d}-{snap['snapshot_id']}.json"), "w") as f:
            json.dump(snap, f)
        os.replace(tmp, self._manifest_path(name))
        return snap

    def _resolve_dirs(
        self, name: str, snap: dict, prefer_current_root: bool = False
    ) -> list[str]:
        """Remap snapshot data dirs after a warehouse move/copy.

        A dir that still exists is used as-is (same-session reads never
        change behavior). A missing dir is remapped (a) from the snapshot's
        recorded warehouse root onto the current one -- covers external
        segment dirs under ``<warehouse>/segments/...`` -- or (b) for
        pre-relocation manifests without the root, by basename into the
        table dir. If the remap target doesn't exist either, the original
        path is kept so the reader raises the honest PATH_NOT_FOUND.

        ``prefer_current_root`` (commit-time inheritance only): when the
        warehouse was COPIED rather than moved, the old dirs still exist, so
        the exists-as-is rule would inherit old-root paths verbatim into a
        snapshot stamped with the NEW root -- and once the old copy is
        deleted those paths can never be rebased (the new snapshot's
        recorded root no longer matches their prefix). Appends therefore
        rebase any dir under the parent's recorded root onto the current
        warehouse whenever the rebased copy exists, making every committed
        snapshot self-contained under its own root. Data dirs are
        write-once (LSM contract), so the copy is bit-identical."""
        out = []
        old_root = (snap.get("warehouse") or "").rstrip("/")
        cur_root = self.warehouse.rstrip("/")
        for d in snap["data_dirs"]:
            if (
                prefer_current_root
                and old_root
                and old_root != cur_root
                and d.startswith(old_root + "/")
            ):
                cand = os.path.join(
                    self.warehouse, os.path.relpath(d, old_root)
                )
                if os.path.exists(cand):
                    out.append(cand)
                    continue
            if os.path.exists(d):
                out.append(d)
                continue
            if old_root and d.startswith(old_root + "/"):
                cand = os.path.join(self.warehouse, os.path.relpath(d, old_root))
            else:
                cand = os.path.join(
                    self._tdir(name), os.path.basename(d.rstrip("/"))
                )
            out.append(cand if os.path.exists(cand) else d)
        return out

    # -- public API ----------------------------------------------------------
    def table_exists(self, name: str) -> bool:
        if self.use_iceberg:
            return self.spark.catalog.tableExists(f"osse.db.{name}")
        return self._read_manifest(name) is not None

    def read_table(self, name: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.read.table(f"osse.db.{name}")
        m = self._read_manifest(name)
        if m is None:
            raise FileNotFoundError(f"table {name} has no committed snapshot")
        if not m["data_dirs"]:
            raise FileNotFoundError(f"table {name} is empty")
        return self._read_dirs(self._resolve_dirs(name, m))

    def _read_dirs(self, dirs: list[str]) -> DataFrame:
        """The Parquet data dirs ``dirs`` as one frame. The schema comes
        from the first data file's footer, where Spark's writer recorded
        it, so the read launches no schema-inference job; a hive-partitioned
        dir, or a footer without that record, leaves inference to Spark."""
        schema = None
        files = sorted(
            f for f in (os.listdir(dirs[0]) if os.path.isdir(dirs[0]) else ())
            if not f.startswith(("_", "."))
        )
        if files and all(f.endswith(".parquet") for f in files):
            meta = pq.read_schema(os.path.join(dirs[0], files[0])).metadata
            if meta and _SPARK_SCHEMA_KEY in meta:
                schema = StructType.fromJson(
                    json.loads(meta[_SPARK_SCHEMA_KEY])
                )
        reader = self.spark.read
        return (reader if schema is None else reader.schema(schema)).parquet(
            *dirs
        )

    def write_table(
        self,
        df: DataFrame,
        name: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> None:
        """mode='overwrite' replaces the snapshot; mode='append' adds files.

        ``partition_by``: hive-style partition columns (Iceberg: identity
        partition transform) -- reads filtering on them become
        partition-PRUNED scans (the ANN index layout depends on this)."""
        if self.use_iceberg:
            w = df.writeTo(f"osse.db.{name}")
            if partition_by:
                from pyspark.sql.functions import col

                w = w.partitionedBy(*[col(c) for c in partition_by])
            if mode == "overwrite":
                w.createOrReplace()
            else:
                w.append()
            return
        tdir = self._tdir(name)
        os.makedirs(tdir, exist_ok=True)
        # the (long) parquet write runs OUTSIDE the lock -- the seq here
        # only names the dir, uniqueness comes from the uuid suffix
        seq = ((self._read_manifest(name) or {}).get("sequence", -1)) + 1
        data_dir = os.path.join(tdir, f"data-{seq:06d}-{uuid.uuid4().hex[:8]}")
        w = df.write.mode("overwrite").option(*_PARQUET_WRITER)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(data_dir)
        with self._commit_lock(name):
            # re-read the parent UNDER the lock: append merges against the
            # latest committed snapshot, never a stale pre-write read
            parent = self._read_manifest(name)
            dirs = [data_dir]
            if mode == "append" and parent:
                # RESOLVE the parent's dirs before inheriting them: an
                # append after a warehouse move would otherwise copy the
                # stale old-root paths into a snapshot stamped with the NEW
                # root, permanently losing the rebase information
                dirs = (
                    self._resolve_dirs(name, parent, prefer_current_root=True)
                    + dirs
                )
            self._commit(name, dirs, parent)

    def append_table(self, df: DataFrame, name: str) -> None:
        self.write_table(df, name, mode="append")

    def commit_data_dirs(
        self, name: str, data_dirs: list[str], mode: str = "overwrite"
    ) -> None:
        """Register externally-written parquet directories as ONE atomic
        snapshot commit (the RdbDump write-file-then-mark-readable contract,
        `test/unit/PosdbTest.cpp:18-25`): resumable builds write per-partition
        segment dirs first, then flip them visible here in a single commit."""
        if self.use_iceberg:
            df = self.spark.read.parquet(*data_dirs)
            self.write_table(df, name, mode=mode)
            return
        tdir = self._tdir(name)
        os.makedirs(tdir, exist_ok=True)
        with self._commit_lock(name):
            parent = self._read_manifest(name)
            dirs = list(data_dirs)
            if mode == "append" and parent:
                # same rebase-before-inherit as write_table's append
                dirs = (
                    self._resolve_dirs(name, parent, prefer_current_root=True)
                    + dirs
                )
            self._commit(name, dirs, parent)

    def snapshot_id(self, name: str) -> str | None:
        if self.use_iceberg:
            row = self.spark.sql(
                f"SELECT snapshot_id FROM osse.db.{name}.snapshots ORDER BY committed_at DESC LIMIT 1"
            ).collect()
            return str(row[0][0]) if row else None
        m = self._read_manifest(name)
        return m["snapshot_id"] if m else None

    def snapshots(self, name: str) -> list[dict]:
        """Snapshot history, oldest first (the Iceberg snapshots metadata
        table analog; parquet mode reads the snap-*.json files)."""
        if self.use_iceberg:
            rows = self.spark.sql(
                f"SELECT snapshot_id, committed_at FROM osse.db.{name}.snapshots "
                "ORDER BY committed_at"
            ).collect()
            return [dict(r.asDict()) for r in rows]
        tdir = self._tdir(name)
        out = []
        if os.path.isdir(tdir):
            for f in sorted(os.listdir(tdir)):
                if f.startswith("snap-") and f.endswith(".json"):
                    with open(os.path.join(tdir, f)) as fh:
                        out.append(json.load(fh))
        return out

    def read_snapshot(self, name: str, snapshot_id: str) -> DataFrame:
        """Time-travel read: the table AS OF a given snapshot (Iceberg
        `VERSION AS OF`; Rdb analog: the file set before
        updateToRebuildFiles swapped it, `Rdb.h:227`)."""
        if self.use_iceberg:
            return self.spark.read.option("snapshot-id", snapshot_id).table(
                f"osse.db.{name}"
            )
        for snap in self.snapshots(name):
            if snap["snapshot_id"] == snapshot_id:
                if not snap["data_dirs"]:
                    raise FileNotFoundError(f"snapshot {snapshot_id} is empty")
                return self._read_dirs(self._resolve_dirs(name, snap))
        raise FileNotFoundError(f"table {name} has no snapshot {snapshot_id}")

    def data_dirs(self, name: str) -> list[str]:
        """Live data directories of the current snapshot (parquet mode)."""
        m = self._read_manifest(name)
        return self._resolve_dirs(name, m) if m else []

    def compact(self, name: str, sort_cols: list[str] | None = None) -> int:
        """Merge all live data dirs into one sorted dir (the RdbMerge analog,
        `RdbMerge.cpp:53`; Iceberg: rewrite_data_files). Returns fan-in."""
        if self.use_iceberg:
            return 0  # iceberg maintenance procedures handle this
        parent = self._read_manifest(name)
        if parent is None or len(parent["data_dirs"]) <= 1:
            return 0
        fan_in = len(parent["data_dirs"])
        df = self.spark.read.parquet(*self._resolve_dirs(name, parent))
        if sort_cols:
            df = df.repartitionByRange(*sort_cols).sortWithinPartitions(*sort_cols)
        data_dir = os.path.join(
            self._tdir(name), f"data-{parent['sequence'] + 1:06d}-{uuid.uuid4().hex[:8]}"
        )
        df.write.mode("overwrite").option(*_PARQUET_WRITER).parquet(data_dir)
        with self._commit_lock(name):
            # a writer may have committed while we rewrote: committing the
            # merged dir would silently DROP that writer's data, so abort
            # this compaction instead (it can simply run again)
            latest = self._read_manifest(name)
            if latest is None or latest["snapshot_id"] != parent["snapshot_id"]:
                return 0
            self._commit(name, [data_dir], latest)
        return fan_in

    # -- time-travel serving view ------------------------------------------
    def capture(self) -> dict[str, str]:
        """Pin map of every live table to its CURRENT snapshot id — the
        "as of now" marker a reader hands to :meth:`at` later (Iceberg:
        recording each table's current snapshot-id; Rdb analog: the file
        set before updateToRebuildFiles swaps it, `Rdb.h:227`)."""
        pins: dict[str, str] = {}
        if self.use_iceberg:
            rows = self.spark.sql("SHOW TABLES IN osse.db").collect()
            for r in rows:
                name = r["tableName"]
                sid = self.snapshot_id(name)
                if sid is not None:
                    pins[name] = sid
            return pins
        if os.path.isdir(self.warehouse):
            for name in sorted(os.listdir(self.warehouse)):
                if os.path.exists(self._manifest_path(name)):
                    m = self._read_manifest(name)
                    if m is not None:
                        pins[name] = m["snapshot_id"]
        return pins

    def at(self, pins: dict[str, str]) -> "SnapshotView":
        """A READ-ONLY view of this catalog frozen at ``pins`` (from
        :meth:`capture`): read_table resolves through read_snapshot, a
        table absent from the pin map is absent from the view, and any
        write raises. A SearchEngine constructed over the view serves the
        index exactly as it was at capture time — snapshot-isolated from
        every later upsert/delete/compaction (Iceberg VERSION AS OF as a
        serving surface)."""
        return SnapshotView(self, dict(pins))


class SnapshotView:
    """Read-only, snapshot-pinned facade over a Catalog (see Catalog.at).
    Implements exactly the read surface serving code uses (read_table /
    table_exists / read_snapshot / snapshot_id); writes raise."""

    def __init__(self, parent: Catalog, pins: dict[str, str]):
        self.parent = parent
        self.pins = pins
        self.spark = parent.spark
        self.use_iceberg = parent.use_iceberg

    def table_exists(self, name: str) -> bool:
        return name in self.pins

    def read_table(self, name: str) -> DataFrame:
        if name not in self.pins:
            raise FileNotFoundError(
                f"table {name} did not exist at the pinned snapshot"
            )
        return self.parent.read_snapshot(name, self.pins[name])

    def snapshot_id(self, name: str) -> str | None:
        return self.pins.get(name)

    def read_snapshot(self, name: str, snapshot_id: str) -> DataFrame:
        return self.parent.read_snapshot(name, snapshot_id)

    def _refuse(self, *_a, **_k):
        raise PermissionError("SnapshotView is read-only (time-travel serving)")

    write_table = _refuse
    append_table = _refuse
    commit_data_dirs = _refuse
    compact = _refuse
