"""Multi-table transactional commit: several SnapshotTables published
atomically through one group manifest.

The reference loads parent+child tables (blocks, transactions, logs,
token_transfers ...) as separate tasks and relies on the DAG's
all-or-nothing day granularity for cross-table consistency
(``build_load_dag.py`` wires enrich tasks after ALL loads of the day).
A CDC engine needs the same guarantee per micro-batch: a reader must
never see batch N applied to the parent but not the child.

Design (the catalog-pointer pattern — what Iceberg gets from an atomic
catalog swap over several tables, or Nessie's multi-table commit):

* each member table commits normally (its OWN version advances — write
  cost and fencing are unchanged);
* then ONE group manifest records the member versions and is swapped
  atomically (write-temp + rename, OCC-checked);
* **group readers pin each table at the recorded version** via snapshot
  time travel, so the visible set of tables always corresponds to one
  transaction boundary, regardless of concurrent per-table writers or
  a crash between member commits;
* crash between member commits: the group pointer still names the old
  consistent versions; the replayed transaction re-runs — already-
  committed members are epoch-fenced (skip), the rest commit, and the
  group pointer advances once. Exactly-once at the GROUP level.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame

from ethereum_etl_airflow_spark.sinks.snapshot_table import (
    CommitConflictError,
    SnapshotTable,
)

GROUP_VERSION_FILE = "GROUP_VERSION"


class TableGroup:
    """Atomic cross-table commit boundary over member SnapshotTables."""

    def __init__(self, root: str, tables: dict[str, SnapshotTable]):
        self.root = root
        self.tables = tables
        self._meta = os.path.join(root, "_group_meta")

    # ------------------------------------------------------------------ meta

    def current_version(self) -> int:
        try:
            with open(os.path.join(self._meta, GROUP_VERSION_FILE)) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v < 0:
            return {"version": -1, "table_versions": {}, "properties": {}}
        with open(os.path.join(self._meta, f"group-{v:012d}.json")) as f:
            return json.load(f)

    def last_epoch(self, app_id: str) -> int:
        return int(self.manifest()["properties"].get(f"last_epoch:{app_id}", -1))

    # ---------------------------------------------------------------- commit

    def commit_all(
        self,
        writes: dict[str, dict],
        app_id: str,
        epoch: int,
        lineage: dict | None = None,
    ) -> dict | None:
        """Commit every member write, then publish ONE group manifest.

        ``writes``: {table name -> kwargs for SnapshotTable.commit
        (out_df, replace_buckets, optional new_schema/lineage)}.
        Members not written this epoch keep their current version in
        the manifest.

        Returns the group manifest, or None when the epoch is already
        group-committed (fenced replay)."""
        if epoch <= self.last_epoch(app_id):
            return None
        for name in writes:
            if name not in self.tables:
                raise KeyError(f"unknown group member {name!r}")
        versions: dict[str, int] = {}
        for name, table in self.tables.items():
            kw = writes.get(name)
            if kw is None:
                versions[name] = table.current_version()
                continue
            if table.last_epoch(app_id) >= epoch:
                # member already applied by a crashed attempt — fenced
                versions[name] = table.current_version()
                continue
            snap = table.commit(app_id=app_id, epoch=epoch, **kw)
            versions[name] = snap["version"]
        prev = self.manifest()
        props = dict(prev["properties"])
        props[f"last_epoch:{app_id}"] = epoch
        group = {
            "version": prev["version"] + 1,
            "parent_version": prev["version"],
            "committed_at": time.time(),
            "table_versions": versions,
            "properties": props,
            "lineage": lineage or {},
        }
        self._publish(group)
        return group

    def _publish(self, group: dict) -> None:
        os.makedirs(self._meta, exist_ok=True)
        if self.current_version() != group["parent_version"]:
            raise CommitConflictError(
                f"group advanced to v{self.current_version()} since base "
                f"v{group['parent_version']} — re-read and retry"
            )
        path = os.path.join(self._meta, f"group-{group['version']:012d}.json")
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(group, f)
        os.replace(tmp, path)
        vtmp = os.path.join(self._meta, f"{GROUP_VERSION_FILE}.tmp-{uuid.uuid4().hex}")
        with open(vtmp, "w") as f:
            f.write(str(group["version"]))
        os.replace(vtmp, os.path.join(self._meta, GROUP_VERSION_FILE))

    # ------------------------------------------------------------------ read

    def read(self, name: str, version: int | None = None) -> DataFrame:
        """Transactionally-consistent read: the member pinned at the
        version the group manifest recorded — never a half-applied
        batch, even while members are being committed right now."""
        man = self.manifest(version)
        tv = man["table_versions"].get(name)
        if tv is None:
            raise KeyError(f"table {name!r} has no version in group manifest")
        return self.tables[name].read(version=tv)
