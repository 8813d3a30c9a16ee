"""P6 materialization target: snapshot-committed graph tables.

The north rule materializes (subj, pred, obj) triples into *Iceberg* graph
tables. On a cluster with an Iceberg catalog configured
(``spark.sql.catalog.<name>`` + the iceberg-spark runtime jar) this module
routes through the DataFrameWriterV2 API (``df.writeTo(ident).append()``),
which gives snapshot isolation, atomic commits, and time travel natively.
The sandbox ships no Iceberg jar, so the default path is a parquet
directory WITH THE SAME COMMIT CONTRACT, implemented the way Iceberg
implements it: immutable data files + a snapshot manifest + an atomically
swapped current-snapshot pointer.

Contract (both paths):
- a writer appends by creating NEW immutable files, then committing a new
  snapshot that lists them; the commit is a single atomic pointer swap
  (``os.replace`` here, the catalog pointer in Iceberg);
- a reader resolves the current snapshot once and reads ONLY files that
  snapshot lists — a crash between data write and snapshot commit leaves
  orphan files, never a torn table;
- every snapshot keeps its parent id, so rollback is re-pointing at an
  ancestor, and uncommitted/rolled-back files are droppable garbage.

This is what makes "resumable without recompute" safe at the table level:
`run_checkpointed_pipeline` guarantees stage-level resume, and the final
materialize lands through an all-or-nothing commit, so a killed job never
leaves a half-visible triple table for downstream consumers.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


def iceberg_identifier(catalog: str, namespace: str, table: str) -> str:
    """Fully-qualified DataFrameWriterV2 identifier, validated."""
    for part in (catalog, namespace, table):
        if not part or any(c in part for c in ".` \n\t"):
            raise ValueError(f"bad identifier part: {part!r}")
    return f"{catalog}.{namespace}.{table}"


def require_local_path(owner: str, root: str, why: str) -> None:
    """Fail fast on a scheme URI (``s3://…``) where ``owner`` keeps its
    metadata in driver-local files: ``os.makedirs``/``open`` would put it
    in a local directory literally named ``s3:`` while Spark wrote the data
    to the store — neither durable nor visible to other readers."""
    if re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", root):
        raise ValueError(f"{owner} root must be a local filesystem path, "
                         f"got {root!r}: {why}")


def catalog_configured(spark: SparkSession, catalog: str) -> bool:
    """True when an Iceberg (or other V2) catalog of this name is set on
    the session — the gate between the native path and the fallback."""
    try:
        return bool(spark.conf.get(f"spark.sql.catalog.{catalog}"))
    except Exception:
        return False


@dataclass
class SnapshotTable:
    """Parquet-backed table with Iceberg-style snapshot commits.

    Layout::

        {root}/data/{uuid}/part-*.parquet   immutable per-append file sets
        {root}/snapshots/{id}.json          {"id", "parent", "dirs", "op"}
        {root}/_current                     committed snapshot id (atomic)
    """

    spark: SparkSession
    root: str

    def __post_init__(self) -> None:
        # Snapshot manifests and the _current pointer are driver-local
        # POSIX files; the atomic-commit contract rests on os.replace,
        # which no object store offers (S3 rename is copy+delete, not
        # atomic). Object-store tables go through the Iceberg catalog path
        # (write_triples with catalog=...), whose commit protocol is
        # designed for stores without rename.
        require_local_path(
            "SnapshotTable", self.root,
            "the parquet fallback's atomic commit (os.replace) does not "
            "exist on object stores — configure an Iceberg catalog "
            "(spark.sql.catalog.*) and pass catalog= to write_triples "
            "instead")

    # -- snapshot plumbing ---------------------------------------------------

    def _snap_dir(self) -> str:
        return os.path.join(self.root, "snapshots")

    def _current_path(self) -> str:
        return os.path.join(self.root, "_current")

    def current_snapshot_id(self) -> int | None:
        try:
            with open(self._current_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def _load_snapshot(self, snap_id: int) -> dict:
        with open(os.path.join(self._snap_dir(), f"{snap_id}.json")) as f:
            return json.load(f)

    def snapshots(self) -> list[dict]:
        """Commit history, oldest first (time travel surface)."""
        if not os.path.isdir(self._snap_dir()):
            return []
        ids = sorted(int(n[:-5]) for n in os.listdir(self._snap_dir())
                     if n.endswith(".json"))
        return [self._load_snapshot(i) for i in ids]

    def _commit(self, dirs: list[str], op: str, parent: int | None,
                props: dict | None = None) -> int:
        os.makedirs(self._snap_dir(), exist_ok=True)
        # ids are allocated past every EXISTING snapshot, not parent+1 —
        # after a rollback the next commit must not collide with the
        # rolled-back snapshot's file
        existing = [int(n[:-5]) for n in os.listdir(self._snap_dir())
                    if n.endswith(".json")]
        snap_id = max(existing, default=0) + 1
        snap = {"id": snap_id, "parent": parent, "dirs": dirs, "op": op,
                "props": props or {}}
        path = os.path.join(self._snap_dir(), f"{snap_id}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snap, f)
        os.replace(tmp, path)             # snapshot file lands first
        tmp_cur = self._current_path() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp_cur, "w") as f:
            f.write(str(snap_id))
        os.replace(tmp_cur, self._current_path())   # THE atomic commit
        return snap_id

    # -- public surface ------------------------------------------------------

    def write(self, df: DataFrame, mode: str = "append",
              props: dict | None = None) -> int:
        """Write ``df`` as a new immutable file set, then commit a
        snapshot. ``mode`` is 'append' (new snapshot = parent dirs + new
        dirs) or 'overwrite' (new snapshot = new dirs only; old files stay
        on disk for time travel, exactly like Iceberg's overwrite).
        ``props`` are arbitrary commit properties recorded on the snapshot
        (Iceberg snapshot summary properties) — the idempotence hook below
        keys on them. Returns the committed snapshot id."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        new_dir = os.path.join(self.root, "data", uuid.uuid4().hex)
        df.write.mode("errorifexists").parquet(new_dir)
        parent = self.current_snapshot_id()
        dirs = [os.path.relpath(new_dir, self.root)]
        if mode == "append" and parent is not None:
            dirs = self._load_snapshot(parent)["dirs"] + dirs
        return self._commit(dirs, mode, parent, props or {})

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        """DataFrame over exactly the files the (current or named)
        snapshot committed. Never lists the data directory — orphans from
        crashed writers are invisible by construction."""
        snap_id = (self.current_snapshot_id()
                   if snapshot_id is None else snapshot_id)
        if snap_id is None:
            raise FileNotFoundError(f"no committed snapshot at {self.root}")
        dirs = [os.path.join(self.root, d)
                for d in self._load_snapshot(snap_id)["dirs"]]
        return self.spark.read.parquet(*dirs)

    def append_once(self, df: DataFrame, fingerprint: str) -> int:
        """Append committed at most once per ``fingerprint`` — the
        streaming sink contract. foreachBatch replays carry the same
        batch_id, so an append keyed on it lands exactly once no matter
        how many times the batch re-runs; a crash mid-append leaves
        orphan files, never a committed duplicate."""
        for snap in self.snapshots():
            if snap.get("props", {}).get("fingerprint") == fingerprint:
                return snap["id"]
        return self.write(df, "append", props={"fingerprint": fingerprint})

    def rollback(self, snapshot_id: int) -> None:
        """Re-point the table at an ancestor snapshot (Iceberg
        ``rollback_to_snapshot``). Later snapshots stay on disk as
        history; the next append parents off the rolled-back state."""
        snap = self._load_snapshot(snapshot_id)  # raises if unknown
        tmp = self._current_path() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(snap["id"]))
        os.replace(tmp, self._current_path())

    def orphan_dirs(self) -> list[str]:
        """Data dirs no snapshot references — crash debris, safe to GC."""
        data_root = os.path.join(self.root, "data")
        if not os.path.isdir(data_root):
            return []
        referenced = {d for s in self.snapshots() for d in s["dirs"]}
        return sorted(os.path.join("data", n)
                      for n in os.listdir(data_root)
                      if os.path.join("data", n) not in referenced)


def write_triples(spark: SparkSession, triples: DataFrame, location: str,
                  mode: str = "append", catalog: str | None = None,
                  namespace: str = "kg", table: str = "triples") -> int | None:
    """Materialize the triple table through whichever committed-snapshot
    surface the session has.

    With an Iceberg catalog configured: DataFrameWriterV2
    (``createOrReplace`` / ``append`` — Iceberg's own atomic snapshot
    commit; returns None since Iceberg assigns the snapshot id). Without
    one: :class:`SnapshotTable` under ``location`` with the same commit
    contract, returning the committed snapshot id."""
    if catalog is not None and catalog_configured(spark, catalog):
        ident = iceberg_identifier(catalog, namespace, table)
        writer = triples.writeTo(ident)
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            try:
                writer.append()
            except Exception as exc:
                # first append creates the table — but ONLY on the
                # no-such-table analysis error; a transient append
                # failure (commit conflict, permission, network) must
                # surface as itself, not as a confusing "table already
                # exists" from a blind create() retry
                if _is_no_such_table(exc):
                    writer.create()
                else:
                    raise
        return None
    return SnapshotTable(spark, location).write(triples, mode)


def _is_no_such_table(exc: Exception) -> bool:
    try:
        from pyspark.errors import AnalysisException
    except ImportError:                                  # pragma: no cover
        AnalysisException = ()
    msg = str(exc)
    return isinstance(exc, AnalysisException) and (
        "TABLE_OR_VIEW_NOT_FOUND" in msg
        or "NoSuchTableException" in msg
        or "Table or view not found" in msg
        or "cannot be found" in msg)


def commit_triples_idempotent(spark: SparkSession, triples: DataFrame,
                              location: str, fingerprint: str,
                              catalog: str | None = None,
                              namespace: str = "kg",
                              table: str = "triples") -> int | None:
    """Exactly-once table commit per pipeline fingerprint — the landing
    used by ``run_checkpointed_pipeline``'s materialize stage.

    The stage checkpoint guarantees the triple *data* is computed once; this
    guarantees it becomes *visible* once. A rerun after a crash between
    checkpoint and commit re-commits (the torn attempt left only orphan
    files); a rerun after a successful commit is a no-op because the current
    snapshot already carries this fingerprint in its commit properties —
    the same dedup Iceberg users get from ``commit.properties`` + WAP ids.
    Overwrite mode: each fingerprint fully describes the table contents
    (config + upstream digests), so stale contents are replaced, never mixed.
    """
    if catalog is not None and catalog_configured(spark, catalog):
        # Iceberg's createOrReplace is itself an atomic full-replace commit;
        # re-running it with identical data is safe (idempotent by value)
        triples.writeTo(iceberg_identifier(catalog, namespace, table)) \
            .createOrReplace()
        return None
    t = SnapshotTable(spark, location)
    cur = t.current_snapshot_id()
    if cur is not None and t._load_snapshot(cur) \
            .get("props", {}).get("fingerprint") == fingerprint:
        return cur
    return t.write(triples, "overwrite", props={"fingerprint": fingerprint})
