"""Iceberg-style catalog adapter (SURVEY.md §1.2 — explicit emulation).

No Iceberg runtime jars exist in the sandbox, so the "Iceberg table"
contract is reproduced on partitioned Parquet with explicit snapshot
manifests, keeping the surface Iceberg-shaped so real Iceberg is a
config change:

* **Partition spec**: hive-style ``col=value`` directories →
  Catalyst partition pruning works natively (filters on partition
  columns prune directories before any file is opened).
* **One commit path**: every commit is at most one data write
  (:meth:`_write_data`, ``data/v<n>/``) and one publish
  (:meth:`_publish`): the complete ``snap-<n>.json`` (file listing +
  row count + summary with its ``operation``) is written whole (tmp +
  rename), then the ``version-hint.text`` pointer — or a branch ref —
  is swapped the same way. Nothing is written after the swap, so a
  crash at any point leaves either the previous or the new snapshot
  current, each complete; readers never see a partial write.
* **Time travel (lite)**: read any retained snapshot by id.

The adapter is deliberately small; it exists so the pipeline's write
path has Iceberg semantics (atomic commit, snapshot lineage, partition
pruning) that swap 1:1 for Spark's ``writeTo(...).append()`` on a real
catalog.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

#: :meth:`IcebergLiteTable.append`'s default data-dir bound, which branch
#: commits apply too
_MAX_DATA_DIRS = 64


def _now() -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())


class IcebergLiteTable:
    def __init__(self, root: str):
        self.root = root
        self.meta = os.path.join(root, "metadata")
        os.makedirs(self.meta, exist_ok=True)

    # -- snapshot bookkeeping -------------------------------------------------

    def _hint_path(self) -> str:
        return os.path.join(self.meta, "version-hint.text")

    def _ref_path(self, name: str) -> str:
        return os.path.join(self.meta, f"ref-{name}.json")

    def current_snapshot_id(self) -> int | None:
        p = self._hint_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return int(f.read().strip())

    def snapshot(self, snap_id: int | None = None) -> dict | None:
        snap_id = snap_id if snap_id is not None else self.current_snapshot_id()
        if snap_id is None:
            return None
        p = os.path.join(self.meta, f"snap-{snap_id}.json")
        with open(p) as f:
            return json.load(f)

    def snapshots(self) -> list[dict]:
        out = []
        for fn in os.listdir(self.meta):
            if fn.startswith("snap-") and fn.endswith(".json"):
                with open(os.path.join(self.meta, fn)) as f:
                    out.append(json.load(f))
        # numeric order: filename sort would put snap-10 before snap-2
        return sorted(out, key=lambda s: s["snapshot_id"])

    def ancestors(self, snap_id: int | None = None) -> list[dict]:
        """The manifests along the ``parent_id`` chain from ``snap_id``
        (default: main's current snapshot) back to the first, newest
        first — what that snapshot's history holds, unlike
        :meth:`snapshots`, which also lists orphans (a manifest whose
        pointer swap never happened) and other branches' commits. The
        walk stops at a manifest that :meth:`expire_snapshots` removed."""
        node = snap_id if snap_id is not None else self.current_snapshot_id()
        out = []
        while node is not None:
            try:
                out.append(self.snapshot(node))
            except FileNotFoundError:
                break
            node = out[-1].get("parent_id")
        return out

    def _next_snapshot_id(self) -> int:
        """Next free snapshot id: max over ALL manifests, not the current
        pointer — branch commits create snapshots the main pointer never
        saw, and `hint + 1` would collide with them."""
        ids = [s["snapshot_id"] for s in self.snapshots()]
        return (max(ids) + 1) if ids else 1

    @staticmethod
    def _dirs(snap: dict) -> list[str]:
        """The data dirs a snapshot reads (manifests from before
        ``data_dirs`` name their one dir as ``data_dir``)."""
        return snap.get("data_dirs") or [snap["data_dir"]]

    def _dir_specs(self, snap: dict) -> dict[str, list[str]]:
        """Per-dir partition layout of a snapshot: its recorded
        ``dir_specs``, else every dir under the snapshot's spec."""
        return dict(
            snap.get("dir_specs")
            or {d: list(snap.get("partition_spec") or []) for d in self._dirs(snap)}
        )

    def _list_data_files(self, data_dir: str) -> list[dict]:
        files = []
        for root, _dirs, fns in os.walk(data_dir):
            for fn in sorted(fns):
                if fn.endswith(".parquet"):
                    fp = os.path.join(root, fn)
                    files.append(
                        {
                            "path": os.path.relpath(fp, self.root),
                            "bytes": os.path.getsize(fp),
                        }
                    )
        return files

    # -- the one commit path --------------------------------------------------

    def _atomic_write(self, path: str, text: str) -> None:
        """Write ``path`` whole or not at all: a tmp file, then one
        rename. A crash leaves at most a stray ``.tmp`` beside it."""
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)

    def _write_ref(self, name: str, snap_id: int, kind: str) -> dict:
        ref = {"name": name, "snapshot_id": snap_id, "type": kind}
        self._atomic_write(self._ref_path(name), json.dumps(ref))
        return ref

    def _swap(self, snap_id: int, branch: str | None = None) -> None:
        """The commit point: atomically move the main pointer, or the
        ref of ``branch``, to ``snap_id``."""
        if branch is None:
            self._atomic_write(self._hint_path(), str(snap_id))
        else:
            self._write_ref(branch, snap_id, "branch")

    def _publish(self, manifest: dict, branch: str | None = None) -> dict:
        """Write the complete manifest, then swap the main pointer (or the
        branch ref) to it. Every commit ends here, and nothing is written
        after the swap: a crash before it leaves the previous snapshot
        current (the new manifest, if renamed into place, is an orphan no
        pointer reaches); a crash after it has nothing left to do."""
        snap_id = manifest["snapshot_id"]
        self._atomic_write(
            os.path.join(self.meta, f"snap-{snap_id}.json"), json.dumps(manifest, indent=1)
        )
        self._swap(snap_id, branch)
        return manifest

    def _write_data(self, df: DataFrame, partition_by: tuple[str, ...]) -> tuple[int, str]:
        """Allocate the next snapshot id and write ``df`` to
        ``data/v<id>`` under ``partition_by``; returns the id and the
        dir relative to the table root."""
        snap_id = self._next_snapshot_id()
        rel = os.path.join("data", f"v{snap_id}")
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(os.path.join(self.root, rel))
        return snap_id, rel

    def _commit_data(
        self,
        df: DataFrame,
        partition_by: tuple[str, ...],
        summary: dict,
        base: dict | None = None,
        branch: str | None = None,
        max_data_dirs: int = _MAX_DATA_DIRS,
        allow_schema_evolution: bool = False,
    ) -> dict:
        """Write ``df`` as one new data dir and publish a snapshot that
        reads ``base``'s dirs plus it. With a ``base`` this is the guarded
        fast-append :meth:`append` (main) and :meth:`commit_to_branch`
        (``branch``) share; ``base=None`` is a full rewrite whose parent
        is the current snapshot."""
        if base is None:
            parent_id, dirs, dir_specs = self.current_snapshot_id(), [], {}
        else:
            self._check_append(base, df, partition_by, max_data_dirs, allow_schema_evolution)
            parent_id, dirs, dir_specs = base["snapshot_id"], self._dirs(base), self._dir_specs(base)
        snap_id, new_dir = self._write_data(df, partition_by)
        dirs = [*dirs, new_dir]
        # per-dir layout record: earlier dirs keep their pinned spec, the
        # new dir takes the one it was written under
        dir_specs[new_dir] = list(partition_by)
        return self._publish(
            {
                "snapshot_id": snap_id,
                "parent_id": parent_id,
                "timestamp": _now(),
                "partition_spec": list(partition_by),
                "dir_specs": dir_specs,
                "data_dir": dirs[0],
                "data_dirs": dirs,
                "files": [
                    f for d in dirs for f in self._list_data_files(os.path.join(self.root, d))
                ],
                "columns": list(df.columns),
                "summary": summary,
            },
            branch,
        )

    def _check_append(
        self,
        head: dict,
        df: DataFrame,
        partition_by: tuple[str, ...],
        max_data_dirs: int,
        allow_schema_evolution: bool,
    ) -> None:
        """The guards of a fast-append onto ``head``."""
        if len(self._dirs(head)) >= max_data_dirs:
            raise RuntimeError(
                f"snapshot already spans {len(self._dirs(head))} data dirs "
                f"(max_data_dirs={max_data_dirs}): run compact() before appending more"
            )
        # invariant: appends write under the table's CURRENT spec. The
        # spec itself changes only through an explicit commit —
        # evolve_partition_spec (metadata-only, old dirs keep their
        # layout) or overwrite (full rewrite) — so a writer passing a
        # stale spec is a bug and fails HERE, loudly.
        if list(partition_by) != list(head.get("partition_spec") or []):
            raise ValueError(
                f"append partition_by {list(partition_by)} != table spec "
                f"{head.get('partition_spec')} (use evolve_partition_spec() "
                "for a metadata-only spec change, or overwrite() to rewrite)"
            )
        # schema evolution (Iceberg add-column): a silent column drift is
        # almost always a writer bug, so a differing column set REFUSES
        # unless the caller opts in; with the opt-in, read()'s
        # allowMissingColumns union null-fills the missing side — old
        # snapshots keep their own schema (time travel is unaffected)
        head_cols = head.get("columns")
        if head_cols is not None and sorted(df.columns) != sorted(head_cols):
            if not allow_schema_evolution:
                raise ValueError(
                    f"append columns {sorted(df.columns)} != table schema "
                    f"{sorted(head_cols)}; pass allow_schema_evolution=True "
                    "to commit an add/drop-column evolution"
                )

    def _commit_metadata(self, base: dict, summary: dict, **changes) -> dict:
        """Metadata-only commit: a new snapshot on main that reuses
        ``base``'s data files, with ``changes`` applied to the manifest
        and ``summary`` merged over ``base``'s. O(1) in table size."""
        return self._publish(
            {
                **base,
                "snapshot_id": self._next_snapshot_id(),
                "parent_id": self.current_snapshot_id(),
                "timestamp": _now(),
                **changes,
                "summary": {**(base.get("summary") or {}), **summary},
            }
        )

    def _current(self) -> dict:
        snap = self.snapshot()
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        return snap

    # -- write (atomic snapshot commit) ---------------------------------------

    def overwrite(
        self, df: DataFrame, partition_by: tuple[str, ...] = (), row_count: int | None = None
    ) -> dict:
        """Write a new snapshot: data to ``data/v<n>/``, manifest, then
        atomic pointer swap. A crash before the swap leaves the previous
        snapshot fully intact and readable."""
        return self._commit_data(
            df, partition_by, {"row_count": row_count, "operation": "overwrite"}
        )

    def append(
        self,
        df: DataFrame,
        partition_by: tuple[str, ...] = (),
        row_count: int | None = None,
        max_data_dirs: int = _MAX_DATA_DIRS,
        summary_extra: dict | None = None,
        allow_schema_evolution: bool = False,
    ) -> dict:
        """Append commit: new data files land in their own ``data/v<n>/``
        dir; the snapshot references the parent's dirs PLUS the new one
        (Iceberg's fast-append shape — no rewrite of existing files).
        Readers of the previous snapshot are untouched.

        ``max_data_dirs`` bounds the read plan: every append adds one
        scan to ``read()``'s union chain, so an unmaintained ingest
        would degrade the plan linearly forever. Past the bound the
        append REFUSES with instructions to :meth:`compact` (which
        folds all dirs back into one) — a loud stop beats a silent
        slowdown; real Iceberg's equivalent is manifest merging +
        ``rewrite_data_files`` maintenance."""
        return self._commit_data(
            df,
            partition_by,
            {"row_count": row_count, "operation": "append", **(summary_extra or {})},
            base=self.snapshot(),
            max_data_dirs=max_data_dirs,
            allow_schema_evolution=allow_schema_evolution,
        )

    def upsert(
        self,
        spark: SparkSession,
        df: DataFrame,
        key_cols: list[str],
        row_count: int | None = None,
    ) -> dict:
        """MERGE INTO, copy-on-write: rows of ``df`` REPLACE current
        rows sharing their key; unmatched keys insert. One anti-join of
        the current table against the incoming keys, a union, and an
        overwrite commit — a NEW snapshot, so time travel to the
        pre-merge state keeps working (Iceberg's copy-on-write MERGE;
        the merge-on-read delete-file variant is the read-optimized
        alternative this adapter deliberately skips).

        Scale shape: the anti-join shuffles on the key unless the
        incoming batch broadcasts (AQE decides — the common case for
        CDC-sized updates against a large table); the rewrite cost is
        the whole table, which is exactly copy-on-write's documented
        trade (cheap reads, expensive writes) — partition_by keys that
        align with the update pattern bound the rewrite in real Iceberg;
        here the rewrite is total, documented."""
        snap = self._current()
        incoming_keys = df.select(*key_cols).dropDuplicates()
        merged = (
            self.read(spark)
            .join(incoming_keys, key_cols, "left_anti")
            .unionByName(df)
        )
        return self._commit_data(
            merged,
            tuple(snap.get("partition_spec") or ()),
            {"row_count": row_count, "operation": "upsert"},
        )

    def delete_where(self, spark: SparkSession, condition) -> dict:
        """Row-level DELETE, copy-on-write: rows matching ``condition``
        (a Column predicate) are removed in a NEW snapshot — the
        right-to-be-forgotten primitive a training-data catalog needs.
        Pre-delete snapshots still read bit-for-bit until
        :meth:`expire_snapshots` drops them — an auditable retention
        window by construction, and the reason a GDPR purge is
        ``delete_where`` FOLLOWED BY expiry of every snapshot that
        still references the old files."""
        snap = self._current()
        return self._commit_data(
            self.read(spark).where(~condition),
            tuple(snap.get("partition_spec") or ()),
            {"row_count": None, "operation": "delete"},
        )

    def compact(self, spark: SparkSession, target_files: int = 1) -> dict:
        """Maintenance: rewrite the current snapshot's data into
        ``target_files`` files per partition (the small-files problem —
        Iceberg's ``rewrite_data_files``). Commits a NEW snapshot, so
        time travel to the pre-compaction state keeps working; the row
        set is unchanged by construction (read → repartition → write,
        no filters)."""
        snap = self._current()
        return self._commit_data(
            self.read(spark).repartition(target_files),
            tuple(snap.get("partition_spec") or ()),
            {"row_count": (snap.get("summary") or {}).get("row_count"), "operation": "compact"},
        )

    def rollback(self, snapshot_id: int) -> dict:
        """Iceberg ``rollback_to_snapshot``: make the table read as it
        did at ``snapshot_id`` by committing a NEW snapshot that reuses
        the target's data files — metadata-only, O(1) regardless of
        table size (no data is read or rewritten, which is what makes
        rollback the instant undo for a bad append/upsert/delete at any
        scale). The bad commits stay in history (time travel to them
        still works until :meth:`expire_snapshots`), so the operation
        is itself auditable and reversible."""
        target = self.snapshot(snapshot_id)
        if target is None:
            raise FileNotFoundError(f"snapshot {snapshot_id} does not exist")
        return self._commit_metadata(
            target, {"operation": "rollback", "rolled_back_to": snapshot_id}
        )

    def evolve_partition_spec(self, partition_by: tuple[str, ...]) -> dict:
        """Iceberg partition-spec EVOLUTION: change the table's spec
        without touching a byte of data — a metadata-only commit (same
        O(1) shape as :meth:`rollback`) that reuses the current
        snapshot's data dirs and records the new spec as the table's
        write contract. Existing dirs keep their old hive layout (their
        per-dir spec is pinned in ``dir_specs``); subsequent
        :meth:`append` calls must use — and are validated against — the
        NEW spec, so one table lineage legitimately spans several
        layouts, exactly as Iceberg tables do after
        ``ALTER TABLE ... REPLACE PARTITION FIELD``.

        Reads need no special casing: :meth:`read` already scans each
        data dir as its own hive tree (``basePath`` recovers that dir's
        partition columns as ordinary columns) and
        ``unionByName(allowMissingColumns=True)`` aligns the logical
        schema across layouts. Partition PRUNING applies per dir —
        old-layout dirs prune on the old columns, new dirs on the new —
        which is also Iceberg's behavior (spec evolution improves
        pruning for data written after it, never retroactively).
        :meth:`compact` rewrites everything under the CURRENT spec
        (Iceberg ``rewrite_data_files``), which is how a table
        eventually converges to one layout."""
        cur = self._current()
        new_spec = list(partition_by)
        for c in new_spec:
            if c not in (cur.get("columns") or []):
                raise ValueError(
                    f"partition column {c!r} not in table schema {cur.get('columns')}"
                )
        old_spec = list(cur.get("partition_spec") or [])
        if new_spec == old_spec:
            raise ValueError(f"table already partitioned by {new_spec}")
        return self._commit_metadata(
            cur,
            {"operation": "evolve_partition_spec", "previous_spec": old_spec},
            partition_spec=new_spec,
            dir_specs=self._dir_specs(cur),  # existing dirs keep their layout
        )

    # -- named refs (tags and branches) ----------------------------------------

    def _create_ref(self, kind: str, name: str, snapshot_id: int | None) -> dict:
        """Point the named ref ``name`` of type ``kind`` at a snapshot
        (default: the current one). Atomic (tmp + rename), same
        discipline as the version-hint pointer."""
        if not name or not all(c.isalnum() or c in "-_." for c in name):
            raise ValueError(f"invalid {kind} name: {name!r}")
        snap_id = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if snap_id is None or self.snapshot(snap_id) is None:
            raise FileNotFoundError(f"snapshot {snap_id} does not exist")
        return self._write_ref(name, snap_id, kind)

    def create_tag(self, name: str, snapshot_id: int | None = None) -> dict:
        """Pin a snapshot under a stable name (Iceberg ``create_tag``) —
        the release/reproducibility primitive: a training run records
        ``create_tag("run-2026-08-17")`` and can re-read the exact input
        forever, regardless of later appends, compactions, or expiry
        (tagged snapshots are protected from :meth:`expire_snapshots`).
        Defaults to the current snapshot. Atomic (tmp + rename), same
        discipline as the version-hint pointer."""
        return self._create_ref("tag", name, snapshot_id)

    # -- branches (write-audit-publish) ----------------------------------------

    def create_branch(self, name: str, snapshot_id: int | None = None) -> dict:
        """Create a movable named ref (Iceberg branch). Unlike a tag it
        advances with :meth:`commit_to_branch` — the staging pointer of
        the write-audit-publish flow: jobs commit to the branch, an
        audit reads the branch head, and :meth:`fast_forward` publishes
        it to main atomically. Branch heads are protected from
        :meth:`expire_snapshots` like any named ref."""
        return self._create_ref("branch", name, snapshot_id)

    def _ref(self, name: str) -> dict:
        p = self._ref_path(name)
        if not os.path.exists(p):
            raise FileNotFoundError(f"no ref {name!r}")
        with open(p) as f:
            return json.load(f)

    def commit_to_branch(
        self, name: str, df: DataFrame, partition_by: tuple[str, ...] = ()
    ) -> dict:
        """Append-shaped commit whose parent is the BRANCH head: the same
        guarded fast-append as :meth:`append` with its defaults (data-dir
        bound, spec and schema guards, per-dir ``dir_specs``), but only
        the branch ref advances — the main pointer (and every main
        reader) is untouched until :meth:`fast_forward`. This is
        Iceberg's WAP staging write."""
        ref = self._ref(name)
        if ref.get("type") != "branch":
            raise ValueError(f"ref {name!r} is a {ref.get('type')}, not a branch")
        return self._commit_data(
            df,
            partition_by,
            {"operation": "branch-append", "branch": name},
            base=self.snapshot(ref["snapshot_id"]),
            branch=name,
        )

    def read_branch(self, spark: SparkSession, name: str) -> DataFrame:
        """Read a branch head (the audit step of write-audit-publish)."""
        ref = self._ref(name)
        return self.read(spark, snapshot_id=ref["snapshot_id"])

    def fast_forward(self, name: str) -> dict:
        """Publish: atomically move the MAIN pointer to the branch head.
        Refuses unless main's current snapshot is an ancestor of the
        branch head (the fast-forward invariant — anything else would
        silently discard main commits; Iceberg's
        ``fast_forward('main', branch)`` has the same precondition)."""
        head = self._ref(name)["snapshot_id"]
        cur = self.current_snapshot_id()
        if cur is not None and cur not in {s["snapshot_id"] for s in self.ancestors(head)}:
            raise ValueError(
                f"main snapshot {cur} is not an ancestor of branch head "
                f"{head}: fast-forward would drop main commits (rebase or "
                "rollback first)"
            )
        self._swap(head)
        return {"published_snapshot_id": head, "previous": cur}

    def tags(self) -> dict[str, int]:
        """``{tag name: snapshot id}`` for every named ref."""
        out = {}
        for fn in sorted(os.listdir(self.meta)):
            if fn.startswith("ref-") and fn.endswith(".json"):
                with open(os.path.join(self.meta, fn)) as f:
                    ref = json.load(f)
                out[ref["name"]] = ref["snapshot_id"]
        return out

    def drop_tag(self, name: str) -> None:
        p = self._ref_path(name)
        if not os.path.exists(p):
            raise FileNotFoundError(f"no tag {name!r}")
        os.remove(p)

    def read_tag(self, spark: SparkSession, name: str) -> DataFrame:
        """Read the snapshot a tag pins (raises on unknown tags)."""
        refs = self.tags()
        if name not in refs:
            raise FileNotFoundError(f"no tag {name!r}")
        return self.read(spark, snapshot_id=refs[name])

    def expire_snapshots(self, keep_last: int = 5) -> dict:
        """Maintenance: drop all but the newest ``keep_last`` snapshots
        (the current one is always retained) and DELETE data dirs no
        retained snapshot references — Iceberg's ``expire_snapshots``.
        Time travel to retained ids keeps working bit-for-bit; reads of
        expired ids raise. Without expiry an append-only ingest keeps
        every commit's files forever (compact() rewrites data but the
        old snapshots still pin the old dirs)."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        cur = self.current_snapshot_id()
        snaps = self.snapshots()
        ids = [s["snapshot_id"] for s in snaps]
        keep = set(ids[-keep_last:])
        if cur is not None:
            keep.add(cur)
        # named refs pin their snapshots (Iceberg ref-retention rule):
        # a tagged snapshot is never expired, however old
        keep.update(self.tags().values())
        retained_dirs = set()
        for s in snaps:
            if s["snapshot_id"] in keep:
                retained_dirs.update(self._dirs(s))
        expired = [i for i in ids if i not in keep]
        for i in expired:
            os.remove(os.path.join(self.meta, f"snap-{i}.json"))
        removed_dirs = []
        data_root = os.path.join(self.root, "data")
        if os.path.isdir(data_root):
            for d in sorted(os.listdir(data_root)):
                rel = os.path.join("data", d)
                if rel not in retained_dirs:
                    shutil.rmtree(os.path.join(data_root, d))
                    removed_dirs.append(rel)
        return {
            "expired_snapshot_ids": expired,
            "removed_data_dirs": removed_dirs,
            "retained_snapshot_ids": sorted(keep),
        }

    def file_count(self, snapshot_id: int | None = None) -> int:
        snap = self.snapshot(snapshot_id)
        return len(snap["files"]) if snap else 0

    # -- read (current or time-travel) ----------------------------------------

    def added_data_dirs(
        self, since_snapshot_id: int, as_of: int | None = None
    ) -> list[str]:
        """Data dirs gained between ``since_snapshot_id`` and ``as_of``
        (default: current) — the fast-append lineage diff. Because an
        append commit's manifest lists the parent's dirs plus exactly
        one new dir, this is the precise "what arrived since I last
        processed" file set, the foundation of incremental consumption
        (Iceberg's incremental scan between snapshot ids)."""
        new = self.snapshot(as_of)
        old = self.snapshot(since_snapshot_id)
        if new is None or old is None:
            raise FileNotFoundError("both snapshots must exist")
        old_dirs = set(self._dirs(old))
        return [d for d in self._dirs(new) if d not in old_dirs]

    def _scan(self, spark: SparkSession, dirs: list[str]) -> DataFrame:
        """Union of per-dir scans. Each data dir is its own hive tree:
        ``basePath`` keeps its partition columns as columns, so Catalyst
        prunes partitions inside every dir; allowMissingColumns
        null-fills the columns a schema-evolved dir lacks (Iceberg
        add-column reads)."""
        out = None
        for d in dirs:
            data_dir = os.path.join(self.root, d)
            part = spark.read.option("basePath", data_dir).parquet(data_dir)
            out = part if out is None else out.unionByName(part, allowMissingColumns=True)
        return out

    def read_added(
        self, spark: SparkSession, since_snapshot_id: int, as_of: int | None = None
    ) -> DataFrame:
        """Only the rows appended after ``since_snapshot_id`` (up to
        ``as_of``/current). Reads just the diff dirs — cost scales with
        the NEW data, not table size; an empty diff returns an empty
        frame with the table's schema."""
        dirs = self.added_data_dirs(since_snapshot_id, as_of)
        if not dirs:
            return self.read(spark, since_snapshot_id).limit(0)
        return self._scan(spark, dirs)

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        snap = self.snapshot(snapshot_id)
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        # append snapshots span several data dirs (one per commit)
        return self._scan(spark, self._dirs(snap))
