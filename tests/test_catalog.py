"""Iceberg-lite catalog: atomic snapshot commit, time travel, pruning."""

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgforge import catalog
from kgforge.catalog import IcebergLiteTable


def _df(spark, vals):
    return spark.createDataFrame(
        pd.DataFrame({"part": [v % 3 for v in vals], "x": vals})
    )


def test_snapshot_commit_and_time_travel(spark, tmp_path):
    t = IcebergLiteTable(str(tmp_path / "tbl"))
    assert t.current_snapshot_id() is None
    t.overwrite(_df(spark, [1, 2, 3]), partition_by=("part",), row_count=3)
    t.overwrite(_df(spark, [10, 20, 30, 40]), partition_by=("part",), row_count=4)
    assert t.current_snapshot_id() == 2
    assert t.read(spark).count() == 4
    assert t.read(spark, snapshot_id=1).count() == 3  # time travel
    snaps = t.snapshots()
    assert [s["snapshot_id"] for s in snaps] == [1, 2]
    assert snaps[1]["parent_id"] == 1
    assert all(f["bytes"] > 0 for f in snaps[1]["files"])


def test_partition_pruning_reaches_scan(spark, tmp_path):
    t = IcebergLiteTable(str(tmp_path / "tbl"))
    t.overwrite(_df(spark, list(range(30))), partition_by=("part",))
    df = t.read(spark).where(F.col("part") == 1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # partition filter must prune at the scan, not post-filter all rows
    assert "PartitionFilters" in plan and "part" in plan
    assert df.count() == 10


def test_crash_before_swap_keeps_previous_snapshot(spark, tmp_path):
    t = IcebergLiteTable(str(tmp_path / "tbl"))
    t.overwrite(_df(spark, [1, 2, 3]))
    # simulate a crashed writer: data + manifest exist, pointer not swapped
    import json

    data_dir = os.path.join(t.root, "data", "v99")
    _df(spark, [9]).write.parquet(data_dir)
    with open(os.path.join(t.meta, "snap-99.json"), "w") as f:
        json.dump({"snapshot_id": 99, "data_dir": "data/v99", "files": []}, f)
    # reader still sees snapshot 1
    assert t.current_snapshot_id() == 1
    assert t.read(spark).count() == 3


def test_append_accumulates_and_preserves_history(spark, tmp_path):
    t = IcebergLiteTable(str(tmp_path / "tab"))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    df2 = spark.createDataFrame([(3, "c")], "id long, v string")
    t.append(df1)
    t.append(df2)
    assert t.read(spark).count() == 3
    # snapshot 1 still reads only the first commit's rows
    assert sorted(r["id"] for r in t.read(spark, 1).collect()) == [1, 2]
    assert t.snapshot()["summary"]["operation"] == "append"


def test_compact_reduces_files_keeps_rows_and_history(spark, tmp_path):
    t = IcebergLiteTable(str(tmp_path / "tab"))
    rows = [(i, f"v{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "id long, v string")
    t.append(df.limit(20).repartition(4))
    t.append(df.subtract(df.limit(20)).repartition(4))
    frag_id = t.current_snapshot_id()
    files_before = t.file_count()
    m = t.compact(spark, target_files=1)
    assert m["summary"]["operation"] == "compact"
    assert t.file_count() < files_before
    got = sorted(r["id"] for r in t.read(spark).collect())
    assert got == list(range(40))
    # pre-compaction snapshot still fully readable (time travel intact)
    assert t.read(spark, frag_id).count() == 40


def test_expire_snapshots_after_compaction_reclaims_dirs(spark, tmp_path):
    """Long-ingest maintenance cycle: appends fragment, compact folds the
    data into one dir, expire_snapshots drops the old snapshots AND the
    data dirs only they referenced. Retained ids stay bit-exact; expired
    ids raise; >9 snapshots also exercises numeric (not filename)
    snapshot ordering."""
    t = IcebergLiteTable(str(tmp_path / "tab"))
    for i in range(8):
        t.append(spark.createDataFrame([(i,)], "id long"))
    t.compact(spark, target_files=1)                       # snapshot 9, dir v9
    t.append(spark.createDataFrame([(100,)], "id long"))   # 10
    t.append(spark.createDataFrame([(101,)], "id long"))   # 11
    assert [s["snapshot_id"] for s in t.snapshots()] == list(range(1, 12))
    want_s10 = sorted(r["id"] for r in t.read(spark, 10).collect())
    res = t.expire_snapshots(keep_last=3)
    assert res["expired_snapshot_ids"] == list(range(1, 9))
    assert res["retained_snapshot_ids"] == [9, 10, 11]
    # the pre-compaction dirs v1..v8 were referenced ONLY by expired
    # snapshots — reclaimed; v9..v11 back retained snapshots — kept
    assert res["removed_data_dirs"] == [f"data/v{i}" for i in range(1, 9)]
    assert sorted(r["id"] for r in t.read(spark, 10).collect()) == want_s10
    assert t.read(spark).count() == 10  # 8 + 2 post-compaction rows
    with pytest.raises(FileNotFoundError):
        t.read(spark, 3)
    # main's lineage ends where expiry removed the manifests
    assert [s["snapshot_id"] for s in t.ancestors()] == [11, 10, 9]


def test_expire_keeps_dirs_still_referenced_by_retained(spark, tmp_path):
    """Fast-append lineage: snapshot N references every parent dir, so
    expiring old snapshots without a compaction must delete NOTHING."""
    t = IcebergLiteTable(str(tmp_path / "tab"))
    for i in range(6):
        t.append(spark.createDataFrame([(i,)], "id long"))
    res = t.expire_snapshots(keep_last=2)
    assert res["expired_snapshot_ids"] == [1, 2, 3, 4]
    assert res["removed_data_dirs"] == []
    assert t.read(spark).count() == 6


def test_append_guards_partition_spec_and_dir_bound(spark, tmp_path):
    t = IcebergLiteTable(str(tmp_path / "tab"))
    t.append(_df(spark, [1, 2, 3]), partition_by=("part",))
    with pytest.raises(ValueError, match="partition_by"):
        t.append(_df(spark, [4]))  # spec drift: () vs ("part",)
    t2 = IcebergLiteTable(str(tmp_path / "tab2"))
    t2.append(_df(spark, [1]))
    t2.append(_df(spark, [2]), max_data_dirs=2)
    with pytest.raises(RuntimeError, match="compact"):
        t2.append(_df(spark, [3]), max_data_dirs=2)


def test_schema_evolution_gated_and_null_filled(spark, tmp_path):
    """Column drift without the opt-in refuses; with it, reads null-fill
    pre-evolution rows, time travel keeps old schemas, and compaction
    materializes the merged schema."""
    import pandas as pd
    import pytest as _pt

    from kgforge.catalog import IcebergLiteTable

    t = IcebergLiteTable(str(tmp_path / "tbl"))
    t.append(spark.createDataFrame(pd.DataFrame({"k": [1, 2], "v": ["a", "b"]})))
    with _pt.raises(ValueError, match="allow_schema_evolution"):
        t.append(
            spark.createDataFrame(
                pd.DataFrame({"k": [3], "v": ["c"], "extra": [9]})
            )
        )
    t.append(
        spark.createDataFrame(pd.DataFrame({"k": [3], "v": ["c"], "extra": [9]})),
        allow_schema_evolution=True,
    )
    snap2 = t.current_snapshot_id()
    got = {r["k"]: (r["v"], r["extra"]) for r in t.read(spark).collect()}
    assert got == {1: ("a", None), 2: ("b", None), 3: ("c", 9)}
    # time travel to the pre-evolution snapshot: narrow schema only
    pre = t.read(spark, snapshot_id=snap2 - 1)
    assert sorted(pre.columns) == ["k", "v"] and pre.count() == 2
    # compaction materializes the merged schema; rows unchanged
    t.compact(spark)
    got2 = {r["k"]: (r["v"], r["extra"]) for r in t.read(spark).collect()}
    assert got2 == got


def test_upsert_updates_inserts_and_preserves_history(spark, tmp_path):
    import pandas as pd

    from kgforge.catalog import IcebergLiteTable

    t = IcebergLiteTable(str(tmp_path / "tbl"))
    t.append(
        spark.createDataFrame(pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]}))
    )
    pre = t.current_snapshot_id()
    t.upsert(
        spark,
        spark.createDataFrame(pd.DataFrame({"k": [2, 9], "v": ["B", "z"]})),
        ["k"],
    )
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "B", 3: "c", 9: "z"}  # update + insert
    # key uniqueness preserved
    assert t.read(spark).count() == t.read(spark).select("k").distinct().count()
    # pre-merge snapshot untouched (copy-on-write commits a NEW snapshot)
    old = {r["k"]: r["v"] for r in t.read(spark, snapshot_id=pre).collect()}
    assert old == {1: "a", 2: "b", 3: "c"}
    assert t.snapshot()["summary"]["operation"] == "upsert"


def test_delete_where_with_retention_purge(spark, tmp_path):
    """Copy-on-write delete removes rows in a new snapshot; the
    pre-delete snapshot stays readable (auditable retention) until
    expire_snapshots purges the files that still hold the deleted
    rows — the full right-to-be-forgotten flow."""
    import pandas as pd
    from pyspark.sql import functions as F

    from kgforge.catalog import IcebergLiteTable

    t = IcebergLiteTable(str(tmp_path / "tbl"))
    t.append(
        spark.createDataFrame(
            pd.DataFrame({"user": [1, 2, 3, 2], "v": ["a", "b", "c", "d"]})
        )
    )
    pre = t.current_snapshot_id()
    t.delete_where(spark, F.col("user") == 2)
    assert {r["v"] for r in t.read(spark).collect()} == {"a", "c"}
    assert t.snapshot()["summary"]["operation"] == "delete"
    # retention: the old snapshot still exposes user 2's rows...
    assert {r["v"] for r in t.read(spark, snapshot_id=pre).collect()} == {
        "a", "b", "c", "d",
    }
    # ...until expiry purges it; then the data files are really gone
    t.expire_snapshots(keep_last=1)
    import pytest as _pt

    with _pt.raises(FileNotFoundError):
        t.read(spark, snapshot_id=pre).collect()
    assert {r["v"] for r in t.read(spark).collect()} == {"a", "c"}


def test_tags_pin_snapshots_through_expiry(spark, tmp_path):
    """Named refs: a tag survives expiry (Iceberg ref-retention), reads
    bit-exact after other snapshots' dirs are reclaimed, and drops
    cleanly."""
    t = IcebergLiteTable(str(tmp_path / "tbl"))
    t.overwrite(_df(spark, [1, 2, 3]), partition_by=("part",))
    t.create_tag("v1")
    t.overwrite(_df(spark, [10, 20]), partition_by=("part",))
    t.overwrite(_df(spark, [100]), partition_by=("part",))
    assert t.tags() == {"v1": 1}
    gone = t.expire_snapshots(keep_last=1)
    assert 1 not in gone["expired_snapshot_ids"]
    assert 2 in gone["expired_snapshot_ids"]
    assert {r["x"] for r in t.read_tag(spark, "v1").collect()} == {1, 2, 3}
    with pytest.raises(FileNotFoundError):
        t.read(spark, snapshot_id=2).collect()
    t.drop_tag("v1")
    with pytest.raises(FileNotFoundError):
        t.read_tag(spark, "v1")
    # with the tag gone the snapshot is expirable
    gone2 = t.expire_snapshots(keep_last=1)
    assert 1 in gone2["expired_snapshot_ids"]
    with pytest.raises(FileNotFoundError):
        t.create_tag("nope", snapshot_id=99)
    with pytest.raises(ValueError):
        t.create_tag("../escape")


def test_rollback_is_metadata_only_and_auditable(spark, tmp_path):
    t = IcebergLiteTable(str(tmp_path / "tbl"))
    t.overwrite(_df(spark, [1, 2, 3]), partition_by=("part",))
    good = {tuple(r) for r in t.read(spark).collect()}
    t.append(_df(spark, [40, 50]), partition_by=("part",))  # the "bad" commit
    m = t.rollback(1)
    # a NEW snapshot (history intact), reading exactly the target's rows
    assert m["snapshot_id"] == 3 and m["parent_id"] == 2
    assert m["summary"]["operation"] == "rollback"
    assert m["summary"]["rolled_back_to"] == 1
    assert {tuple(r) for r in t.read(spark).collect()} == good
    # the bad commit is still time-travelable until expiry
    assert t.read(spark, snapshot_id=2).count() == 5
    # metadata-only: no new data dir was written
    assert not os.path.isdir(os.path.join(t.root, "data", "v3"))
    # expiring down to the rollback keeps the dirs it references alive
    t.expire_snapshots(keep_last=1)
    assert {tuple(r) for r in t.read(spark).collect()} == good
    with pytest.raises(FileNotFoundError):
        t.rollback(99)


def test_branch_write_audit_publish(spark, tmp_path):
    t = IcebergLiteTable(str(tmp_path / "tbl"))
    t.overwrite(_df(spark, [1, 2, 3]), partition_by=("part",))
    main_before = {tuple(r) for r in t.read(spark).collect()}

    t.create_branch("staging")
    t.commit_to_branch("staging", _df(spark, [40, 50]), partition_by=("part",))
    # WRITE staged: main readers untouched
    assert {tuple(r) for r in t.read(spark).collect()} == main_before
    # AUDIT: branch head sees old + staged rows
    staged = {tuple(r) for r in t.read_branch(spark, "staging").collect()}
    assert staged > main_before and len(staged) == 5
    # PUBLISH: atomic fast-forward
    pub = t.fast_forward("staging")
    assert pub["published_snapshot_id"] == t.current_snapshot_id()
    assert {tuple(r) for r in t.read(spark).collect()} == staged
    # history intact: pre-publish main still time-travels
    assert {tuple(r) for r in t.read(spark, snapshot_id=1).collect()} == main_before


def test_fast_forward_refuses_divergence(spark, tmp_path):
    t = IcebergLiteTable(str(tmp_path / "tbl"))
    t.overwrite(_df(spark, [1, 2]), partition_by=("part",))
    t.create_branch("b")
    t.commit_to_branch("b", _df(spark, [3]), partition_by=("part",))
    # main advances independently -> branch head no longer a descendant
    t.append(_df(spark, [9]), partition_by=("part",))
    with pytest.raises(ValueError, match="not an ancestor"):
        t.fast_forward("b")
    # snapshot ids never collided despite the two writers
    ids = [s["snapshot_id"] for s in t.snapshots()]
    assert len(ids) == len(set(ids)) == 3
    # guards: tag is not a branch; unknown ref raises
    t.create_tag("v1")
    with pytest.raises(ValueError, match="not a branch"):
        t.commit_to_branch("v1", _df(spark, [4]))
    with pytest.raises(FileNotFoundError):
        t.read_branch(spark, "nope")


def test_partition_spec_evolution(spark, tmp_path):
    """Iceberg partition-spec evolution: a metadata-only commit changes
    the write contract; old dirs keep their layout, new appends use the
    new spec, reads align both layouts, time travel is unaffected, and
    compact() converges the table to one layout."""
    t = IcebergLiteTable(str(tmp_path / "tab"))
    df1 = spark.createDataFrame(
        pd.DataFrame({"part": [0, 1, 2], "grp": [9, 9, 8], "x": [1, 2, 3]})
    )
    m1 = t.append(df1, partition_by=("part",))
    ev = t.evolve_partition_spec(("grp",))
    assert ev["summary"]["operation"] == "evolve_partition_spec"
    assert ev["partition_spec"] == ["grp"]
    # metadata-only: same data dirs as the parent, old dir keeps old spec
    assert ev["data_dirs" if "data_dirs" in ev else "data_dir"] == (
        m1.get("data_dirs") or [m1["data_dir"]]
    )
    assert list(ev["dir_specs"].values()) == [["part"]]
    # stale-spec append refuses; new-spec append lands
    df2 = spark.createDataFrame(
        pd.DataFrame({"part": [0, 1], "grp": [7, 7], "x": [4, 5]})
    )
    with pytest.raises(ValueError, match="evolve_partition_spec"):
        t.append(df2, partition_by=("part",))
    m2 = t.append(df2, partition_by=("grp",))
    assert m2["dir_specs"][m2["data_dirs"][0]] == ["part"]
    assert m2["dir_specs"][m2["data_dirs"][1]] == ["grp"]
    # read aligns both layouts: full row set, both partition columns
    got = t.read(spark).select("part", "grp", "x").toPandas().sort_values("x")
    assert got["x"].tolist() == [1, 2, 3, 4, 5]
    assert got["part"].astype(int).tolist() == [0, 1, 2, 0, 1]
    assert got["grp"].astype(int).tolist() == [9, 9, 8, 7, 7]
    # time travel to the pre-evolution snapshot is untouched
    old = t.read(spark, m1["snapshot_id"]).toPandas()
    assert sorted(old["x"].tolist()) == [1, 2, 3]
    # compact converges to ONE dir under the current spec
    mc = t.compact(spark)
    assert mc["partition_spec"] == ["grp"]
    assert len(mc.get("data_dirs") or [mc["data_dir"]]) == 1
    after = t.read(spark).select("x").toPandas()
    assert sorted(after["x"].tolist()) == [1, 2, 3, 4, 5]
    # guards: unknown column / no-op evolution
    with pytest.raises(ValueError, match="not in table schema"):
        t.evolve_partition_spec(("nope",))
    with pytest.raises(ValueError, match="already partitioned"):
        t.evolve_partition_spec(("grp",))


def test_branch_commits_keep_append_guards(spark, tmp_path):
    """A branch commit is append's guarded fast-append: column drift and
    spec drift refuse as they do on main, and the per-dir layout record
    survives the branch, so a dir written before a spec evolution keeps
    its pinned spec through commit_to_branch, fast_forward and a later
    main append."""
    t = IcebergLiteTable(str(tmp_path / "tbl"))

    def df(xs, **extra):
        cols = {"part": [x % 2 for x in xs], "grp": [x % 3 for x in xs], "x": xs}
        return spark.createDataFrame(pd.DataFrame({**cols, **extra}))

    t.append(df([1, 2, 3]), partition_by=("part",))
    t.create_branch("b")
    with pytest.raises(ValueError, match="allow_schema_evolution"):
        t.commit_to_branch("b", df([4], extra=[0]), partition_by=("part",))
    with pytest.raises(ValueError, match="partition_by"):
        t.commit_to_branch("b", df([4]))
    assert t.snapshots()[-1]["snapshot_id"] == 1  # refused before any write

    t.evolve_partition_spec(("grp",))
    t.create_branch("b")  # re-point at the evolved head
    staged = t.commit_to_branch("b", df([4, 5]), partition_by=("grp",))
    assert staged["dir_specs"] == {"data/v1": ["part"], "data/v3": ["grp"]}
    t.fast_forward("b")
    m = t.append(df([6]), partition_by=("grp",))
    assert m["dir_specs"] == {
        "data/v1": ["part"], "data/v3": ["grp"], "data/v4": ["grp"],
    }
    got = t.read(spark).select("part", "grp", "x").toPandas().sort_values("x")
    assert got["x"].tolist() == [1, 2, 3, 4, 5, 6]
    assert got["part"].astype(int).tolist() == [1, 0, 1, 0, 1, 0]
    assert got["grp"].astype(int).tolist() == [1, 2, 0, 1, 2, 0]


class _Crash(Exception):
    """A simulated process death at one metadata write."""


def _crash_at(mp, meta, k):
    """Make the ``k``-th metadata write under ``meta`` die (``k = 0``:
    none does). A metadata write is an ``open(..., "w")`` — which dies
    after truncating its file, as a writer killed inside ``json.dump``
    leaves it — or an ``os.replace`` onto a path there, which dies
    before the rename. Returns the running count of metadata writes."""
    seen = [0]
    real_open, real_replace = open, os.replace

    def hit(path):
        if not os.path.abspath(path).startswith(meta + os.sep):
            return False
        seen[0] += 1
        return seen[0] == k

    def crash_open(path, mode="r", *args, **kwargs):
        if "w" in mode and hit(path):
            real_open(path, mode, *args, **kwargs).close()
            raise _Crash(path)
        return real_open(path, mode, *args, **kwargs)

    def crash_replace(src, dst):
        if hit(dst):
            raise _Crash(dst)
        real_replace(src, dst)

    mp.setattr(catalog, "open", crash_open, raising=False)
    mp.setattr(catalog.os, "replace", crash_replace)
    return seen


# op name -> (set-up, the commit under test, the operation it records);
# every table is partitioned by "part" and one branch "b" may exist
CRASH_OPS = {
    "overwrite": (
        lambda s, t: t.overwrite(_df(s, [1, 2, 3]), partition_by=("part",)),
        lambda s, t: t.overwrite(_df(s, [10, 20]), partition_by=("part",)),
        "overwrite",
    ),
    "append": (
        lambda s, t: t.append(_df(s, [1, 2, 3]), partition_by=("part",)),
        lambda s, t: t.append(_df(s, [4, 5]), partition_by=("part",)),
        "append",
    ),
    "upsert": (
        lambda s, t: t.append(_df(s, [1, 2, 3]), partition_by=("part",)),
        lambda s, t: t.upsert(s, _df(s, [3, 7]), ["x"]),
        "upsert",
    ),
    "delete_where": (
        lambda s, t: t.append(_df(s, [1, 2, 3]), partition_by=("part",)),
        lambda s, t: t.delete_where(s, F.col("x") == 2),
        "delete",
    ),
    "compact": (
        lambda s, t: [t.append(_df(s, v), partition_by=("part",)) for v in ([1, 2], [3])],
        lambda s, t: t.compact(s),
        "compact",
    ),
    "rollback": (
        lambda s, t: [t.append(_df(s, v), partition_by=("part",)) for v in ([1, 2], [3])],
        lambda s, t: t.rollback(1),
        "rollback",
    ),
    "evolve_partition_spec": (
        lambda s, t: t.append(_df(s, [1, 2, 3]), partition_by=("part",)),
        lambda s, t: t.evolve_partition_spec(("x",)),
        "evolve_partition_spec",
    ),
    "commit_to_branch": (
        lambda s, t: (t.append(_df(s, [1, 2]), partition_by=("part",)), t.create_branch("b")),
        lambda s, t: t.commit_to_branch("b", _df(s, [3]), partition_by=("part",)),
        "branch-append",
    ),
    "fast_forward": (
        lambda s, t: (
            t.append(_df(s, [1, 2]), partition_by=("part",)),
            t.create_branch("b"),
            t.commit_to_branch("b", _df(s, [3]), partition_by=("part",)),
        ),
        lambda s, t: t.fast_forward("b"),
        "branch-append",
    ),
}


def _state(spark, t):
    """Main and branch ``b`` as ``(snapshot id, sorted rows)`` each."""

    def rows(df):
        return sorted(tuple(sorted(r.asDict().items())) for r in df.collect())

    refs = t.tags()
    return {
        "main": (t.current_snapshot_id(), rows(t.read(spark))),
        "b": (refs["b"], rows(t.read_branch(spark, "b"))) if "b" in refs else None,
    }


@pytest.mark.parametrize("op", list(CRASH_OPS))
def test_every_commit_survives_a_crash_at_each_metadata_write(spark, tmp_path, op):
    """Kill the commit at its k-th metadata write, for every k the call
    makes. Each time, every manifest and ref on disk must parse, main
    and branch ``b`` must each read exactly as before the call or as
    after it, and a snapshot a pointer moved to must carry the call's
    ``operation``: a commit publishes one complete manifest, once, and
    writes nothing after its pointer swap."""
    setup, commit, operation = CRASH_OPS[op]
    template = str(tmp_path / "template")
    setup(spark, IcebergLiteTable(template))

    def fresh(name):
        shutil.copytree(template, str(tmp_path / name))
        return IcebergLiteTable(str(tmp_path / name))

    t = fresh("clean")
    before = _state(spark, t)
    with pytest.MonkeyPatch.context() as mp:
        n_writes = _crash_at(mp, t.meta, 0)
        commit(spark, t)
    after = _state(spark, t)
    assert after != before and n_writes[0] >= 2

    for k in range(1, n_writes[0] + 1):
        t = fresh(f"crash{k}")
        with pytest.MonkeyPatch.context() as mp:
            _crash_at(mp, t.meta, k)
            with pytest.raises(_Crash):
                commit(spark, t)
        t.snapshot()
        t.snapshots()
        got = _state(spark, t)
        for ref in ("main", "b"):
            assert got[ref] in (before[ref], after[ref]), (k, ref)
            if got[ref] is not None and got[ref] != before[ref]:
                snap = t.snapshot(got[ref][0])
                assert snap["summary"]["operation"] == operation, (k, ref)


def test_stream_batch_orphaned_at_its_pointer_write_is_retried(spark, tmp_path):
    """A stream batch whose append died at its pointer write left a
    manifest that main never reached. The stream's re-run retries that
    batch, so every batch is published on main exactly once."""
    from pyspark.errors import StreamingQueryException

    from kgforge.streaming import stream_to_catalog

    src = str(tmp_path / "in")
    spark.createDataFrame(pd.DataFrame({"x": range(6)})).repartition(2).write.parquet(src)

    def run(t):
        stream = spark.readStream.schema("x bigint").option("maxFilesPerTrigger", 1).parquet(src)
        stream_to_catalog(stream, t, str(tmp_path / "ckpt"), source_id="s")

    t = IcebergLiteTable(str(tmp_path / "tbl"))
    with pytest.MonkeyPatch.context() as mp:
        # batch 0's commit: the manifest's tmp write and rename, then the
        # pointer's tmp write and rename, which dies
        seen = _crash_at(mp, t.meta, 4)
        with pytest.raises(StreamingQueryException, match="_Crash"):
            run(t)
    assert seen[0] == 4 and t.current_snapshot_id() is None
    assert [s["summary"]["stream_batch"] for s in t.snapshots()] == ["s:0"]

    run(t)
    keys = sorted(s["summary"]["stream_batch"] for s in t.ancestors())
    assert keys == ["s:0", "s:1"]
    assert sorted(r.x for r in t.read(spark).collect()) == list(range(6))
