"""Merge-on-read positional deletes (deletion vectors): DELETE WHERE marks
positions instead of rewriting files; scans/DSv2 apply DVs; rewrites
(merge/compact/zorder) materialize them; expiry sweeps dead sidecars."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ecommerce_lakehouse_spark.datagen import generate_pages
from ecommerce_lakehouse_spark.maintenance import compact, expire_snapshots, zorder_by
from ecommerce_lakehouse_spark.operators.merge import dedup_latest, merge_into
from ecommerce_lakehouse_spark.table import (
    IcehouseTable,
    Predicate,
    delete_where,
)


@pytest.fixture()
def tbl(spark, tmp_path):
    return IcehouseTable.create(
        spark, str(tmp_path / "pages"),
        generate_pages(spark, 500, seed=61, partitions=4),
    )


def test_delete_where_hides_rows_without_rewriting_files(spark, tbl):
    files_before = {f.path for f in tbl.live_files()}
    victims = [r.url for r in tbl.scan().select("url").orderBy("url").limit(7).collect()]

    snap = delete_where(tbl, [Predicate("url", "in", tuple(victims))])
    assert snap is not None and snap.operation == "delete-rows"
    assert snap.summary["deleted_rows"] == 7
    # merge-on-read: NO data file was rewritten
    assert {f.path for f in tbl.live_files()} == files_before
    assert tbl.scan().count() == 493
    assert tbl.scan().filter(F.col("url").isin(victims)).count() == 0
    # predicate-pruned scans agree
    assert tbl.scan([Predicate("url", "=", victims[0])]).count() == 0


def test_delete_where_is_idempotent_and_time_travel_sees_old_rows(spark, tbl):
    pre = tbl.current_snapshot().snapshot_id
    victims = [r.url for r in tbl.scan().select("url").orderBy("url").limit(3).collect()]
    delete_where(tbl, [Predicate("url", "in", tuple(victims))])
    # re-delete: already-deleted rows are invisible -> no-op, no commit
    assert delete_where(tbl, [Predicate("url", "in", tuple(victims))]) is None
    assert tbl.scan().count() == 497
    # time travel: the pre-delete snapshot still sees all rows
    assert tbl.scan(snapshot_id=pre).count() == 500


def test_deletes_stack_across_commits(spark, tbl):
    urls = [r.url for r in tbl.scan().select("url").orderBy("url").limit(10).collect()]
    delete_where(tbl, [Predicate("url", "in", tuple(urls[:4]))])
    delete_where(tbl, [Predicate("url", "in", tuple(urls[4:]))])
    assert tbl.scan().count() == 490
    assert tbl.scan().filter(F.col("url").isin(urls)).count() == 0


def test_merge_does_not_resurrect_deleted_rows(spark, tbl):
    victims = [r.url for r in tbl.scan().select("url").orderBy("url").limit(5).collect()]
    delete_where(tbl, [Predicate("url", "in", tuple(victims))])
    # merge an unrelated delta that touches the same files
    others = tbl.scan().orderBy(F.col("url").desc()).limit(5)
    src = dedup_latest(others.withColumn("lang", F.lit("vv")), ["url"], "warc_ts")
    merge_into(tbl, src, "url")
    assert tbl.scan().filter(F.col("url").isin(victims)).count() == 0
    assert tbl.scan().filter(F.col("lang") == "vv").count() == 5
    assert tbl.scan().count() == 495


def test_merge_insert_after_delete_revives_key_as_new_row(spark, tbl):
    """MERGE semantics on a deleted key: not matched -> INSERT (the deleted
    row stays dead; the new row is the source's)."""
    victim = tbl.scan().select("url").orderBy("url").limit(1).collect()[0].url
    old_row = tbl.scan().filter(F.col("url") == victim)
    src = old_row.withColumn("lang", F.lit("nw"))
    src_cached = src.collect()
    delete_where(tbl, [Predicate("url", "=", victim)])
    assert tbl.scan().filter(F.col("url") == victim).count() == 0
    res = merge_into(tbl, spark.createDataFrame(src_cached, src.schema), "url")
    assert res.rows_inserted == 1 and res.rows_updated == 0
    got = tbl.scan().filter(F.col("url") == victim).collect()
    assert len(got) == 1 and got[0].lang == "nw"


def test_compaction_materializes_deletes(spark, tmp_path):
    tbl = IcehouseTable.create(
        spark, str(tmp_path / "pages"),
        generate_pages(spark, 200, seed=63, partitions=1),
    )
    for s in (64, 65):
        tbl.append(generate_pages(spark, 100, seed=s, partitions=1))
    victims = [r.url for r in tbl.scan().select("url").orderBy("url").limit(9).collect()]
    delete_where(tbl, [Predicate("url", "in", tuple(victims))])
    assert tbl.current_snapshot().delete_manifest is not None

    snap = compact(tbl, target_file_bytes=1 << 30)
    assert snap is not None
    # all DV'd files were rewritten -> registry entries dropped
    assert tbl.current_snapshot().delete_manifest is None
    assert tbl.scan().count() == 391
    assert tbl.scan().filter(F.col("url").isin(victims)).count() == 0


def test_zorder_materializes_deletes(spark, tbl):
    victims = [r.url for r in tbl.scan().select("url").orderBy("url").limit(6).collect()]
    delete_where(tbl, [Predicate("url", "in", tuple(victims))])
    zorder_by(tbl, target_file_bytes=1 << 18)
    assert tbl.current_snapshot().delete_manifest is None
    assert tbl.scan().count() == 494
    assert tbl.scan().filter(F.col("url").isin(victims)).count() == 0


def test_dsv2_reader_applies_deletion_vectors(spark, tbl):
    from ecommerce_lakehouse_spark.sources.datasource import register

    register(spark)
    victims = [r.url for r in tbl.scan().select("url").orderBy("url").limit(8).collect()]
    delete_where(tbl, [Predicate("url", "in", tuple(victims))])
    df = spark.read.format("icehouse").load(tbl.path)
    assert df.count() == 492
    assert df.filter(F.col("url").isin(victims)).count() == 0


def test_expire_sweeps_dead_deletion_vectors(spark, tbl):
    victims = [r.url for r in tbl.scan().select("url").orderBy("url").limit(5).collect()]
    delete_where(tbl, [Predicate("url", "in", tuple(victims))])
    dv_files = [f for f in os.listdir(os.path.join(tbl.path, "data"))
                if f.startswith("dv-")]
    assert dv_files
    # retained snapshot still references the DVs -> expiry must keep them
    expire_snapshots(tbl, keep_last=1)
    assert [f for f in os.listdir(os.path.join(tbl.path, "data"))
            if f.startswith("dv-")] == dv_files
    assert tbl.scan().count() == 495

    # compaction materializes deletes; expiring pre-compaction snapshots
    # leaves the DVs unreferenced -> swept
    compact(tbl, target_file_bytes=1 << 30)
    expire_snapshots(tbl, keep_last=1)
    assert not [f for f in os.listdir(os.path.join(tbl.path, "data"))
                if f.startswith("dv-")]
    assert tbl.scan().count() == 495


def test_delete_commit_conflicts_when_file_rewritten_concurrently(spark, tbl):
    """Direction 1 (Iceberg validateNoNewDeletesForDataFiles): a DELETE whose
    positions reference a data file that a concurrent rewrite replaced must
    abort — committing it would silently lose the deletion."""
    from ecommerce_lakehouse_spark.table.format import CommitConflict

    # craft a registry referencing a file, then replace that file
    victim_file = tbl.live_files()[0]
    dm = tbl._write_delete_registry(
        {victim_file.path: {"dvs": ["data/dv-ghost.parquet"], "rows": 1}}
    )
    # concurrent rewrite replaces the file (compact everything)
    from ecommerce_lakehouse_spark.maintenance import compact

    assert compact(tbl, target_file_bytes=1 << 30) is not None
    assert victim_file.path not in {f.path for f in tbl.live_files()}

    with pytest.raises(CommitConflict, match="concurrent"):
        tbl._commit("delete-rows", [], set(), delete_manifest=dm)


def test_rewrite_conflicts_when_delete_lands_mid_rewrite(spark, tbl):
    """Direction 2: a rewrite that read its files BEFORE a delete landed must
    abort at commit — dropping the newer registry entries would resurrect
    the deleted rows."""
    from ecommerce_lakehouse_spark.table.format import CommitConflict

    files = tbl.live_files()
    base_registry = tbl.delete_registry()  # what the rewrite read through
    staged = tbl._stage_dataframe(
        tbl.read_files(files), None, snapshot_id=tbl.current_version() + 1
    )
    # delete lands AFTER the rewrite read its input
    victims = [r.url for r in tbl.scan().select("url").orderBy("url").limit(2).collect()]
    delete_where(tbl, [Predicate("url", "in", tuple(victims))])

    with pytest.raises(CommitConflict, match="resurrect"):
        tbl.replace_files(
            [f.path for f in files], None, operation="compact",
            precomputed_added=staged, base_delete_registry=base_registry,
        )
    # and the safe retry: re-reading through the CURRENT registry succeeds
    staged2 = tbl._stage_dataframe(
        tbl.read_files(tbl.live_files()), None,
        snapshot_id=tbl.current_version() + 1,
    )
    snap = tbl.replace_files(
        [f.path for f in files], None, operation="compact",
        precomputed_added=staged2,
        base_delete_registry=tbl.delete_registry(),
    )
    assert snap is not None
    assert tbl.scan().count() == 498
    assert tbl.scan().filter(F.col("url").isin(victims)).count() == 0


def test_rewrite_manifests_carries_delete_registry(spark, tbl):
    """Manifest consolidation changes no data files, so the DV registry must
    survive it verbatim — dropping it would resurrect every deleted row."""
    from ecommerce_lakehouse_spark.maintenance import rewrite_manifests

    victims = [r.url for r in tbl.scan().select("url").orderBy("url").limit(4).collect()]
    delete_where(tbl, [Predicate("url", "in", tuple(victims))])
    assert tbl.scan().count() == 496

    snap = rewrite_manifests(tbl)
    assert snap.delete_manifest is not None
    assert tbl.scan().count() == 496
    assert tbl.scan().filter(F.col("url").isin(victims)).count() == 0


def test_rewrite_delete_vectors_consolidates_sidecars(spark, tbl):
    """Stacked point deletes accumulate sidecars; DV compaction merges them
    into one deduplicated file, scans are unchanged, and expiry sweeps the
    old sidecars once no retained snapshot references them."""
    from ecommerce_lakehouse_spark.maintenance import (
        expire_snapshots,
        rewrite_delete_vectors,
    )

    urls = [r.url for r in tbl.scan().select("url").orderBy("url").limit(9).collect()]
    for chunk in (urls[:3], urls[3:6], urls[5:9]):  # overlapping on purpose
        delete_where(tbl, [Predicate("url", "in", tuple(chunk))])
    reg = tbl.delete_registry()
    n_dvs_before = len({dv for e in reg.values() for dv in e["dvs"]})
    assert n_dvs_before >= 3
    assert tbl.scan().count() == 491

    snap = rewrite_delete_vectors(tbl)
    assert snap is not None and snap.operation == "rewrite-deletes"
    assert snap.summary["dv_files_after"] < n_dvs_before
    assert snap.summary["dv_rows"] == 9  # deduplicated across overlaps
    assert tbl.scan().count() == 491
    assert tbl.scan().filter(F.col("url").isin(urls)).count() == 0

    # old sidecars are unreferenced once pre-rewrite snapshots expire
    expire_snapshots(tbl, keep_last=1)
    live_dvs = {os.path.basename(dv) for e in tbl.delete_registry().values()
                for dv in e["dvs"]}
    on_disk = {f for f in os.listdir(os.path.join(tbl.path, "data"))
               if f.startswith("dv-")}
    assert on_disk == live_dvs

    # nothing left to consolidate
    assert rewrite_delete_vectors(tbl) is None


# ------------------------------------------------------- equality deletes

def test_delete_by_key_hides_rows_without_reading_data(spark, tbl):
    """Equality delete: O(keys) — one sidecar write, no position scan, no
    data file touched; matching rows vanish from scans."""
    files_before = {f.path for f in tbl.live_files()}
    victims = [r.url for r in tbl.scan().select("url").orderBy("url").limit(6).collect()]
    pre = tbl.current_snapshot().snapshot_id

    from ecommerce_lakehouse_spark.table import delete_by_key

    snap = delete_by_key(tbl, "url", victims)
    assert snap is not None and snap.operation == "delete-rows-eq"
    assert snap.summary["eq_delete_keys"] == 6
    assert {f.path for f in tbl.live_files()} == files_before
    assert tbl.scan().count() == 494
    assert tbl.scan().filter(F.col("url").isin(victims)).count() == 0
    # time travel still sees them
    assert tbl.scan(snapshot_id=pre).count() == 500


def test_eq_delete_sequence_semantics_reinsert(spark, tbl):
    """The delete covers only files that existed at commit: appending the
    SAME key afterwards makes it visible again (Iceberg sequence-number
    semantics via added_by)."""
    from ecommerce_lakehouse_spark.table import delete_by_key

    victim_rows = tbl.scan().orderBy("url").limit(1).collect()
    victim = victim_rows[0].url
    delete_by_key(tbl, "url", [victim])
    assert tbl.scan().filter(F.col("url") == victim).count() == 0

    # re-insert the key via a plain append
    re_add = spark.createDataFrame(victim_rows, tbl.scan().schema)
    tbl.append(re_add)
    got = tbl.scan().filter(F.col("url") == victim)
    assert got.count() == 1, "the re-inserted row must escape the older delete"
    assert tbl.scan().count() == 500


def test_eq_delete_materialized_by_rewrite_and_retired(spark, tbl):
    from ecommerce_lakehouse_spark.maintenance import (
        compact,
        rewrite_delete_vectors,
    )
    from ecommerce_lakehouse_spark.table import delete_by_key

    victims = [r.url for r in tbl.scan().select("url").orderBy("url").limit(5).collect()]
    delete_by_key(tbl, "url", victims)
    assert len(tbl.eq_deletes()) == 1

    assert compact(tbl, target_file_bytes=1 << 30) is not None
    assert tbl.scan().count() == 495
    assert tbl.scan().filter(F.col("url").isin(victims)).count() == 0
    # all pre-delete files were rewritten -> the eq entry applies to nothing;
    # DV maintenance retires it
    snap = rewrite_delete_vectors(tbl)
    assert snap is not None and snap.summary.get("eq_entries_retired") == 1
    assert tbl.eq_deletes() == []
    assert tbl.scan().count() == 495


def test_dsv2_reader_applies_eq_deletes(spark, tbl):
    from ecommerce_lakehouse_spark.sources.datasource import register
    from ecommerce_lakehouse_spark.table import delete_by_key

    register(spark)
    victims = [r.url for r in tbl.scan().select("url").orderBy("url").limit(4).collect()]
    delete_by_key(tbl, "url", victims)
    # and a later re-insert of one key must be visible through DSv2 too
    row = tbl.scan(snapshot_id=1).filter(F.col("url") == victims[0]).collect()
    tbl.append(spark.createDataFrame(row, tbl.scan().schema))

    df = spark.read.format("icehouse").load(tbl.path)
    assert df.count() == 497
    assert df.filter(F.col("url").isin(victims)).count() == 1
    assert df.filter(F.col("url") == victims[0]).count() == 1


def test_mixed_positional_and_eq_deletes_stack(spark, tbl):
    from ecommerce_lakehouse_spark.table import delete_by_key

    urls = [r.url for r in tbl.scan().select("url").orderBy("url").limit(8).collect()]
    delete_where(tbl, [Predicate("url", "in", tuple(urls[:4]))])
    delete_by_key(tbl, "url", urls[4:])
    assert tbl.scan().count() == 492
    assert tbl.scan().filter(F.col("url").isin(urls)).count() == 0


def test_rewrite_conflicts_when_eq_delete_lands_mid_rewrite(spark, tbl):
    """A rewrite must abort when an equality delete committed after it read
    its input: the rewritten files' higher added_by would escape it."""
    from ecommerce_lakehouse_spark.table import delete_by_key
    from ecommerce_lakehouse_spark.table.format import CommitConflict

    files = tbl.live_files()
    base = tbl.delete_registry_full()
    staged = tbl._stage_dataframe(
        tbl.read_files(files), None, snapshot_id=tbl.current_version() + 1
    )
    victims = [r.url for r in tbl.scan().select("url").orderBy("url").limit(2).collect()]
    delete_by_key(tbl, "url", victims)

    with pytest.raises(CommitConflict, match="equality deletes changed"):
        tbl.replace_files(
            [f.path for f in files], None, operation="compact",
            precomputed_added=staged, base_delete_registry=base,
        )


def test_concurrent_delete_commits_conflict(spark, tbl):
    """Two deletes derived from the same base: the loser must abort instead
    of silently dropping the winner's registry additions."""
    from ecommerce_lakehouse_spark.table import delete_by_key
    from ecommerce_lakehouse_spark.table.format import CommitConflict

    base_dm = tbl.current_snapshot().delete_manifest  # None
    urls = [r.url for r in tbl.scan().select("url").orderBy("url").limit(4).collect()]
    delete_by_key(tbl, "url", urls[:2])  # the winner

    # the loser derived its registry from the pre-winner snapshot
    stale_dm = tbl._write_delete_registry(
        {}, [{"path": "data/eq-ghost.parquet", "key_col": "url",
              "seq": None, "rows": 2}]
    )
    with pytest.raises(CommitConflict, match="registry changed"):
        tbl._commit("delete-rows-eq", [], set(), delete_manifest=stale_dm,
                    base_delete_manifest=base_dm)


def test_cas_loser_append_restamps_added_by_past_eq_delete_seq(spark, tbl):
    """ADVICE r03 (medium): an append staged BEFORE a concurrent commit +
    delete_by_key must re-stamp added_by at commit time — otherwise its
    added_by <= the delete's seq and the fresh rows are silently hidden."""
    from ecommerce_lakehouse_spark.table import delete_by_key

    victim = tbl.scan().select("url").orderBy("url").first().url
    fresh = tbl.scan().filter(F.col("url") == victim).collect()

    # stage an append of the victim's row at the CURRENT version (provisional
    # added_by = v+1), but don't commit yet — this is the CAS loser
    staged = tbl._stage_dataframe(
        spark.createDataFrame(fresh, tbl.scan().schema), None,
        snapshot_id=tbl.current_version() + 1,
    )
    # meanwhile two commits land: an unrelated append, then an eq delete
    tbl.append(generate_pages(spark, 5, seed=99, partitions=1))
    delete_by_key(tbl, "url", [victim])
    seq = tbl.delete_registry_full(tbl.current_snapshot())["eq"][-1]["seq"]
    assert tbl.scan().filter(F.col("url") == victim).count() == 0

    # the loser now commits; its files must carry added_by > the delete seq
    tbl._commit("append", staged, set())
    live = {f.path: f for f in tbl.live_files()}
    for f in staged:
        assert live[f.path].added_by > seq
    # and the freshly appended row is VISIBLE despite the equality delete
    assert tbl.scan().filter(F.col("url") == victim).count() == 1


def test_rewrite_converts_eq_deletes_to_positional(spark, tbl):
    """VERDICT r03 #4: DV maintenance folds live equality deletes into
    positional sidecars and drops the eq entries in the same commit, so
    steady-state reads carry no eq anti-join regardless of eq accumulation."""
    from ecommerce_lakehouse_spark.maintenance import rewrite_delete_vectors
    from ecommerce_lakehouse_spark.table import delete_by_key

    urls = [r.url for r in tbl.scan().select("url").orderBy("url").limit(6).collect()]
    delete_by_key(tbl, "url", urls[:3])
    delete_by_key(tbl, "url", urls[3:])
    # one key re-inserted AFTER the deletes: must stay visible through the
    # conversion (its file's added_by exceeds both seqs)
    revived_rows = tbl.scan(snapshot_id=1).filter(F.col("url") == urls[0]).collect()
    tbl.append(spark.createDataFrame(revived_rows, tbl.scan().schema))
    assert len(tbl.eq_deletes()) == 2
    before = tbl.scan().count()
    assert before == 495

    snap = rewrite_delete_vectors(tbl)
    assert snap is not None
    assert snap.summary["eq_entries_converted"] == 2
    assert tbl.eq_deletes() == [], "eq entries must drop in the same commit"
    assert tbl.delete_registry(), "positions must exist after conversion"
    # results unchanged: still-deleted keys hidden, revived key visible
    assert tbl.scan().count() == before
    assert tbl.scan().filter(F.col("url").isin(urls[1:])).count() == 0
    assert tbl.scan().filter(F.col("url") == urls[0]).count() == 1
    # the read plan no longer carries per-key-column eq anti-joins: with the
    # registry holding ONLY positional entries (a handful, below the inline
    # cap), read_files applies them as one in-scan filter and joins nothing
    plan = tbl.scan()._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("leftanti") == 0, plan
    assert "row_index IN" in plan, plan


def test_delete_where_registers_only_sidecars_containing_each_file(spark, tmp_path):
    """ADVICE r03: per-entry dvs must list only sidecar part files that
    actually hold positions for that data file."""
    import pyarrow.parquet as pq

    tbl = IcehouseTable.create(
        spark, str(tmp_path / "many"),
        generate_pages(spark, 400, seed=67, partitions=64),
    )
    assert len(tbl.live_files()) >= 64
    # a broad UNPROVABLE delete touching every file -> the writer emits
    # >= 2 sidecar parts (a tautology like warc_ts > 2020 would now be
    # proven all-matching per file and truncate via the metadata path)
    all_urls = sorted(
        r.url for r in tbl.scan().select("url").distinct().collect()
    )
    delete_where(tbl, [Predicate("url", "in", tuple(all_urls[::2]))])
    reg = tbl.delete_registry()
    assert reg
    all_dvs = {dv for e in reg.values() for dv in e["dvs"]}
    assert len(all_dvs) >= 2, "need multiple sidecar parts to test membership"
    held: dict[str, set] = {}
    for dv in all_dvs:
        t = pq.read_table(os.path.join(tbl.path, dv), columns=["fname"])
        held[dv] = set(t["fname"].to_pylist())
    for rel, e in reg.items():
        fname = os.path.basename(rel)
        for dv in e["dvs"]:
            assert fname in held[dv], f"{rel} lists {dv} which has no positions for it"
    # and at least one entry references fewer than all sidecars
    assert any(len(set(e["dvs"])) < len(all_dvs) for e in reg.values())


def test_dv_consolidation_does_not_abort_inflight_rewrite(spark, tbl):
    """ADVICE r03: a concurrent rewrite_delete_vectors that merely
    consolidated sidecars (identical positions, new paths) must NOT abort an
    in-flight compaction — content comparison, not path comparison."""
    from ecommerce_lakehouse_spark.maintenance import rewrite_delete_vectors

    urls = [r.url for r in tbl.scan().select("url").orderBy("url").limit(6).collect()]
    delete_where(tbl, [Predicate("url", "in", tuple(urls[:3]))])
    delete_where(tbl, [Predicate("url", "in", tuple(urls[3:]))])

    # in-flight rewrite pins its base registry and stages its output
    files = tbl.live_files()
    base = tbl.delete_registry_full()
    staged = tbl._stage_dataframe(
        tbl.read_files(files), None, snapshot_id=tbl.current_version() + 1
    )
    # concurrent DV consolidation lands first (same positions, new sidecars)
    assert rewrite_delete_vectors(tbl, convert_eq=False) is not None

    snap = tbl.replace_files(
        [f.path for f in files], None, operation="compact",
        precomputed_added=staged, base_delete_registry=base,
    )
    assert snap is not None
    assert tbl.scan().count() == 494
    assert tbl.scan().filter(F.col("url").isin(urls)).count() == 0


def test_new_delete_still_aborts_inflight_rewrite_after_consolidation(spark, tbl):
    """Content comparison must still catch REAL new deletes on rewritten
    files, even when a consolidation also happened."""
    from ecommerce_lakehouse_spark.maintenance import rewrite_delete_vectors
    from ecommerce_lakehouse_spark.table.format import CommitConflict

    urls = [r.url for r in tbl.scan().select("url").orderBy("url").limit(4).collect()]
    delete_where(tbl, [Predicate("url", "in", tuple(urls[:2]))])

    files = tbl.live_files()
    base = tbl.delete_registry_full()
    staged = tbl._stage_dataframe(
        tbl.read_files(files), None, snapshot_id=tbl.current_version() + 1
    )
    assert rewrite_delete_vectors(tbl, convert_eq=False, min_dv_files=1) is not None
    # a REAL new delete lands on the input files after the rewrite read them
    delete_where(tbl, [Predicate("url", "in", tuple(urls[2:]))])

    with pytest.raises(CommitConflict, match="delete vectors landed"):
        tbl.replace_files(
            [f.path for f in files], None, operation="compact",
            precomputed_added=staged, base_delete_registry=base,
        )


def test_delete_heavy_file_compacts_regardless_of_size(spark, tmp_path):
    """A file whose DV delete-ratio reaches DELETE_RATIO is rewritten even
    though it is not small (Iceberg rewrite_data_files delete-threshold
    analog) — merge-on-read deletes get materialized by maintenance
    instead of taxing every scan forever."""
    tbl = IcehouseTable.create(
        spark, str(tmp_path / "pages"),
        generate_pages(spark, 1000, seed=67, partitions=1),
    )
    (f,) = tbl.live_files()
    # threshold = 0.75*target < f.size_bytes: the file is NOT small
    target = f.size_bytes
    assert compact(tbl, target_file_bytes=target) is None, "no deletes yet"

    victims = [
        r.url for r in
        tbl.scan().select("url").orderBy("url").limit(400).collect()
    ]  # 40% ≥ DELETE_RATIO (0.3)
    delete_where(tbl, [Predicate("url", "in", tuple(victims))])
    before = sorted(r.url for r in tbl.scan().select("url").collect())

    snap = compact(tbl, target_file_bytes=target)
    assert snap is not None and snap.operation == "compact"
    assert tbl.current_snapshot().delete_manifest is None, "DVs materialized"
    assert f.path not in {x.path for x in tbl.live_files()}
    assert sorted(r.url for r in tbl.scan().select("url").collect()) == before
    assert tbl.scan().count() == 600


def test_light_delete_ratio_leaves_file_alone(spark, tmp_path):
    """Below DELETE_RATIO the file stays merge-on-read (a rewrite would
    cost more IO than the DV anti-join saves); delete_ratio=None disables
    the criterion entirely."""
    tbl = IcehouseTable.create(
        spark, str(tmp_path / "pages"),
        generate_pages(spark, 1000, seed=68, partitions=1),
    )
    (f,) = tbl.live_files()
    target = f.size_bytes
    few = [
        r.url for r in
        tbl.scan().select("url").orderBy("url").limit(50).collect()
    ]  # 5% < DELETE_RATIO
    delete_where(tbl, [Predicate("url", "in", tuple(few))])
    assert compact(tbl, target_file_bytes=target) is None

    more = [
        r.url for r in
        tbl.scan().select("url").orderBy("url").limit(400).collect()
    ]
    delete_where(tbl, [Predicate("url", "in", tuple(more))])
    assert compact(tbl, target_file_bytes=target, delete_ratio=None) is None
    assert compact(tbl, target_file_bytes=target) is not None


# ------------------------------------------------- metadata-only fast path


def _day_table(spark, tmp_path, n=400, seed=67):
    df = generate_pages(spark, n, seed=seed, partitions=4)
    tbl = IcehouseTable.create(
        spark, str(tmp_path / "dp"), df,
        properties={"partition.spec": '[{"transform": "day", "col": "warc_ts"}]'},
    )
    return tbl, df


def test_metadata_delete_drops_whole_partition_files(spark, tmp_path):
    import datetime

    tbl, df = _day_table(spark, tmp_path)
    cutoff = datetime.datetime(2023, 12, 1)
    n_before = len(tbl.live_files())
    snap = delete_where(tbl, [Predicate("warc_ts", "<", cutoff)])
    assert snap is not None and snap.operation == "delete-rows"
    # day-partitioned files have min==max at day grain: every pre-cutoff
    # file is PROVEN all-matching and dropped from the manifest — no DV
    # bytes written at all for a day-aligned retention delete
    assert snap.summary["metadata_deleted_files"] > 0
    assert snap.summary["delete_vectors_added"] == 0
    assert len(tbl.live_files()) == n_before - snap.summary["metadata_deleted_files"]
    want = df.filter(F.col("warc_ts") >= cutoff).count()
    assert tbl.scan().count() == want == snap.summary["total_rows"]
    assert snap.summary["deleted_rows"] == df.count() - want


def test_metadata_delete_mixed_with_dv_on_boundary_file(spark, tmp_path):
    import datetime

    tbl, df = _day_table(spark, tmp_path)
    # mid-day cutoff: whole days drop via metadata, the boundary day's
    # file keeps its morning rows through a deletion vector
    cutoff = datetime.datetime(2023, 12, 1, 12, 0, 0)
    snap = delete_where(tbl, [Predicate("warc_ts", ">=", cutoff)])
    assert snap is not None
    assert snap.summary["metadata_deleted_files"] > 0
    assert snap.summary["delete_vectors_added"] > 0
    want = df.filter(F.col("warc_ts") < cutoff)
    got = tbl.scan().select("url").sort("url").collect()
    assert got == want.select("url").sort("url").collect()


def test_metadata_delete_takes_registry_entries_along(spark, tmp_path):
    import datetime

    tbl, df = _day_table(spark, tmp_path)
    # first a row-level delete inside the BUSIEST day (several rows, so
    # its file has distinct url bounds and can't be metadata-dropped by
    # the url delete) -> that file gains a DV entry
    day = (
        df.groupBy(F.to_date("warc_ts").alias("d"))
        .count().orderBy(F.desc("count"), "d").first().d
    )
    day_lo = datetime.datetime(day.year, day.month, day.day)
    day_hi = day_lo + datetime.timedelta(days=1)
    victims = [
        r.url
        for r in df.filter(
            (F.col("warc_ts") >= day_lo) & (F.col("warc_ts") < day_hi)
        ).select("url").orderBy("url").limit(3).collect()
    ]
    delete_where(tbl, [Predicate("url", "in", tuple(victims))])
    assert tbl.delete_registry()  # the day's file carries an entry
    pre = tbl.current_snapshot().snapshot_id
    # now drop the whole day: the file AND its registry entry must go
    snap = delete_where(
        tbl,
        [Predicate("warc_ts", ">=", day_lo), Predicate("warc_ts", "<", day_hi)],
    )
    assert snap is not None and snap.summary["metadata_deleted_files"] >= 1
    live = {f.path for f in tbl.live_files()}
    assert all(rel in live for rel in tbl.delete_registry())
    day_rows = df.filter(
        (F.col("warc_ts") >= day_lo) & (F.col("warc_ts") < day_hi)
    ).count()
    # nominal count excludes the rows the earlier DV already deleted
    assert snap.summary["metadata_deleted_rows"] == day_rows - len(victims)
    assert tbl.scan().count() == df.count() - day_rows
    # time travel still sees the pre-drop state
    assert tbl.scan(snapshot_id=pre).count() == df.count() - len(victims)


def test_unprovable_delete_falls_back_to_dvs(spark, tbl):
    # unpartitioned random layout: url predicates can't be proven
    # all-matching for any file -> pure DV path, no file dropped
    files_before = {f.path for f in tbl.live_files()}
    victims = [r.url for r in tbl.scan().select("url").orderBy("url").limit(5).collect()]
    snap = delete_where(tbl, [Predicate("url", "in", tuple(victims))])
    assert snap.summary["metadata_deleted_files"] == 0
    assert snap.summary["deleted_rows"] == 5
    assert {f.path for f in tbl.live_files()} == files_before


def test_metadata_delete_rows_appear_in_cdc_feed(spark, tmp_path):
    import datetime

    tbl, df = _day_table(spark, tmp_path, n=200)
    cutoff = datetime.datetime(2023, 12, 1)
    pre = tbl.current_snapshot().snapshot_id
    snap = delete_where(tbl, [Predicate("warc_ts", "<", cutoff)])
    assert snap.summary["metadata_deleted_files"] > 0
    # the CDC planner diffs live sets, so manifest-dropped files emit
    # their rows as deletes — the fast path can't escape the change feed
    feed = tbl.changes(pre, snap.snapshot_id, cdc=True)
    deletes = feed.filter(F.col("_change_type") == "delete")
    want = df.filter(F.col("warc_ts") < cutoff)
    assert sorted(r.url for r in deletes.select("url").collect()) == sorted(
        r.url for r in want.select("url").collect()
    )
    assert feed.filter(F.col("_change_type") != "delete").count() == 0


def test_metadata_delete_bytes_reclaimed_by_expire(spark, tmp_path):
    """The GDPR/retention story end-to-end: drop whole days via metadata,
    then expire history — the dropped files' bytes leave the disk."""
    import datetime

    tbl, df = _day_table(spark, tmp_path)
    cutoff = datetime.datetime(2023, 12, 1)
    data_dir = os.path.join(tbl.path, "data")
    bytes_before = sum(
        os.path.getsize(os.path.join(data_dir, n)) for n in os.listdir(data_dir)
    )
    snap = delete_where(tbl, [Predicate("warc_ts", "<", cutoff)])
    assert snap.summary["metadata_deleted_files"] > 0
    # still on disk: the pre-delete snapshot references them
    expire_snapshots(tbl, keep_last=1, orphan_grace_ms=0)
    bytes_after = sum(
        os.path.getsize(os.path.join(data_dir, n)) for n in os.listdir(data_dir)
    )
    assert bytes_after < bytes_before
    want = df.filter(F.col("warc_ts") >= cutoff).count()
    assert tbl.scan().count() == want
