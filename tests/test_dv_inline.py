"""The two physical forms of merge-on-read positional deletes in
``read_files``: an in-scan row filter when the registry holds at most
``DV_INLINE_POSITIONS`` applicable positions, the sidecar anti-join above.

Every scenario runs on both sides of the cap (monkeypatched) and is checked
against a pyarrow oracle that reads the data files and sidecars directly."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ecommerce_lakehouse_spark.datagen import generate_pages
from ecommerce_lakehouse_spark.maintenance import (
    compact,
    rewrite_delete_vectors,
    zorder_by,
)
from ecommerce_lakehouse_spark.operators.merge import dedup_latest, merge_into
from ecommerce_lakehouse_spark.table import IcehouseTable, Predicate, delete_where
from ecommerce_lakehouse_spark.table import format as fmt

COLS = ["url", "warc_ts", "lang"]


@pytest.fixture(params=["inline", "antijoin"])
def tier(request, monkeypatch):
    monkeypatch.setattr(
        fmt, "DV_INLINE_POSITIONS", 10**9 if request.param == "inline" else 0
    )
    return request.param


@pytest.fixture()
def tbl(spark, tmp_path):
    return IcehouseTable.create(
        spark, str(tmp_path / "pages"),
        generate_pages(spark, 500, seed=71, partitions=4),
    )


def _dead(tbl, snap) -> dict:
    """{data file rel: deleted positions}, read from the sidecars directly."""
    out: dict = {}
    for rel, e in tbl.delete_registry(snap).items():
        fname = os.path.basename(rel)
        for dv in e["dvs"]:
            s = pq.read_table(os.path.join(tbl.path, dv)).to_pydict()
            out.setdefault(rel, set()).update(
                p for n, p in zip(s["fname"], s["pos"]) if n == fname
            )
    return out


def _oracle(tbl, snapshot_id=None, files=None) -> list:
    snap = tbl._resolve_snapshot(snapshot_id)
    dead = _dead(tbl, snap)
    rows = []
    for f in files or tbl.live_files(snap):
        t = pq.read_table(os.path.join(tbl.path, f.path), columns=COLS)
        gone = dead.get(f.path, set())
        rows += [r for i, r in enumerate(zip(*t.to_pydict().values()))
                 if i not in gone]
    return sorted(rows)


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.select(*COLS).collect())


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _check(tbl, tier, snapshot_id=None):
    """Scan == oracle, through the physical form the tier promises."""
    df = tbl.scan(snapshot_id=snapshot_id)
    assert _rows(df) == _oracle(tbl, snapshot_id)
    if tbl.delete_registry(tbl._resolve_snapshot(snapshot_id)):
        assert ("LeftAnti" in _plan(df)) == (tier == "antijoin"), _plan(df)


def _add_dv(tbl, positions: dict) -> None:
    """Commit one hand-written sidecar stacked on the current registry:
    {data file rel: positions} — positions may repeat earlier deletes."""
    rel = f"data/dv-test-{uuid.uuid4().hex[:12]}.parquet"
    names = [os.path.basename(r) for r, ps in positions.items() for _ in ps]
    pos = [p for ps in positions.values() for p in ps]
    pq.write_table(
        pa.table({"fname": names, "pos": pa.array(pos, pa.int64())}),
        os.path.join(tbl.path, rel),
    )
    snap = tbl.current_snapshot()
    full = tbl.delete_registry_full(snap)
    entries = dict(full["entries"])
    for r, ps in positions.items():
        prev = entries.get(r, {"dvs": [], "rows": 0})
        entries[r] = {"dvs": prev["dvs"] + [rel], "rows": prev["rows"] + len(ps)}
    tbl._commit(
        "delete-rows", [], set(),
        delete_manifest=tbl._write_delete_registry(entries, full["eq"]),
        base_delete_manifest=snap.delete_manifest,
    )


def _urls(tbl, n: int, step: int = 1) -> tuple:
    rows = tbl.scan().select("url").orderBy("url").collect()
    return tuple(r.url for r in rows[::step][:n])


def test_stacked_overlapping_dvs_and_time_travel(spark, tbl, tier):
    base = tbl.current_snapshot().snapshot_id
    delete_where(tbl, [Predicate("url", "in", _urls(tbl, 6, step=37))])
    first = tbl.current_snapshot().snapshot_id
    delete_where(tbl, [Predicate("url", "in", _urls(tbl, 5, step=53))])
    # an overlapping sidecar: re-deletes known positions plus new ones
    dead = _dead(tbl, tbl.current_snapshot())
    rel = sorted(dead)[0]
    _add_dv(tbl, {rel: sorted(dead[rel]) + [0, 1, max(dead[rel]) + 1]})
    assert len(tbl.delete_registry()[rel]["dvs"]) >= 2

    _check(tbl, tier)
    _check(tbl, tier, snapshot_id=first)
    _check(tbl, tier, snapshot_id=base)
    assert tbl.scan(snapshot_id=base).count() == 500


def test_consolidated_sidecar_shared_outside_read_set(spark, tbl, tier):
    delete_where(tbl, [Predicate("url", "in", _urls(tbl, 40, step=11))])
    delete_where(tbl, [Predicate("url", "in", _urls(tbl, 9, step=47))])
    assert rewrite_delete_vectors(tbl, min_dv_files=1) is not None
    reg = tbl.delete_registry()
    shared = {dv for e in reg.values() for dv in e["dvs"]}
    assert len(reg) >= 2 and len(shared) == 1, reg  # one shared sidecar
    _check(tbl, tier)

    # a read of ONE file through a sidecar that also holds other files'
    # positions: only that file's positions apply
    one = [f for f in tbl.live_files() if f.path in reg][:1]
    assert _rows(tbl.read_files(one)) == _oracle(tbl, files=one)

    # with_pos keeps the provenance of exactly the surviving rows
    got = tbl.read_files(one, with_pos=True).select("__fname", "__pos").collect()
    dead = _dead(tbl, tbl.current_snapshot())[one[0].path]
    want = set(range(one[0].row_count)) - dead
    assert {r["__fname"] for r in got} == {os.path.basename(one[0].path)}
    assert sorted(r["__pos"] for r in got) == sorted(want)


def test_delete_where_position_scan_through_existing_dvs(spark, tbl, tier):
    """delete_where reads with_pos=True through the DVs already there: a
    re-delete of hidden rows finds nothing, a new one only the new rows."""
    gone = _urls(tbl, 8, step=29)
    delete_where(tbl, [Predicate("url", "in", gone)])
    assert delete_where(tbl, [Predicate("url", "in", gone)]) is None
    snap = delete_where(tbl, [Predicate("url", "in", gone + _urls(tbl, 3))])
    assert snap.summary["deleted_rows"] == 3
    _check(tbl, tier)
    assert tbl.scan().count() == 489


@pytest.mark.parametrize("op", ["compact", "zorder", "merge"])
def test_rewrites_materialize_deletes(spark, tmp_path, tier, op):
    tbl = IcehouseTable.create(
        spark, str(tmp_path / "pages"),
        generate_pages(spark, 400, seed=72, partitions=4),
    )
    delete_where(tbl, [Predicate("url", "in", _urls(tbl, 12, step=31))])
    before = _oracle(tbl)
    want = before
    if op == "compact":
        assert compact(tbl, target_file_bytes=1 << 30) is not None
    elif op == "zorder":
        zorder_by(tbl, target_file_bytes=1 << 18)
    else:
        upd = set(_urls(tbl, 10, step=17))
        src = tbl.scan().filter(F.col("url").isin(list(upd)))
        merge_into(tbl, dedup_latest(src.withColumn("lang", F.lit("vv")),
                                     ["url"], "warc_ts"), "url")
        want = sorted((u, ts, "vv" if u in upd else lang)
                      for u, ts, lang in before)
    # rewritten files took their deletes along (compaction and Z-order
    # rewrite every file carrying them) and the rows equal the expected ones
    reg = tbl.delete_registry()
    assert set(reg) <= {f.path for f in tbl.live_files()}
    assert op == "merge" or reg == {}
    assert _oracle(tbl) == want
    assert _rows(tbl.scan()) == want


def test_missing_sidecar_raises_instead_of_resurrecting(spark, tbl, tier):
    from pyspark.errors import AnalysisException

    from ecommerce_lakehouse_spark.sources.datasource import register

    delete_where(tbl, [Predicate("url", "in", _urls(tbl, 4, step=41))])
    for dv in {dv for e in tbl.delete_registry().values() for dv in e["dvs"]}:
        os.unlink(os.path.join(tbl.path, dv))
    # inline: the driver-side read; anti-join: the sidecar relation
    with pytest.raises((FileNotFoundError, AnalysisException)):
        tbl.scan()
    register(spark)
    with pytest.raises(Exception, match="FileNotFoundError"):
        spark.read.format("icehouse").load(tbl.path).collect()


def _jobs(spark, fn) -> tuple:
    """(fn(), number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"dv-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_inline_dvs_add_no_spark_jobs(spark, tmp_path):
    """Below the cap, applying DVs costs no Spark job and no join: a count
    launches as many jobs as on an identical table without deletes."""
    plain, deleted = (
        IcehouseTable.create(spark, str(tmp_path / name),
                             generate_pages(spark, 500, seed=74, partitions=4))
        for name in ("plain", "deleted")
    )
    delete_where(deleted, [Predicate("url", "in", _urls(deleted, 7, step=61))])
    assert deleted.delete_registry()
    plain.scan().count(), deleted.scan().count()  # warm both the same way
    n_plain, jobs_plain = _jobs(spark, lambda: plain.scan().count())
    n_deleted, jobs_deleted = _jobs(spark, lambda: deleted.scan().count())
    assert (n_plain, n_deleted) == (500, 493)
    assert jobs_deleted == jobs_plain > 0
    assert "LeftAnti" not in _plan(deleted.scan())


def test_above_cap_keeps_broadcast_anti_join(spark, tbl, monkeypatch):
    delete_where(tbl, [Predicate("url", "in", _urls(tbl, 5, step=43))])
    n = sum(e["rows"] for e in tbl.delete_registry().values())
    monkeypatch.setattr(fmt, "DV_INLINE_POSITIONS", n - 1)
    df = tbl.scan()
    plan = _plan(df)
    assert plan.count("LeftAnti") == 1 and "broadcast" in plan.lower(), plan
    assert df.count() == 495
