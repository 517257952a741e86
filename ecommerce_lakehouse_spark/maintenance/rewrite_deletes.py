"""Deletion-vector compaction — the DV analog of small-file compaction
(Iceberg's ``rewrite_position_delete_files`` action).

Every ``delete_where`` commit adds sidecar files; a table taking frequent
point deletes accumulates many tiny DVs, and every read opens one more
sidecar per delete (on the driver for the in-scan filter below
``DV_INLINE_POSITIONS`` positions, in the anti-join's scan above it). This
job consolidates all live positions into fresh sidecars (deduplicated —
stacked deletes may overlap), rewrites the registry, and commits
atomically; the old sidecars become unreferenced and snapshot expiry
sweeps them.

It also CONVERTS live equality deletes to positional form (VERDICT r03
#4): each ``delete_by_key`` adds one anti-join per key column to every
read plan of pre-delete files, so a table taking frequent key deletes
between maintenance runs grows its read plan linearly. Conversion scans
ONLY the key column of the applicable files (added_by <= the entry's
seq — later appends are immune by the sequence contract), records the
matching (file, position) pairs as ordinary DV positions, and drops the
eq entries in the same commit — steady-state reads go back to the one
positional DV step (in-scan filter or anti-join) regardless of how many
key deletes accumulated.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..table.format import DV_BROADCAST_ROWS, IcehouseTable, Snapshot
from ..table.stats import file_stats


def _eq_positions(table: IcehouseTable, live, eq_entries: list[dict]) -> DataFrame | None:
    """(fname, pos) of every row a live equality delete currently hides.

    Reads only the key columns (+ hidden _metadata) of files with
    added_by <= some entry's seq — the payload is never touched."""
    spark = table.spark
    max_seq = max(e["seq"] for e in eq_entries)
    applicable = [f for f in live if (f.added_by or 0) <= max_seq]
    if not applicable:
        return None
    fmap = spark.createDataFrame(
        [(os.path.basename(f.path), f.added_by or 0) for f in applicable],
        "__eq_fn string, __added_by long",
    )
    out = None
    by_col: dict[str, list[dict]] = {}
    for e in eq_entries:
        by_col.setdefault(e["key_col"], []).append(e)
    for key_col, group in sorted(by_col.items()):
        df = (
            spark.read.schema(table.schema())
            .parquet(*[os.path.join(table.path, f.path) for f in applicable])
            .select(
                F.col(key_col),
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("fname"),
                F.col("_metadata.row_index").alias("pos"),
            )
            .join(F.broadcast(fmap), F.col("fname") == F.col("__eq_fn"), "left")
        )
        keys = None
        for e in group:
            one = spark.read.parquet(os.path.join(table.path, e["path"])).select(
                F.col(key_col).alias("__ek"),
                F.lit(e["seq"]).cast("long").alias("__eseq"),
            )
            keys = one if keys is None else keys.unionByName(one)
        if sum(e["rows"] for e in group) <= DV_BROADCAST_ROWS:
            keys = F.broadcast(keys)
        hit = df.join(
            keys,
            (df[key_col] == keys["__ek"]) & (df["__added_by"] <= keys["__eseq"]),
            "left_semi",
        ).select("fname", "pos")
        out = hit if out is None else out.unionByName(hit)
    return out


def rewrite_delete_vectors(
    table: IcehouseTable,
    min_dv_files: int = 2,
    convert_eq: bool = True,
) -> Snapshot | None:
    """Consolidate the current snapshot's deletion-vector sidecars and
    (by default) fold live equality deletes into positional form.

    Returns the new snapshot, or None when there is nothing to do
    (no registry, fewer than ``min_dv_files`` sidecars and no eq work)."""
    snap = table.current_snapshot()
    if snap is None:
        return None
    full = table.delete_registry_full(snap)
    reg = full["entries"]
    # retire equality-delete entries that no live file can match anymore
    # (every file with added_by <= seq has been rewritten since)
    live = table.live_files(snap)
    kept_eq = [
        e for e in full["eq"]
        if any((f.added_by or 0) <= e["seq"] for f in live)
    ]
    eq_retired = len(full["eq"]) - len(kept_eq)
    eq_converted = len(kept_eq) if (convert_eq and kept_eq) else 0
    old_dvs = sorted({dv for e in reg.values() for dv in e["dvs"]})
    if not reg and not eq_converted:
        if eq_retired:
            dm = table._write_delete_registry({}, kept_eq)
            return table._commit(
                "rewrite-deletes", [], set(),
                extra_summary={"eq_entries_retired": eq_retired},
                delete_manifest=dm,
                base_delete_manifest=snap.delete_manifest,
            )
        return None
    if len(old_dvs) < min_dv_files and not eq_retired and not eq_converted:
        return None

    positions = None
    if old_dvs:
        positions = (
            table.spark.read.parquet(
                *[os.path.join(table.path, r) for r in old_dvs]
            )
            .select("fname", "pos")
        )
    if eq_converted:
        eq_pos = _eq_positions(table, live, kept_eq)
        if eq_pos is not None:
            positions = eq_pos if positions is None else positions.unionByName(eq_pos)
        kept_eq = []  # converted entries drop in the SAME commit
    if positions is None:
        return None
    positions = positions.distinct()
    staging = os.path.join(table.path, f"_staging-dv-{uuid.uuid4().hex}")
    positions.coalesce(1).write.mode("overwrite").parquet(staging)
    new_dvs: list[str] = []
    for name in sorted(os.listdir(staging)):
        if not name.endswith(".parquet"):
            continue
        rel = f"data/dv-{uuid.uuid4().hex[:12]}-{name}"
        os.rename(os.path.join(staging, name), os.path.join(table.path, rel))
        rows, _s, _st = file_stats(os.path.join(table.path, rel))
        if rows:
            new_dvs.append(rel)
        else:
            os.unlink(os.path.join(table.path, rel))
    shutil.rmtree(staging, ignore_errors=True)
    if not new_dvs:
        # all eq entries matched zero live rows: commit the registry shrink
        dm = table._write_delete_registry({}, kept_eq)
        return table._commit(
            "rewrite-deletes", [], set(),
            extra_summary={"eq_entries_retired": eq_retired,
                           "eq_entries_converted": eq_converted},
            delete_manifest=dm,
            base_delete_manifest=snap.delete_manifest,
        )

    # per-file rows AND per-file sidecar membership (a sidecar is listed
    # only under files it actually holds positions for)
    hit = (
        table.spark.read.parquet(
            *[os.path.join(table.path, r) for r in new_dvs]
        )
        .select("fname", F.col("_metadata.file_path").alias("__dv"))
        .groupBy("fname")
        .agg(F.count(F.lit(1)).alias("n"), F.collect_set("__dv").alias("dvs"))
        .collect()
    )
    # files can GAIN their first positions via eq conversion — map over all
    # live files, not just previously-registered ones
    by_name = {os.path.basename(f.path): f.path for f in live}
    rel_by_base = {os.path.basename(r): r for r in new_dvs}
    entries = {
        by_name[r["fname"]]: {
            "dvs": sorted(rel_by_base[os.path.basename(p)] for p in r["dvs"]),
            "rows": r["n"],
        }
        for r in hit
        if r["fname"] in by_name
    }
    dm = table._write_delete_registry(entries, kept_eq)
    return table._commit(
        "rewrite-deletes", [], set(),
        extra_summary={
            "dv_files_before": len(old_dvs),
            "dv_files_after": len(new_dvs),
            "dv_rows": sum(r["n"] for r in hit),
            "eq_entries_retired": eq_retired,
            "eq_entries_converted": eq_converted,
        },
        delete_manifest=dm,
        base_delete_manifest=snap.delete_manifest,
    )
