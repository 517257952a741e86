"""Merge-on-read row-level DELETE via positional deletion vectors —
Iceberg-v2-style DELETE FROM ... WHERE, built from scratch.

Copy-on-write point deletes (MERGE ... WHEN MATCHED DELETE) rewrite every
affected file — at a 100-TB table a GDPR-style deletion of a handful of
rows would rewrite gigabytes. ``delete_where`` instead writes DELETION
VECTORS: parquet sidecars of (file, row_index) positions, registered per
data file in a snapshot-scoped delete registry
(``manifests/deletes-*.json``). Reads apply them in
:meth:`IcehouseTable.read_files`: up to ``DV_INLINE_POSITIONS`` registered
positions as one in-scan row filter (positions read on the driver, no join
and no extra Spark job), above it as an anti-join against the sidecars
(broadcast up to ``DV_BROADCAST_ROWS``, shuffled above). Rewrites (MERGE /
compaction / clustering) read through the same primitive, so when a
rewrite replaces a file its registry entry is dropped in the SAME commit —
the deletes are materialized, never resurrected.

Scale shape: the position scan reads only stats-pruned candidate files and
prunes columns to the predicate columns + hidden ``_metadata`` (the html
payload is never read); the registry's row counts pick the read form with
no data read. Files whose stats PROVE every row matches (a whole day under a
day(warc_ts) partition spec, a whole url prefix under Z-order) skip rows
entirely: they are dropped from the manifest in the same commit —
Iceberg's metadata-only DELETE / partition-drop path, O(metadata) at any
table size.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .format import IcehouseTable, Snapshot
from .predicates import Predicate, prune_files
from .stats import file_stats


def delete_by_key(
    table: IcehouseTable,
    key_col: str,
    keys,
) -> Snapshot | None:
    """EQUALITY delete: mark every existing row whose ``key_col`` is in
    ``keys`` as deleted — WITHOUT any position scan (Iceberg-v2 equality
    deletes). The key list is written as one parquet sidecar plus a registry
    entry carrying the commit SEQUENCE (snapshot id): reads drop matching
    rows only from data files with ``added_by <= seq``, so re-inserting a
    key later works, and rewrites (whose outputs get a higher added_by)
    materialize the delete naturally.

    This is the O(keys) path for huge tables — deleting a handful of keys
    from 100 TB writes kilobytes and reads NOTHING. ``keys`` is a list of
    values or a single-column DataFrame.
    """
    from pyspark.sql import DataFrame as SparkDataFrame

    snap = table.current_snapshot()
    if snap is None:
        return None
    schema = table.schema()
    if key_col not in [f.name for f in schema.fields]:
        raise ValueError(f"unknown key column {key_col!r}")
    if isinstance(keys, SparkDataFrame):
        kdf = keys.select(F.col(keys.columns[0]).alias(key_col)).distinct()
    else:
        keys = list(keys)
        if not keys:
            return None
        ktype = schema[key_col].dataType
        kdf = table.spark.createDataFrame(
            [(k,) for k in keys], StructType([StructField(key_col, ktype)])
        ).distinct()

    staging = os.path.join(table.path, f"_staging-eq-{uuid.uuid4().hex}")
    kdf.coalesce(1).write.mode("overwrite").parquet(staging)
    eq_rels: list[str] = []
    total = 0
    for name in sorted(os.listdir(staging)):
        if not name.endswith(".parquet"):
            continue
        rel = f"data/eq-{uuid.uuid4().hex[:12]}-{name}"
        os.rename(os.path.join(staging, name), os.path.join(table.path, rel))
        rows, _s, _st = file_stats(os.path.join(table.path, rel))
        if rows:
            eq_rels.append(rel)
            total += rows
        else:
            os.unlink(os.path.join(table.path, rel))
    shutil.rmtree(staging, ignore_errors=True)
    if total == 0:
        return None

    full = table.delete_registry_full(snap)
    # seq=None: the commit stamps the parent version AT COMMIT TIME (per CAS
    # retry), so concurrently-committed files are covered and later appends
    # of the same keys are not
    new_eq = full["eq"] + [
        {"path": rel, "key_col": key_col, "seq": None, "rows": total}
        for rel in eq_rels
    ]
    dm = table._write_delete_registry(full["entries"], new_eq)
    return table._commit(
        "delete-rows-eq", [], set(),
        extra_summary={"eq_delete_keys": total, "eq_delete_files": len(eq_rels)},
        delete_manifest=dm,
        base_delete_manifest=snap.delete_manifest,
    )


def delete_where(
    table: IcehouseTable,
    predicates: list[Predicate],
) -> Snapshot | None:
    """Row-level DELETE: mark all rows matching every predicate as deleted
    via positional deletion vectors (no data file is rewritten).

    Returns the new snapshot, or None when nothing matched. Idempotent:
    re-running deletes 0 rows (already-deleted rows are invisible to the
    position scan).
    """
    if not predicates:
        raise ValueError("delete_where without predicates would truncate the "
                         "table; use overwrite for that")
    snap = table.current_snapshot()
    if snap is None:
        return None
    norm = table._stats_predicates(predicates)
    candidates = prune_files(table.live_files(snap), norm)
    if not candidates:
        return None
    full = table.delete_registry_full(snap)

    # Metadata-only fast path (Iceberg's partition/whole-file drop): files
    # whose stats PROVE every row matches — e.g. deleting a full day from a
    # day(warc_ts)-partitioned table, where min==max per file — are removed
    # from the manifest outright: zero bytes read, zero DV bytes written,
    # per dropped file. At 100 TB, retention deletes of whole partitions
    # become O(metadata). Proof is sound under string-bound truncation
    # (Predicate.all_match); anything unproven falls through to DVs.
    dropped = [
        f for f in candidates
        if all(p.all_match(f.stats, f.row_count) for p in norm)
    ]
    dropped_paths = {f.path for f in dropped}
    partial = [f for f in candidates if f.path not in dropped_paths]
    # nominal live rows dropped: file rows minus registered positional
    # deletes (rows still covered by EQUALITY deletes are not subtracted —
    # counting them exactly would need the read this path exists to avoid)
    dropped_rows = sum(
        f.row_count - full["entries"].get(f.path, {}).get("rows", 0)
        for f in dropped
    )

    dv_rels: list[str] = []
    per_file_rows: dict[str, int] = {}
    per_file_dvs: dict[str, list[str]] = {}
    total = 0
    if partial:
        # position scan: predicate columns + provenance only — never the
        # payload
        df = table.read_files(partial, snapshot=snap, with_pos=True)
        for p in predicates:
            df = df.filter(p.to_column())
        matches = df.select(
            F.col("__fname").alias("fname"), F.col("__pos").alias("pos")
        )

        staging = os.path.join(table.path, f"_staging-dv-{uuid.uuid4().hex}")
        # point deletes -> one sidecar; huge deletes keep write parallelism
        matches.coalesce(max(1, len(partial) // 32)).write.mode(
            "overwrite"
        ).parquet(staging)
        for name in sorted(os.listdir(staging)):
            if not name.endswith(".parquet"):
                continue
            final_rel = f"data/dv-{uuid.uuid4().hex[:12]}-{name}"
            os.rename(os.path.join(staging, name),
                      os.path.join(table.path, final_rel))
            rows, _size, _stats = file_stats(os.path.join(table.path, final_rel))
            if rows == 0:
                os.unlink(os.path.join(table.path, final_rel))
                continue
            dv_rels.append(final_rel)
            total += rows
        shutil.rmtree(staging, ignore_errors=True)
    if total == 0 and not dropped_paths:
        return None

    if dv_rels:
        # which data files gained positions, and in WHICH sidecar part
        # files — registering only the sidecars that actually hold positions
        # for a file keeps per-file read fan-in and the broadcast row
        # estimate exact (ADVICE r03: appending the full dv_rels list to
        # every entry made reads load empty sidecars and over-count).
        # Bounded by candidate count.
        hit = (
            table.spark.read.parquet(
                *[os.path.join(table.path, r) for r in dv_rels]
            )
            .select("fname", F.col("_metadata.file_path").alias("__dv"))
            .groupBy("fname")
            .agg(F.count(F.lit(1)).alias("n"), F.collect_set("__dv").alias("dvs"))
            .collect()
        )
        by_name = {os.path.basename(f.path): f.path for f in partial}
        rel_by_base = {os.path.basename(r): r for r in dv_rels}
        for r in hit:
            rel = by_name[r["fname"]]
            per_file_rows[rel] = r["n"]
            per_file_dvs[rel] = sorted(
                rel_by_base[os.path.basename(p)] for p in r["dvs"]
            )

    # dropped files take their registry entries with them (their rows are
    # gone wholesale; keeping the entries would point at dead files)
    entries = {
        k: v for k, v in full["entries"].items() if k not in dropped_paths
    }
    for rel, n in per_file_rows.items():
        prev = entries.get(rel, {"dvs": [], "rows": 0})
        entries[rel] = {
            "dvs": list(prev["dvs"]) + per_file_dvs[rel],
            "rows": prev["rows"] + n,
        }
    dm = table._write_delete_registry(entries, full["eq"])
    return table._commit(
        "delete-rows", [], dropped_paths,
        extra_summary={
            "deleted_rows": total + dropped_rows,
            "delete_files_touched": len(per_file_rows),
            "delete_vectors_added": len(dv_rels),
            "metadata_deleted_files": len(dropped_paths),
            "metadata_deleted_rows": dropped_rows,
        },
        delete_manifest=dm,
        base_delete_manifest=snap.delete_manifest,
    )


def truncate(table: IcehouseTable) -> Snapshot | None:
    """TRUNCATE TABLE: drop every live row in ONE metadata-only commit.

    No data file is read or written — the commit removes all live files
    from the manifest and clears the delete registry, so the cost is
    O(metadata) at any table size. History is untouched: time travel to
    pre-truncate snapshots still works, tags keep pinning their row sets,
    and ``expire_snapshots`` reclaims the bytes later on the normal
    schedule. The snapshot is a ``delete-rows`` operation, so the CDC feed
    emits a delete for every live row (the diff reads the parent side only
    — unavoidable for a row-level feed) and the non-CDC incremental scan
    refuses the range, exactly like any other row-set-changing commit.

    Returns the new snapshot, or None when the table is already empty.
    """
    snap = table.current_snapshot()
    if snap is None:
        return None
    live = table.live_files(snap)
    if not live:
        return None
    full = table.delete_registry_full(snap)
    # nominal live rows dropped (eq-covered rows not subtracted — same
    # accounting as delete_where's metadata path, for the same reason)
    dropped_rows = sum(
        f.row_count - full["entries"].get(f.path, {}).get("rows", 0)
        for f in live
    )
    return table._commit(
        "delete-rows", [], {f.path for f in live},
        extra_summary={
            "deleted_rows": dropped_rows,
            "metadata_deleted_files": len(live),
            "metadata_deleted_rows": dropped_rows,
            "truncate": True,
        },
        delete_manifest=table._write_delete_registry({}, []),
        base_delete_manifest=snap.delete_manifest,
    )
