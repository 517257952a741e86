"""Bin-packing small-file compaction (OPTIMIZE) — the reference's
planned-but-unbuilt Day-20 work (``PROGRESS.md:163-165``, BRD FR-011/AC-014),
built from scratch over Icehouse.

Planner: first-fit-decreasing over manifest rows (driver-side — pure
metadata, no data read), packing files smaller than
``small_file_ratio * target_file_bytes`` into bins of ≈ target size. Sizing
counts BYTES, not rows — the html binary column dominates IO (SURVEY §7.3).

Executor: one Spark job per bin, submitted from a thread pool so many bins
rewrite concurrently (Spark's scheduler interleaves them across cores /
executors); each finished bin checkpoints its staged output files to the
JobLedger, so a crashed run resumes exactly where it stopped and re-runs
adopt completed bins instead of redoing them. One atomic commit swaps all
bin inputs for outputs at the end.
"""

from __future__ import annotations

import os
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from ..table.format import DataFile, IcehouseTable, Snapshot
from ..table.stats import collect_stats
from .ledger import JobLedger

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024
SMALL_FILE_RATIO = 0.75
# positional-delete ratio at which a file is rewritten regardless of size
# (Iceberg rewrite_data_files delete-ratio default). Until then every scan
# drops the file's deleted rows: by an in-scan filter while the read's DVs
# hold at most DV_INLINE_POSITIONS positions, by an anti-join above it
DELETE_RATIO = 0.3


@dataclass
class CompactionBin:
    bin_id: str
    files: list[DataFile]

    @property
    def bytes(self) -> int:
        return sum(f.size_bytes for f in self.files)

    @property
    def rows(self) -> int:
        return sum(f.row_count for f in self.files)


def plan_compaction(
    table: IcehouseTable,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
    small_file_ratio: float = SMALL_FILE_RATIO,
    min_bin_files: int = 2,
    snapshot=None,
    delete_ratio: float | None = DELETE_RATIO,
    predicates=None,
) -> list[CompactionBin]:
    """First-fit-decreasing pack of small files into ≈target-size bins.

    Besides small files, any file whose merge-on-read positional-delete
    ratio reaches ``delete_ratio`` is a candidate REGARDLESS of size
    (Iceberg rewrite_data_files' delete-threshold analog): every scan pays
    to drop the file's deleted rows (DV filter or anti-join) until a
    rewrite materializes the deletes, so
    delete-heavy files earn a rewrite on their own — they may form
    single-file bins, exempt from ``min_bin_files``. The ratio comes from
    the delete registry (driver-side metadata; no data read).
    ``delete_ratio=None`` disables the criterion.

    On bucketed tables, bins never cross bucket boundaries — nor spec
    GENERATIONS after set_bucket_spec (bucket 3 of n=8 and bucket 3 of
    n=16 hold different key sets): mixing either in one output file would
    erase its bucket tag and cost MERGE discovery its zero-read routing
    forever after. Likewise partition-transform tuples (day(warc_ts)=…):
    packing two days into one file would widen its min/max back out and
    cost the scan its exact pruning. Untagged legacy files form their own
    group and may still be packed together (their outputs stay untagged —
    a MERGE or Z-order rewrite, which stages through the partition-aware
    writer, is what migrates them to the current spec)."""
    from ..table.format import bucket_spec_of_file
    from ..table.partitioning import partition_tuple_of_file

    snap = snapshot or table.current_snapshot()
    reg = table.delete_registry(snap) if delete_ratio is not None else {}

    def _delete_heavy(f: DataFile) -> bool:
        if delete_ratio is None or not f.row_count:
            return False
        return reg.get(f.path, {}).get("rows", 0) / f.row_count >= delete_ratio

    # predicate scope (Iceberg rewrite_data_files' `where`): only files
    # whose stats say they MIGHT hold matching rows are considered — the
    # rewrite itself stays whole-file (layout maintenance, never row
    # filtering), so scoping is a pure metadata cut on the plan. The
    # 100-TB shape: compact yesterday's hot partition without the planner
    # even listing the cold ones.
    scoped = table.live_files(snap)
    if predicates:
        from ..table.predicates import prune_files

        scoped = prune_files(
            scoped, table._stats_predicates(list(predicates)),
            aliases=table.schema_aliases(),
        )

    delete_driven = set()
    candidates = []
    threshold = int(target_file_bytes * small_file_ratio)
    for f in scoped:
        heavy = _delete_heavy(f)
        if f.size_bytes < threshold or heavy:
            candidates.append(f)
            if heavy:
                delete_driven.add(f.path)
    small = sorted(candidates, key=lambda f: f.size_bytes, reverse=True)
    groups: dict = {}
    for f in small:
        key = (bucket_spec_of_file(f), partition_tuple_of_file(f))
        groups.setdefault(key, []).append(f)
    # sort-rewrite strategy (Iceberg's "sort" vs plain binpack): on a
    # "sort.order" table, pack RANGE-ADJACENT files — sorted by the lead
    # sort column's min stat — so each bin, and therefore each output
    # file, covers a contiguous narrow slice of the key. FFD would
    # interleave ranges and widen every output's bounds back out, undoing
    # the property the sorted appends paid for.
    sort_col = next(
        (c.strip()
         for c in (table.properties().get("sort.order") or "").split(",")
         if c.strip()),
        None,
    )
    all_bins: list[list[DataFile]] = []
    for _bucket, gfiles in sorted(
        groups.items(), key=lambda kv: (kv[0][0][0] is None, str(kv[0]))
    ):
        bins: list[list[DataFile]] = []
        if sort_col and all(
            "min" in f.stats.get(sort_col, {}) for f in gfiles
        ):
            cur: list[DataFile] = []
            load = 0
            for f in sorted(gfiles, key=lambda f: f.stats[sort_col]["min"]):
                if cur and load + f.size_bytes > target_file_bytes:
                    bins.append(cur)
                    cur, load = [], 0
                cur.append(f)
                load += f.size_bytes
            if cur:
                bins.append(cur)
        else:
            loads: list[int] = []
            for f in gfiles:
                placed = False
                for i, load in enumerate(loads):
                    if load + f.size_bytes <= target_file_bytes:
                        bins[i].append(f)
                        loads[i] += f.size_bytes
                        placed = True
                        break
                if not placed:
                    bins.append([f])
                    loads.append(f.size_bytes)
        all_bins.extend(bins)
    out = []
    kept = (
        b for b in all_bins
        if len(b) >= min_bin_files or any(f.path in delete_driven for f in b)
    )
    for i, files in enumerate(kept):
        files = sorted(files, key=lambda f: f.path)
        out.append(CompactionBin(bin_id=f"bin{i:05d}", files=files))
    return out


def _rewrite_bin(
    table: IcehouseTable,
    b: CompactionBin,
    target_file_bytes: int,
    stats_cols: list[str] | None,
    base_snap: "Snapshot | None" = None,
    spread_read: bool = False,
) -> list[DataFile]:
    """Read one bin's files, rewrite as ceil(bytes/target) files, stage them.

    ``spread_read=True`` (set by :func:`compact` when there are fewer bins
    than worker slots, i.e. cores would otherwise idle — guide §2.6) swaps
    the plain ``coalesce`` for a shuffle repartition: ``coalesce(n)``
    collapses the *read* of every input file into the n output tasks, so a
    64-small-file bin decodes AND re-encodes serially; the shuffle keeps
    the decode parallel and serializes only the (compressed-page-sized)
    shuffle bytes into the writer task. With enough bins in flight the
    shuffle is pure overhead — each bin's single task already saturates a
    core — so the flag stays off then (same reasoning as Iceberg's
    rewrite never shuffling inside binpack)."""
    spark = table.spark
    schema = table.schema()
    n_out = max(1, (b.bytes + target_file_bytes - 1) // target_file_bytes)
    # DV-applied read pinned to the planning snapshot: compaction
    # MATERIALIZES positional deletes (the replaced files' registry entries
    # drop in the same commit; the commit aborts if NEWER deletes landed).
    # With row lineage on, the carried _row_id is read (virtual or already
    # materialized) and written as a physical column — a document's id
    # survives the rewrite.
    df = table.read_files(
        b.files, snapshot=base_snap, with_row_id=table.row_lineage_enabled()
    )
    # a "sort.order" table keeps its pruning property THROUGH compaction
    # (Iceberg's sort rewrite strategy vs plain binpack): the bin is
    # re-range-sorted so outputs get disjoint bounds again — same bytes
    # read/written as binpack, one extra range-sample read of the bin
    sort_cols = [
        c.strip()
        for c in (table.properties().get("sort.order") or "").split(",")
        if c.strip() and c.strip() in df.columns
    ]
    if sort_cols:
        if n_out > 1:
            df = df.repartitionByRange(n_out, *sort_cols)
        elif spread_read and len(b.files) > 1:
            df = df.repartition(1)
        else:
            df = df.coalesce(1)
        df = df.sortWithinPartitions(*sort_cols)
    elif spread_read and len(b.files) > n_out:
        df = df.repartition(n_out)
    else:
        df = df.coalesce(n_out)
    staging = os.path.join(table.path, f"_staging-{uuid.uuid4().hex}")
    writer = df.write.mode("overwrite")
    codec = table.properties().get("write.parquet.compression-codec")
    if codec:
        writer = writer.option("compression", codec)
    writer.parquet(staging)
    moved = []
    for name in sorted(os.listdir(staging)):
        if name.endswith(".parquet"):
            final = os.path.join(
                table.data_dir, f"compact-{b.bin_id}-{uuid.uuid4().hex[:12]}.parquet"
            )
            os.rename(os.path.join(staging, name), final)
            moved.append(final)
    import shutil

    shutil.rmtree(staging, ignore_errors=True)
    if stats_cols is None:
        stats_cols = IcehouseTable._default_stats_cols(schema)
    collected = collect_stats(spark, moved, stats_cols)
    # single-bucket bins (the planner never mixes buckets or spec
    # generations) pass their full write-time spec tag on
    from ..table.format import BUCKET_STAT, bucket_spec_of_file

    bin_specs = {bucket_spec_of_file(f) for f in b.files}
    spec = bin_specs.pop() if len(bin_specs) == 1 else (None, None, None)
    tag = spec[0]
    # partition-transform tags pass through the same way: the planner
    # never mixes tuples in a bin, so the inputs' __pt: entries are valid
    # for the outputs verbatim (zero re-derivation cost)
    from ..table.partitioning import PT_STAT_PREFIX, partition_tuple_of_file

    bin_pts = {partition_tuple_of_file(f) for f in b.files}
    pt_entries = (
        {k: v for k, v in b.files[0].stats.items()
         if k.startswith(PT_STAT_PREFIX)}
        if len(bin_pts) == 1 and bin_pts != {None} else {}
    )
    # outputs carry the upcoming commit's lineage: added_by orders them
    # AFTER any equality delete they were read through (sequence semantics);
    # the commit's eq-registry validation aborts if newer deletes raced in
    next_snapshot = table.current_version() + 1
    out = []
    for c in collected:
        st = c["stats"]
        if tag is not None:
            entry = {"min": tag, "max": tag, "null_count": 0}
            if spec[2] is not None:
                entry.update({"k": spec[1], "n": spec[2]})
            st = {**st, BUCKET_STAT: entry}
        if pt_entries:
            st = {**st, **pt_entries}
        out.append(
            DataFile(
                os.path.relpath(c["path"], table.path),
                c["row_count"],
                c["size_bytes"],
                st,
                added_by=next_snapshot,
            )
        )
    return out


def compact(
    table: IcehouseTable,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
    small_file_ratio: float = SMALL_FILE_RATIO,
    min_bin_files: int = 2,
    max_concurrency: int = 8,
    stats_cols: list[str] | None = None,
    branch: str | None = None,
    delete_ratio: float | None = DELETE_RATIO,
    predicates=None,
) -> Snapshot | None:
    """Compact small and delete-heavy files; returns the new snapshot
    (None if nothing to do). ``branch`` compacts the branch head and
    advances the branch pointer — maintenance as a write-audit-publish
    workflow. ``predicates`` scopes the plan to files that might hold
    matching rows (Iceberg rewrite_data_files' ``where``); the rewrite
    stays whole-file."""
    snap = (
        table._resolve_snapshot(branch) if branch is not None
        else table.current_snapshot()
    )
    bins = plan_compaction(table, target_file_bytes, small_file_ratio,
                           min_bin_files, snapshot=snap,
                           delete_ratio=delete_ratio, predicates=predicates)
    if not bins:
        return None
    plan_repr = ";".join(f"{b.bin_id}:{','.join(f.path for f in b.files)}" for b in bins)
    ledger = JobLedger(
        table.path, JobLedger.job_id_for("compact", snap.snapshot_id, plan_repr)
    )

    # fewer bins than worker slots → cores would idle during each bin's
    # read; spread the reads with a shuffle (see _rewrite_bin docstring)
    spread = len(bins) < max_concurrency

    def run_bin(b: CompactionBin) -> tuple[CompactionBin, list[DataFile]]:
        done = ledger.outputs_of(b.bin_id)
        if done is not None:  # resume: adopt previously staged outputs
            return b, done
        outputs = _rewrite_bin(table, b, target_file_bytes, stats_cols, snap,
                               spread_read=spread)
        ledger.complete(
            b.bin_id,
            [f.path for f in b.files],
            outputs,
            metrics={
                "input_files": len(b.files),
                "input_bytes": b.bytes,
                "output_files": len(outputs),
                "output_bytes": sum(o.size_bytes for o in outputs),
                "rows": b.rows,
            },
        )
        return b, outputs

    with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
        results = list(pool.map(run_bin, bins))

    removed = [f.path for b, _ in results for f in b.files]
    added = [o for _, outs in results for o in outs]
    commit = table.replace_files(
        removed,
        None,
        operation="compact",
        precomputed_added=added,
        branch=branch,
        base_delete_registry=table.delete_registry_full(snap),
        extra_summary={
            "compacted_bins": len(bins),
            "compacted_input_files": len(removed),
            "compacted_output_files": len(added),
            "compacted_bytes": sum(b.bytes for b, _ in results),
        },
    )
    ledger.finish_job({"snapshot_id": commit.snapshot_id, "bins": len(bins)})
    return commit
