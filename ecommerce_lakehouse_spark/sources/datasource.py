"""`spark.read.format("icehouse")` — the DataSourceV2-style read path.

SURVEY §7.2 stretch goal: without this, every consumer must import
IcehouseTable; with it, plain `spark.read` / SQL users (BI tools, notebooks)
can read a table like any other source (reference shape: `spark.table(...)`
everywhere, e.g. ingest_silver_tables.py:43).

Built on PySpark 4's Python Data Source API:

- schema() comes from the table's committed metadata;
- file pruning is the relation-scoped ``predicates`` option (a JSON list
  of [column, op, value] triples) mapped onto manifest-stats FILE pruning
  — the same prune_files the native scan uses. The reader deliberately
  does NOT implement pushFilters(): PythonDataSourceV2 keeps one mutable
  readInfo per loaded relation and only filtered queries replan, so
  pushFilters-driven pruning leaks a pruned plan into a later UNFILTERED
  action on the same DataFrame (silent row loss — see register()).
  Pruning is conservative, not exact: pair the option with a matching
  .filter(...) for exact row semantics (Spark applies those row-level).
- partitions() emits one InputPartition per surviving data file → Spark
  schedules file reads across executors exactly like the native scan;
- read() yields Arrow RecordBatches via pyarrow.parquet (Arrow-batched,
  zero per-row Python), reconciling pre-schema-evolution files by
  null-filling missing columns.

Options: path (required), snapshot_id (optional time travel),
as_of_timestamp (optional wall-clock time travel: ISO string or epoch
millis, resolved via IcehouseTable.snapshot_as_of — main-chain only), tag
(optional named ref — see IcehouseTable.create_tag), branch (optional
mutable ref — reads the branch head; on write, commits advance the branch
pointer instead of main — see IcehouseTable.create_branch),
incremental_from (optional snapshot id: plan only files APPENDED after it
— the append-only changes() range as a reader; raises on row-set-changing
snapshots in the range, use IcehouseTable.changes(cdc=True) for those).

Streaming: ``spark.readStream.format("icehouse")`` consumes appends per
micro-batch with snapshot-id offsets (see IcehouseStreamReader) — options
starting_snapshot_id and skip_row_changes.

CDC (batch and streaming): ``.option("cdc", "true")`` reads the snapshot
range as a row-level CHANGE FEED (table columns + _change_type +
_commit_snapshot_id — the DSv2 face of ``IcehouseTable.changes(cdc=True)``):
batch reads the range (incremental_from, current/snapshot_id]; streaming
emits each micro-batch's range as deltas, so MERGE/DELETE snapshots flow
instead of failing the stream. ``key_cols`` (comma-separated) classifies a
same-key delete+insert as an update_before/update_after pair. The
per-snapshot multiset diff runs EXECUTOR-side in Arrow over only the files
the snapshot touched, split into deterministic row-hash buckets
(``cdc_buckets`` override, or sized from touched bytes /
``cdc_bucket_bytes``), so planning needs no JVM and per-task memory stays
bounded at 100-TB table sizes.

Trade-off vs `IcehouseTable.scan()`: scan() hands Spark a native parquet
relation (JVM vectorized reader, whole-stage codegen into the scan), while
this path decodes parquet in Python workers through Arrow. Correctness and
pruning are identical; scan() remains the hot path for the engine's own
operators, format("icehouse") is the compatibility surface.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from ..table.predicates import Predicate


class IcehouseFilePartition(InputPartition):
    def __init__(self, path: str, dv_paths: list[str] | None = None,
                 eq_deletes: list[tuple] | None = None,
                 aliases: dict | None = None,
                 defaults: dict | None = None):
        self.path = path
        # deletion-vector sidecars covering this file (merge-on-read):
        # absolute parquet paths of (fname, pos) rows
        self.dv_paths = dv_paths or []
        # equality deletes applicable to this file (file.added_by <= seq):
        # (abs_path, key_col) tuples
        self.eq_deletes = eq_deletes or []
        # rename_column name mapping {current: [older names]} — lets the
        # executor-side kernel resolve a renamed column from a file
        # written under an older generation of the name
        self.aliases = aliases or {}
        # initial defaults ACTIVE FOR THIS FILE ({col: scalar}): resolved
        # on the driver (file.added_by < default's add version); the kernel
        # fills the constant instead of NULL when the file lacks the column
        self.defaults = defaults or {}


class IcehouseCdcInsertPartition(InputPartition):
    """One appended file, emitted as ``insert`` rows of snapshot ``sid``
    (the per-file fan-out of an append snapshot in a CDC range)."""

    def __init__(self, file_part: IcehouseFilePartition, sid: int):
        self.file_part = file_part
        self.sid = sid


class IcehouseCdcDiffPartition(InputPartition):
    """One (row-set-changing snapshot, row-hash bucket) diff task.

    ``before`` file partitions read at the PARENT snapshot's delete
    registry, ``after`` at the snapshot's; the executor multiset-diffs the
    two sides (exceptAll semantics — copy-on-write carry-over rows cancel)
    and keeps only rows whose deterministic hash lands in ``bucket`` of
    ``n_buckets``, so memory per task is O(touched bytes / n_buckets): the
    driver sizes n_buckets from the touched-file bytes, never from row
    counts it would have to scan for."""

    def __init__(self, before: list, after: list, sid: int, bucket: int,
                 n_buckets: int, key_cols: list | None):
        self.before = before
        self.after = after
        self.sid = sid
        self.bucket = bucket
        self.n_buckets = n_buckets
        self.key_cols = key_cols


# touched-bytes per diff task before the planner splits a snapshot's diff
# into more hash buckets (keeps the executor-side pandas diff in memory)
DEFAULT_CDC_BUCKET_BYTES = 256 * 1024 * 1024

CDC_META_FIELDS = ("_change_type", "_commit_snapshot_id")


def _cdc_options(low: dict) -> dict:
    """Parse the shared cdc reader options (batch + stream)."""
    key_cols = [
        c.strip() for c in (low.get("key_cols") or "").split(",") if c.strip()
    ]
    return {
        "cdc": str(low.get("cdc", "false")).lower() == "true",
        "key_cols": key_cols or None,
        "n_buckets": int(low["cdc_buckets"]) if low.get("cdc_buckets") else None,
        "bucket_bytes": int(low.get("cdc_bucket_bytes")
                            or DEFAULT_CDC_BUCKET_BYTES),
    }


def _cdc_partitions(table, ordered, by_id, opts: dict) -> list:
    """Plan a CDC snapshot range as input partitions: append snapshots fan
    out per added file (pure inserts, no diff), row-set-changing snapshots
    become ``n_buckets`` hash-bucketed diff tasks over only the files the
    snapshot touched. Pure metadata I/O — safe in the streaming planner."""
    import math

    parts: list = []
    for plan in table.cdc_snapshot_plans(ordered, by_id):
        s = plan["snap"]
        if plan["op"] == "append":
            for fp in _file_partitions(table, plan["added"], s):
                parts.append(IcehouseCdcInsertPartition(fp, s.snapshot_id))
            continue
        before = _file_partitions(table, plan["before"], plan["parent"])
        after = _file_partitions(table, plan["after"], s)
        if not before and not after:
            continue
        touched = sum(f.size_bytes for f in plan["before"]) + sum(
            f.size_bytes for f in plan["after"]
        )
        n = opts["n_buckets"] or max(
            1, math.ceil(touched / opts["bucket_bytes"])
        )
        for b in range(n):
            parts.append(IcehouseCdcDiffPartition(
                before, after, s.snapshot_id, b, n, opts["key_cols"]
            ))
    return parts


def _read_cdc_partition(partition, cdc_schema: StructType):
    """Executor-side CDC kernel: emit a partition's change rows as Arrow
    batches typed ``table columns + _change_type + _commit_snapshot_id``.

    Insert partitions reuse the plain file kernel and tag rows. Diff
    partitions read both sides through the SAME kernel (delete registries
    and schema evolution already applied), concatenate into ONE Arrow
    table (one table → one pandas dtype inference, so a value hashes and
    groups identically on both sides), keep the task's hash bucket, and
    compute the multiset diff with a vectorized group-id + signed-count
    pass — net-negative groups are deletes, net-positive inserts, and with
    ``key_cols`` a delete and insert of the same key classify as an
    update_before/update_after pair (the batch feed's semantics,
    table/format.py _changes_cdc). Output rows are ``take``n from the
    original Arrow table, so values never round-trip through pandas."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType as _St

    base_schema = _St([
        f for f in cdc_schema.fields if f.name not in CDC_META_FIELDS
    ])
    want = to_arrow_schema(cdc_schema)

    def _tagged(tbl: pa.Table, ctype: str, sid: int):
        n = tbl.num_rows
        tbl = tbl.append_column(
            "_change_type", pa.array([ctype] * n, pa.string())
        ).append_column(
            "_commit_snapshot_id", pa.array([sid] * n, pa.int64())
        )
        return tbl.cast(want)

    if isinstance(partition, IcehouseCdcInsertPartition):
        batches = list(_read_partition_arrow(partition.file_part, base_schema))
        if batches:
            tbl = pa.Table.from_batches(batches)
            yield from _tagged(tbl, "insert", partition.sid).to_batches(
                max_chunksize=65536
            )
        return

    def _side(parts_) -> pa.Table:
        batches = []
        for p in parts_:
            batches.extend(_read_partition_arrow(p, base_schema))
        base = to_arrow_schema(base_schema)
        if not batches:
            return pa.table(
                {f.name: pa.nulls(0, type=f.type) for f in base}, schema=base
            )
        return pa.Table.from_batches(batches)

    before_t, after_t = _side(partition.before), _side(partition.after)
    nb = before_t.num_rows
    combined = pa.concat_tables([before_t, after_t])
    if combined.num_rows == 0:
        return
    # ONE pandas conversion for both sides: dtype inference (e.g. int64
    # with nulls) is then identical, so equal values group together.
    # integer_object_nulls keeps int columns exact (no 2^53 float loss).
    df = combined.to_pandas(integer_object_nulls=True)
    cols = list(df.columns)
    for c in cols:
        # lists arrive as ndarray (unhashable) — tuple-ify for groupby
        if df[c].dtype == object and df[c].map(
            lambda v: isinstance(v, (np.ndarray, list, dict))
        ).any():
            df[c] = df[c].map(_hashable_value)
    hcols = partition.key_cols or cols
    if partition.n_buckets > 1:
        # deterministic (siphash, fixed key) row hash: every bucket task
        # of this snapshot reads the same combined frame, so a logical row
        # lands in exactly one task. Bucketing by key_cols keeps a key's
        # delete+insert together for update classification.
        h = pd.util.hash_pandas_object(df[hcols], index=False).to_numpy()
        mask = (h % np.uint64(partition.n_buckets)) == partition.bucket
        if not mask.any():
            return
        keep_idx = np.flatnonzero(mask)
        df = df.iloc[keep_idx].reset_index(drop=True)
        combined = combined.take(pa.array(keep_idx))
        nb = int(mask[:nb].sum())
    side = np.concatenate([
        np.full(nb, -1, dtype=np.int64),
        np.full(len(df) - nb, 1, dtype=np.int64),
    ])
    gid = df.groupby(cols, dropna=False, sort=False).ngroup().to_numpy()
    n_g = int(gid.max()) + 1 if len(gid) else 0
    if not n_g:
        return
    delta = np.zeros(n_g, dtype=np.int64)
    np.add.at(delta, gid, side)
    first = (
        pd.Series(np.arange(len(gid))).groupby(gid).min().to_numpy()
    )  # first combined-row index per group (groups are 0..n_g-1)
    if partition.key_cols:
        kgid = df.groupby(
            partition.key_cols, dropna=False, sort=False
        ).ngroup().to_numpy()
        gkey = kgid[first]  # each group's key-group
        del_keys = set(gkey[delta < 0])
        ins_keys = set(gkey[delta > 0])
        upd = del_keys & ins_keys
        buckets = {
            "update_before": (delta < 0) & np.isin(gkey, list(upd)),
            "delete": (delta < 0) & ~np.isin(gkey, list(upd)),
            "update_after": (delta > 0) & np.isin(gkey, list(upd)),
            "insert": (delta > 0) & ~np.isin(gkey, list(upd)),
        }
    else:
        buckets = {"delete": delta < 0, "insert": delta > 0}
    for ctype, gmask in buckets.items():
        if not gmask.any():
            continue
        reps = np.repeat(first[gmask], np.abs(delta[gmask]))
        out = combined.take(pa.array(reps))
        yield from _tagged(out, ctype, partition.sid).to_batches(
            max_chunksize=65536
        )


def _hashable_value(v):
    """Recursively convert a to_pandas cell into something hashable with
    value equality (ndarray/list → tuple, dict → sorted item tuple)."""
    import numpy as np

    if isinstance(v, np.ndarray):
        return tuple(_hashable_value(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_hashable_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _hashable_value(x)) for k, x in v.items()))
    return v


def _cdc_struct_schema(table) -> StructType:
    """The table schema + CDC meta columns (what .option("cdc") reads)."""
    from pyspark.sql.types import LongType, StringType, StructField

    return StructType(
        list(table.schema().fields) + [
            StructField("_change_type", StringType(), False),
            StructField("_commit_snapshot_id", LongType(), False),
        ]
    )


class IcehouseReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("icehouse: .load(path) is required")
        # snapshot_id (time travel), tag (named ref) or branch (mutable
        # ref) — _resolve_snapshot accepts an int id or a ref name string
        self._snapshot_id = (
            int(options["snapshot_id"]) if options.get("snapshot_id")
            else options.get("tag") or options.get("branch") or None
        )
        # incremental_from: append-only changes((from, to]) as a reader —
        # the O(new data) consumption surface (IcehouseTable.changes);
        # combine with snapshot_id/tag to pin `to`
        low = {k.lower(): v for k, v in options.items()}
        # as_of_timestamp: wall-clock time travel (Iceberg's
        # as-of-timestamp read option) — ISO string or epoch millis,
        # resolved at PLAN time through IcehouseTable.snapshot_as_of
        # (main-chain ancestors only, so staged/branch commits stay
        # invisible). Mutually exclusive with the ref-based options.
        self._as_of_ts = low.get("as_of_timestamp") or None
        if self._as_of_ts and self._snapshot_id is not None:
            raise ValueError(
                "icehouse: as_of_timestamp conflicts with "
                "snapshot_id/tag/branch — pick one addressing mode"
            )
        self._incremental_from = (
            int(low["incremental_from"])
            if low.get("incremental_from") is not None else None
        )
        # cdc=true: read the range (incremental_from, to] as a row-level
        # CHANGE FEED (table cols + _change_type + _commit_snapshot_id) —
        # the DSv2 face of IcehouseTable.changes(cdc=True); works across
        # merge/delete/overwrite snapshots the plain incremental read
        # rejects. incremental_from defaults to 0 (feed since creation).
        self._cdc = _cdc_options(low)
        self._schema = schema
        # predicates: explicit, RELATION-SCOPED file pruning — a JSON list
        # of [column, op, value] triples, e.g.
        #   .option("predicates", '[["warc_ts", ">", "2023-12-05T00:00:00"],
        #                           ["lang", "=", "en"]]')
        # Options are part of the relation identity, so unlike
        # pushFilters-driven pruning this can never leak into another
        # query via the shared readInfo cache (see register()). Pruning is
        # CONSERVATIVE (file stats): pair with a matching .filter(...) for
        # exact row semantics. Timestamp values are ISO strings, resolved
        # against the column's type at planning time. Supported ops: = > >=
        # < <= in is_null not_null (table/predicates.py semantics).
        self._option_predicates = self._parse_predicates(
            low.get("predicates"), schema
        )

    @staticmethod
    def _parse_predicates(raw, schema: StructType) -> list[Predicate]:
        if not raw:
            return []
        import datetime
        import json

        from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

        by_name = {f.name: f.dataType for f in schema.fields}
        out = []
        for item in json.loads(raw):
            col, op, value = item[0], item[1], item[2] if len(item) > 2 else None
            dt = by_name.get(col)
            if isinstance(dt, (TimestampType, TimestampNTZType)) and isinstance(value, str):
                value = datetime.datetime.fromisoformat(value)
            elif isinstance(dt, DateType) and isinstance(value, str):
                value = datetime.date.fromisoformat(value)
            if op == "in" and isinstance(value, list):
                value = tuple(value)
            out.append(Predicate(col, op, value))
        return out

    # -- planning (driver side) --------------------------------------------

    def partitions(self):
        # local import: this class ships to executors, but planning runs on
        # the driver where a SparkSession exists
        from pyspark.sql import SparkSession

        from ..table.format import IcehouseTable

        spark = SparkSession.getActiveSession()
        table = IcehouseTable(spark, self._path)
        snapshot_id = self._snapshot_id
        if self._as_of_ts:
            import datetime as _dt

            try:
                ts = int(self._as_of_ts)
            except ValueError:
                ts = _dt.datetime.fromisoformat(self._as_of_ts)
            snapshot_id = table.snapshot_as_of(ts).snapshot_id
        snap = table._resolve_snapshot(snapshot_id)
        if self._cdc["cdc"]:
            if self._option_predicates:
                raise ValueError(
                    "icehouse: option 'predicates' prunes FILES by stats, "
                    "which would drop change rows from a cdc read — filter "
                    "the feed with .filter(...) instead"
                )
            ordered, by_id = table.snapshot_range(
                self._incremental_from or 0, snap
            )
            parts = _cdc_partitions(table, ordered, by_id, self._cdc)
            return parts or [IcehouseFilePartition(None)]
        # option-declared predicates only: stateless wrt query execution,
        # so every replan of this relation yields the same (correct) plan
        predicates = self._option_predicates
        if self._incremental_from is not None:
            # append-only incremental read: plan ONLY files added after
            # `from`; option predicates still prune them by stats
            from ..table.predicates import prune_files

            inc_files, snap = table.incremental_files(
                self._incremental_from, snapshot_id
            )
            files = prune_files(
                inc_files, table._stats_predicates(predicates or None),
                aliases=table.schema_aliases(),
            )
        else:
            files = table.planned_files(
                predicates or None, snapshot_id=snapshot_id
            )
        parts = _file_partitions(table, files, snap)
        # stats can legitimately prune EVERY file; Spark then invokes read()
        # with a None partition, so hand it an explicit empty sentinel
        return parts or [IcehouseFilePartition(None)]

    # -- execution (executor side, Arrow-batched) ---------------------------

    def read(self, partition):
        if isinstance(partition,
                      (IcehouseCdcInsertPartition, IcehouseCdcDiffPartition)):
            yield from _read_cdc_partition(partition, self._schema)
            return
        yield from _read_partition_arrow(partition, self._schema)


def _file_partitions(table, files, snap) -> list:
    """One IcehouseFilePartition per data file, carrying the DV sidecars
    and applicable equality deletes of ``snap``'s registry (shared by the
    batch and streaming readers)."""
    import os

    reg = table.delete_registry(snap)
    eq = table.eq_deletes(snap)
    aliases = table.schema_aliases()
    defaults = table.schema_defaults()
    return [
        IcehouseFilePartition(
            os.path.join(table.path, f.path),
            [os.path.join(table.path, dv)
             for dv in (reg.get(f.path) or {}).get("dvs", [])],
            [(os.path.join(table.path, e["path"]), e["key_col"])
             for e in eq if (f.added_by or 0) <= e["seq"]],
            aliases=aliases,
            defaults={
                name: d["v"] for name, d in defaults.items()
                if (f.added_by or 0) < d["since"]
            },
        )
        for f in files
    ]


def _read_partition_arrow(partition, schema: StructType):
    """Arrow-batched read of one file partition with DV/equality deletes
    applied and schema-evolution null-fill — the one executor-side read
    kernel behind both format("icehouse") batch reads and readStream."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from ..table.format import read_dv_positions

    want = to_arrow_schema(schema)
    if partition is None or partition.path is None:
        # every file was stats-pruned: an empty result, typed correctly
        yield from pa.table(
            {f.name: pa.nulls(0, type=f.type) for f in want},
            schema=want,
        ).to_batches()
        return
    aliases = getattr(partition, "aliases", None) or {}
    # the same logical column may sit under an older name (rename_column
    # name mapping): a file holds at most one generation of each name
    name_group = {cur: [cur, *al] for cur, al in aliases.items()}
    file_names = set(pq.read_schema(partition.path).names)
    read_cols, resolved = [], {}
    for n in want.names:
        for cand in name_group.get(n, [n]):
            if cand in file_names:
                read_cols.append(cand)
                resolved[n] = cand
                break
    tbl = pq.read_table(partition.path, columns=read_cols)
    if getattr(partition, "dv_paths", None):
        # merge-on-read: drop this file's deleted row positions
        fname = os.path.basename(partition.path)
        pos = read_dv_positions(partition.dv_paths, {fname}).get(fname)
        if pos is not None:
            # vectorized keep-mask: positions-index is_in, no O(rows)
            # Python loop on the read path (VERDICT r03 #2)
            idx = pa.array(np.arange(tbl.num_rows, dtype=np.int64))
            tbl = tbl.filter(pc.invert(pc.is_in(idx, value_set=pa.array(pos))))
    rev = {n_: cur for cur, grp in name_group.items() for n_ in grp}
    for eq_path, key_col in getattr(partition, "eq_deletes", []) or []:
        # equality deletes applicable to this file's commit sequence; the
        # delete stores its write-time key name, the file may carry any
        # generation of it — resolve both through the name group
        file_col = resolved.get(rev.get(key_col, key_col), key_col)
        if file_col not in tbl.column_names:
            continue
        keys = pq.read_table(eq_path, columns=[key_col]).column(key_col)
        mask = pc.invert(pc.is_in(tbl.column(file_col), value_set=keys))
        tbl = tbl.filter(pc.fill_null(mask, True))
    n = tbl.num_rows
    cols = []
    for field in want:
        src = resolved.get(field.name)
        if src is not None:
            cols.append(tbl.column(src).cast(field.type))
        elif field.name in (getattr(partition, "defaults", None) or {}):
            # initial default (add_column(default=…)): this file predates
            # the add (resolved driver-side), so the column reads as the
            # constant default, cast to the field type — mirrors read_files
            v = partition.defaults[field.name]
            cols.append(pa.array([v] * n).cast(field.type))
        else:
            # schema evolution: files older than a widening null-fill
            cols.append(pa.nulls(n, type=field.type))
    out = pa.table(cols, schema=want)
    yield from out.to_batches(max_chunksize=65536)


# --------------------------------------------------------------- write path

@dataclass
class IcehouseCommitMessage(WriterCommitMessage):
    """One staged parquet file + its footer stats (manifest-ready)."""

    rel_path: str | None = None
    row_count: int = 0
    size_bytes: int = 0
    stats: dict = field(default_factory=dict)


class IcehouseWriter(DataSourceArrowWriter):
    """Each task stages ONE parquet file into the table's data dir and ships
    its footer stats in the commit message; the driver-side commit() turns
    the messages into a single atomic Icehouse snapshot (append, or
    overwrite for mode("overwrite")). On BUCKETED tables, commit()
    re-stages the batch through the table's bucket-aware path (the JVM
    xxhash64 routing the Python writer can't compute) so DSv2 writes keep
    __bucket tags and MERGE discovery pruning — at the cost of one extra
    read+write of the batch; ``IcehouseTable.append`` avoids that second
    pass. A failed job leaves only staged files,
    which the orphan sweep ages out — the table never sees partial writes."""

    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("icehouse: .save(path) is required")
        # option keys arrive case-insensitively (Spark lowercases them)
        low = {k.lower(): v for k, v in options.items()}
        self._merge_schema = str(low.get("mergeschema", "false")).lower() == "true"
        self._branch = low.get("branch") or None
        self._schema = schema
        self._overwrite = overwrite

    # -- executor side -------------------------------------------------------
    def write(self, iterator):
        import os
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from ..table.stats import file_stats

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return IcehouseCommitMessage()
        want = to_arrow_schema(self._schema)
        tbl = pa.Table.from_batches(batches).cast(want)
        data_dir = os.path.join(os.path.abspath(self._path), "data")
        os.makedirs(data_dir, exist_ok=True)
        name = f"dsv2-{uuid.uuid4().hex}.parquet"
        full = os.path.join(data_dir, name)
        pq.write_table(tbl, full, compression="snappy")
        skip = {f.name for f in want if pa.types.is_binary(f.type)
                or pa.types.is_large_binary(f.type)}
        rows, size, stats = file_stats(
            full, [n for n in want.names if n not in skip]
        )
        return IcehouseCommitMessage(
            rel_path=os.path.join("data", name),
            row_count=rows, size_bytes=size, stats=stats,
        )

    # -- driver side ---------------------------------------------------------
    def commit(self, messages):
        self._commit_batch(messages)

    def _commit_batch(self, messages, txn: tuple | None = None):
        """Shared atomic-append/overwrite commit; ``txn=(app_id, batch_id)``
        makes streaming epoch commits exactly-once (IcehouseTable txn
        dedup — a replayed epoch is skipped and its staged files orphaned
        for the sweep)."""
        from pyspark.sql import SparkSession

        from ..table.format import DataFile, IcehouseTable

        # commit() can run on a non-main driver thread where no session is
        # "active"; fall back to the (single) instantiated session
        spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
        table = IcehouseTable(spark, self._path)
        added = [
            DataFile(m.rel_path, m.row_count, m.size_bytes, m.stats,
                     added_by=table.current_version() + 1)
            for m in messages
            if m is not None and m.rel_path is not None
        ]
        if not table.exists():
            import os

            if self._branch:
                raise ValueError(
                    "icehouse: cannot write to a branch of a table that "
                    "does not exist yet"
                )
            for d in (table.meta_dir, table.manifest_dir, table.data_dir,
                      table.ledger_dir):
                os.makedirs(d, exist_ok=True)
            table._commit("append", added, set(),
                          schema_json=self._schema.jsonValue(), txn=txn)
            return
        widened = table.reconcile_schema(self._schema, self._merge_schema)
        schema_json = widened.jsonValue() if widened is not None else None
        if (table.bucket_spec() is not None or table.partition_spec()) and added:
            # Bucketed or partition-transformed table: the Python writer
            # can't replicate the JVM xxhash64 bucket routing (or the
            # partitionBy fanout) executor-side, so RE-STAGE the staged
            # files through the table's layout-aware path (one extra
            # read+write of this batch, driver-orchestrated) — DSv2 appends
            # then keep their __bucket/__pt: tags and the pruning/rollup
            # they power intact instead of silently degrading
            # (VERDICT r03 #3; partition analog round 5).
            import os

            order = [f.name for f in (widened or table.schema()).fields]
            df = (
                spark.read.schema(self._schema)
                .parquet(*[os.path.join(table.path, f.path) for f in added])
                .select(*order)
            )
            restaged = table._stage_dataframe(
                df, None, snapshot_id=table.current_version() + 1
            )
            if self._overwrite:
                removed = {f.path for f in self._base_live(table)}
                table._commit("overwrite", restaged, removed,
                              schema_json=schema_json, ref=self._branch,
                              txn=txn)
            else:
                table._commit("append", restaged, set(),
                              schema_json=schema_json, ref=self._branch,
                              txn=txn)
            for f in added:  # the untagged originals never joined the table
                try:
                    os.unlink(os.path.join(table.path, f.path))
                except OSError:
                    pass
            return
        if self._overwrite:
            removed = {f.path for f in self._base_live(table)}
            table._commit("overwrite", added, removed,
                          schema_json=schema_json, ref=self._branch, txn=txn)
        else:
            table._commit("append", added, set(), schema_json=schema_json,
                          ref=self._branch, txn=txn)

    def _base_live(self, table):
        """The files an overwrite replaces: the BRANCH head's when writing
        to a branch, main's current otherwise."""
        if self._branch:
            return table.live_files(table._resolve_snapshot(self._branch))
        return table.live_files()

    def abort(self, messages):
        import os

        for m in messages or []:
            if m is not None and m.rel_path:
                try:
                    os.unlink(os.path.join(self._path, m.rel_path))
                except OSError:
                    pass


class IcehouseDataSource(DataSource):
    """Usage::

        from ecommerce_lakehouse_spark.sources.datasource import register
        register(spark)
        df = spark.read.format("icehouse").load("/path/to/table")
        old = (spark.read.format("icehouse")
               .option("snapshot_id", 3).load("/path/to/table"))
        df.write.format("icehouse").mode("append").save("/path/to/table")
    """

    @classmethod
    def name(cls) -> str:
        return "icehouse"

    def schema(self) -> StructType:
        from pyspark.sql import SparkSession

        from ..table.format import IcehouseTable

        spark = SparkSession.getActiveSession()
        table = IcehouseTable(spark, self.options["path"])
        low = {k.lower(): v for k, v in self.options.items()}
        if str(low.get("cdc", "false")).lower() == "true":
            return _cdc_struct_schema(table)
        return table.schema()

    def reader(self, schema: StructType) -> IcehouseReader:
        return IcehouseReader(dict(self.options), schema)

    def writer(self, schema: StructType, overwrite: bool) -> IcehouseWriter:
        return IcehouseWriter(dict(self.options), schema, overwrite)

    def streamReader(self, schema: StructType) -> "IcehouseStreamReader":  # noqa: N802
        return IcehouseStreamReader(dict(self.options), schema)

    def streamWriter(self, schema: StructType, overwrite: bool):  # noqa: N802
        if overwrite:
            raise ValueError(
                "icehouse streaming sink supports append output mode only"
            )
        return IcehouseStreamWriter(dict(self.options), schema)


class IcehouseStreamWriter(IcehouseWriter, DataSourceStreamArrowWriter):
    """``df.writeStream.format("icehouse")`` — the table as a streaming
    SINK. Each epoch stages per-task parquet files (the inherited Arrow
    write path, bucket-aware re-staging included) and commits them as ONE
    atomic snapshot stamped with ``txn=(app_id, batch_id)`` — the engine's
    Delta-style transaction dedup — so a replayed epoch after a failure
    commits nothing twice: at-least-once delivery from the stream engine
    becomes exactly-once in the table. ``txn_app_id`` option namespaces
    multiple streams writing the same table (default: one writer per
    table); ``branch`` lands epochs on a branch."""

    def __init__(self, options: dict, schema: StructType):
        super().__init__(options, schema, overwrite=False)
        low = {k.lower(): v for k, v in options.items()}
        self._app_id = low.get("txn_app_id") or "icehouse-streamwrite"

    def commit(self, messages, batchId: int) -> None:  # noqa: N802
        self._commit_batch(messages, txn=(self._app_id, batchId))

    def abort(self, messages, batchId: int) -> None:  # noqa: N802
        import os

        for m in messages:
            if m is not None and getattr(m, "rel_path", None):
                try:
                    os.unlink(os.path.join(self._path, m.rel_path))
                except OSError:
                    pass


class IcehouseStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("icehouse")`` — the table as a streaming
    SOURCE (Iceberg/Delta streaming-read analog): each micro-batch consumes
    the snapshots committed since the last batch, planned as one partition
    per appended file (executors read them through the same Arrow kernel
    as the batch path). Offsets are snapshot ids, so the checkpoint makes
    consumption exactly-once and a restart resumes from the committed
    snapshot — the streaming form of ``changes()``.

    Options: ``path`` (required); ``starting_snapshot_id`` — first batch
    reads ``(starting, current]`` (default 0 = the whole table);
    ``skip_row_changes`` ("true"/"false", default false) — a snapshot that
    CHANGES the logical row set (merge/delete/overwrite) fails the stream
    by default (an appends-only consumer would silently miss the
    deletes); with the flag, such snapshots are skipped with only their
    APPENDED files emitted (Iceberg's streaming-skip-delete-snapshots
    semantics) and the batch CDC feed (``changes(cdc=True)``) is the
    consistent way to consume them."""

    def __init__(self, options: dict, schema: StructType):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("icehouse: .load(path) is required")
        low = {k.lower(): v for k, v in options.items()}
        self._start = int(low.get("starting_snapshot_id") or 0)
        self._skip_row_changes = (
            str(low.get("skip_row_changes", "false")).lower() == "true"
        )
        # cdc=true: each micro-batch is the row-level CHANGE FEED of its
        # snapshot range — streaming changes(cdc=True); merge/delete
        # snapshots emit their deltas instead of failing the stream.
        # key_cols classifies same-key delete+insert as update pairs;
        # cdc_buckets / cdc_bucket_bytes bound per-task diff memory.
        self._cdc = _cdc_options(low)
        if self._cdc["cdc"] and self._skip_row_changes:
            raise ValueError(
                "icehouse: cdc and skip_row_changes are mutually exclusive "
                "(the cdc feed already represents row-set changes)"
            )
        self._schema = schema

    def _table(self):
        from pyspark.sql import SparkSession

        from ..table.format import IcehouseTable

        # offset/partition planning may run in the streaming-planner
        # worker process where no session is active. Every table operation
        # this reader performs (snapshot resolve, manifest walks, delete
        # registry) is pure file I/O, so a None session is fine — and
        # builder.getOrCreate() here would try to LAUNCH a JVM inside the
        # planner process, never do that
        return IcehouseTable(SparkSession.getActiveSession(), self._path)

    def initialOffset(self) -> dict:  # noqa: N802
        return {"snapshot_id": self._start}

    def latestOffset(self) -> dict:  # noqa: N802
        table = self._table()
        snap = table.current_snapshot() if table.exists() else None
        latest = snap.snapshot_id if snap is not None else self._start
        return {"snapshot_id": max(latest, self._start)}

    def partitions(self, start: dict, end: dict):
        table = self._table()
        lo, hi = start["snapshot_id"], end["snapshot_id"]
        if hi <= lo:
            return [IcehouseFilePartition(None)]
        to_snap = table._resolve_snapshot(hi)
        try:
            ordered, by_id = table.snapshot_range(lo, to_snap)
        except ValueError as e:
            raise ValueError(
                f"icehouse stream: {e} — the offset expired before the "
                f"stream consumed it; lower the expiry cadence or restart "
                f"the stream"
            ) from e
        if self._cdc["cdc"]:
            parts = _cdc_partitions(table, ordered, by_id, self._cdc)
            return parts or [IcehouseFilePartition(None)]
        if self._skip_row_changes:
            files = []
            for s in ordered:
                if s.operation == "append":
                    files += [
                        f
                        for e in table.manifest_entries_of(s)
                        for f in table._read_manifest(e["path"])
                        if f.added_by == s.snapshot_id
                    ]
        else:
            files = table._appended_files(ordered)
        parts = _file_partitions(table, files, to_snap)
        return parts or [IcehouseFilePartition(None)]

    def read(self, partition):
        if isinstance(partition,
                      (IcehouseCdcInsertPartition, IcehouseCdcDiffPartition)):
            yield from _read_cdc_partition(partition, self._schema)
            return
        yield from _read_partition_arrow(partition, self._schema)

    def commit(self, end: dict) -> None:
        pass  # progress lives in the stream's checkpoint, not the table


def register(spark) -> None:
    # Streaming planner import path: the stream reader's offset/partition
    # planning runs in a SEPARATE Python planner process ("streaming_job"
    # artifact scope) that — unlike task workers — never materializes
    # --py-files into its SparkFiles dir, so unpickling the DataSource
    # there raises ModuleNotFoundError under a packaged (zip) deployment.
    # The wrapped function's envVars ARE forwarded to that process, so
    # pin this package's root (a directory, or the deployed zip itself —
    # zipimport handles both) onto its PYTHONPATH. Must happen BEFORE
    # dataSource.register(): the env is captured at wrap time.
    import os

    import ecommerce_lakehouse_spark as _pkg

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(_pkg.__file__)))
    sc = spark.sparkContext
    current = sc.environment.get("PYTHONPATH", "")
    if pkg_root not in current.split(os.pathsep):
        sc.environment["PYTHONPATH"] = (
            pkg_root + (os.pathsep + current if current else "")
        )
    # The reader deliberately has NO pushFilters: with
    # spark.sql.python.filterPushdown.enabled, PythonDataSourceV2 keeps ONE
    # mutable readInfo cache per loaded relation and only filtered queries
    # replan (PythonScanBuilder.pushFilters → setReadInfo). If
    # pushFilters-driven planning pruned files, a later UNFILTERED action
    # on the same DataFrame would reuse the pruned partition list and
    # silently lose rows (observed: a .filter(...).count() followed by
    # .collect() returning the filtered subset). And with the conf off —
    # the Spark 4.1 default — merely defining pushFilters is a hard
    # planning error (DATA_SOURCE_PUSHDOWN_DISABLED). File pruning is
    # instead the relation-scoped `predicates` option (see IcehouseReader),
    # which is part of the relation identity and therefore cache-safe.
    spark.dataSource.register(IcehouseDataSource)


def register_table_views(
    spark, path: str, name: str, snapshot_id=None
) -> None:
    """Register an Icehouse table for plain-SQL consumption (the
    reference's ``spark.table("catalog.schema.t")`` ergonomics without a
    catalog service): ``name`` is the (optionally snapshot/tag/branch-
    pinned) scan, and the metadata suffixes ``<name>_files``,
    ``<name>_manifests``, ``<name>_partitions``, ``<name>_history``,
    ``<name>_refs``, ``<name>_snapshots`` expose the metadata tables to SQL
    (the Iceberg ``$files`` idiom, spelled with ``_`` because ``$`` is not
    a valid Spark temp-view identifier). Views are temp (session-scoped) and resolve
    the snapshot AT REGISTRATION time — re-register to see later commits
    (deliberate: a pinned view is reproducible; auto-refresh would make
    query results commit-dependent mid-session)."""
    from ..table.format import IcehouseTable

    table = IcehouseTable(spark, path)
    table.scan(snapshot_id=snapshot_id).createOrReplaceTempView(name)
    table.files(snapshot_id=snapshot_id).createOrReplaceTempView(f"{name}_files")
    table.manifests(snapshot_id=snapshot_id).createOrReplaceTempView(
        f"{name}_manifests"
    )
    table.partitions(snapshot_id=snapshot_id).createOrReplaceTempView(
        f"{name}_partitions"
    )
    table.history().createOrReplaceTempView(f"{name}_history")
    table.refs_df().createOrReplaceTempView(f"{name}_refs")
    table.snapshots_df().createOrReplaceTempView(f"{name}_snapshots")
