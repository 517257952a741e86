"""The closed-loop workloads (one client each) and their set-up.

Each workload runs in phases on one Tracer: ``setup`` (session, worker
warm-up, base-table build), ``warmup`` (one step of each op kind replayed
on a throwaway build, so JIT and codegen warm-up stays out of the timed
phase), ``timed``, ``epilogue`` (untimed extra work of traced runs) and
``check`` (the correctness gate, after the clock stops).
"""

from __future__ import annotations

import datetime
import importlib
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from . import inputs as inp
from .inputs import SHAPES
from .measure import Tracer, dir_bytes

PAGES_SCHEMA = "url string, warc_ts timestamp_ntz, html binary, text string, lang string"
MV_SQL = ("SELECT lang, count(*) AS n_pages, sum(length(text)) AS text_bytes, "
          "max(warc_ts) AS latest_ts FROM pages GROUP BY lang")
ENGINE_MODULES = ("maintenance.compact", "maintenance.expire", "maintenance.manifests",
                  "maintenance.rewrite_deletes", "maintenance.zorder", "operators.merge",
                  "streaming.cdc_apply", "table.catalog", "table.deletes", "table.format",
                  "table.predicates")
# table layout: files of ~256 KiB keep a few-thousand-row table at a
# handful of files, so planning and pruning have something to choose
TARGET_FILE_BYTES = 256 * 1024
KEEP_SNAPSHOTS = 3
WARMUP_STEPS = 1
PROBE_POINTS = 16
# crawl_upsert probes after every third merge. smallfile_maintain probes
# only right after a maintenance cycle, so that all its probes see a
# freshly compacted table, and three times there: the first probe after a
# cycle tends to be the slowest, and with two per cycle the median of a
# run fell between first and later probes (IQR/median 0.28 over ten runs).
# Of six probes the median comes from the later ones
CRAWL_PROBE_EVERY = 3
CYCLE_PROBES = 3


class Workload:
    """Shared machinery: engine handles, traced calls, the read probe,
    commit accounting and the correctness digests."""

    name = ""

    def __init__(self, spark, tracer: Tracer, inputs: inp.Inputs, work: str, cores: int):
        # engine modules (not the functions the packages re-export), so a
        # traced run can wrap a module function for every caller at once
        self.m = {name.rsplit(".", 1)[1]: importlib.import_module(f"ecommerce_lakehouse_spark.{name}")
                  for name in ENGINE_MODULES}
        self.P = self.m["predicates"].Predicate
        self.Table = self.m["format"].IcehouseTable
        self.spark = spark
        self.t = tracer
        self.inputs = inputs
        self.work = work
        self.cores = cores
        self.tables: list = []          # tables whose commits and bytes count
        self.added_bytes: dict[tuple[str, int], int] = {}
        self.start_ids: dict[str, int] = {}
        self.input_bytes = 0
        self.foreground: list[float] = []
        self.extra: dict | None = None  # the epilogue's step, once committed
        self.probes: list[float] = []
        self.maint: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        base_rows = SHAPES[self.name].base_rows
        self._probe_urls = tuple(inputs.url_of(i)
                                 for i in range(0, base_rows, base_rows // PROBE_POINTS))

    # ------------------------------------------------------------ helpers

    def read(self, rel: str):
        return self.spark.read.schema(PAGES_SCHEMA).parquet(self.inputs.path(rel))

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        if self.t.phase == "timed":
            self.attempted += 1
        return self.t.call(name, layer, fn, *args, **kwargs)

    def maintain(self, name: str, layer: str, fn, *args, **kwargs):
        out = self.call(name, layer, fn, *args, **kwargs)
        if self.t.phase == "timed":
            self.maint.append(self.t.last.dur)
        return out

    def probe(self, tbl) -> None:
        """Fixed read mix on the current snapshot: a warc_ts-slice
        aggregate, a url-range count and a point-lookup set."""
        from pyspark.sql import functions as F

        base = datetime.datetime(2023, 11, 24)
        mix = [
            ([self.P("warc_ts", ">=", base), self.P("warc_ts", "<", base + datetime.timedelta(days=6))],
             lambda df: df.groupBy("lang").agg(F.count("*"), F.sum(F.length("text"))).collect()),
            ([self.P("url", ">=", "https://site010"), self.P("url", "<", "https://site025")],
             lambda df: df.count()),
            ([self.P("url", "in", self._probe_urls)],
             lambda df: df.select("url", "warc_ts").collect()),
        ]
        with self.t.span("probe", "bench") as sp:
            for preds, run in mix:
                df = self.call("scan", "format.plan", tbl.scan, preds)
                if self.t.traced:
                    t0 = time.perf_counter()
                    planned = tbl.planned_files(preds)
                    self.t.last.attrs.update(
                        planned=len(planned), live=len(tbl.live_files()),
                        planned_bytes=sum(f.size_bytes for f in planned))
                    self.t.charge(time.perf_counter() - t0)
                self.call("exec", "scan.exec", run, df)
        if self.t.phase == "timed":
            self.probes.append(sp.dur)

    def delete(self, tbl, urls: tuple) -> None:
        """Point delete through deletion vectors; traced runs also record
        the sidecar bytes it wrote."""
        dv_bytes = lambda: sum(os.path.getsize(os.path.join(tbl.path, dv))  # noqa: E731
                               for e in tbl.delete_registry().values() for dv in e["dvs"])
        before = dv_bytes() if self.t.traced else 0
        self.call("delete", "deletes.delete", self.m["deletes"].delete_where, tbl,
                  [self.P("url", "in", urls)])
        if self.t.traced:
            t0 = time.perf_counter()
            self.t.last.attrs["dv_bytes"] = dv_bytes() - before
            self.t.charge(time.perf_counter() - t0)

    def harvest(self) -> None:
        """Record data bytes added by every timed-phase commit (before
        expiry can drop the snapshots that say so)."""
        for tbl in self.tables:
            start = self.start_ids.get(tbl.path, 0)
            for s in tbl.snapshots():
                if s.snapshot_id > start:
                    self.added_bytes[(tbl.path, s.snapshot_id)] = int(s.summary.get("added_bytes", 0))

    def setup(self) -> None:
        """Two ``IcehouseTable.create`` builds of the base pages: the first,
        cold one hosts the warm-up and is dropped; the second is kept and
        gets the initial prefix Z-order cluster."""
        warm = self.build("pages.warm")
        self.t.phase = "warmup"
        self.warmup(warm)
        self.t.phase = "setup"
        shutil.rmtree(warm.path)
        tbl = self.build("pages")
        self.call("cluster", "zorder", self.m["zorder"].zorder_by, tbl,
                  url_coord="prefix", target_file_bytes=TARGET_FILE_BYTES)
        self.pages = tbl
        self.tables = [tbl]

    def build(self, name: str):
        return self.call("create", "format.create", self.Table.create, self.spark,
                         os.path.join(self.work, name), self.read(self.inputs.base))

    def setup_consumers(self) -> None:
        """Two CDC consumers of ``pages``: an incremental mirror
        (``mirror_table`` from the last applied snapshot) and a per-lang
        rollup materialized view in a catalog."""
        m = self.m
        self.cat = m["catalog"].Catalog(self.spark, os.path.join(self.work, "cat"))
        self.cat.register_table("pages", self.pages)
        self.mirror_path = os.path.join(self.work, "mirror")
        self.last = self.call("bootstrap", "cdc.bootstrap", m["cdc_apply"].mirror_table,
                              self.spark, self.pages.path, self.mirror_path,
                              "url")["applied_through"]
        self.call("create_mv", "mview.create", self.cat.create_materialized_view, "lang_stats", MV_SQL)
        self.tables = [self.pages, self.Table(self.spark, self.mirror_path),
                       self.cat.table("lang_stats")]

    def warmup(self, tbl) -> None:
        raise NotImplementedError

    def epilogue(self) -> None:
        """Traced runs only, after the clock stopped: bootstrap the CDC
        consumers at the final snapshot, commit one more step of the
        workload's shape, and let the consumers catch up over it. At this
        engine a catch-up costs 8-35 s with the slice length, more than
        every untraced run can carry; here it measures the cdc and mview
        layers on this workload's kind of change."""
        if not self.t.traced:
            return
        self.setup_consumers()
        self.extra = self.extra_step()
        self.commit_extra(self.extra)
        self.catch_up()

    def extra_rows(self, name: str, edit) -> str:
        """Every 30th base row, edited by ``edit``, as a parquet file in the
        run directory; the oracle replays the same file."""
        rows = pq.read_table(self.inputs.path(self.inputs.base)).to_pandas()
        pick = rows["url"].isin({self.inputs.url_of(i) for i in range(0, len(rows), 30)})
        path = os.path.join(self.work, name)
        pq.write_table(pa.Table.from_pandas(edit(rows[pick]), schema=inp.ARROW_SCHEMA,
                                            preserve_index=False), path)
        return path

    def timed(self) -> None:
        raise NotImplementedError

    # ------------------------------------------------------ shared steps

    def catch_up(self) -> None:
        """The consumers catch up: a mirror slice from the last applied
        snapshot, then the MV refresh to the re-pinned source."""
        m = self.m
        with self.t.span("catch_up", "bench"):
            before = self.last
            out = self.call("mirror", "cdc.mirror", m["cdc_apply"].mirror_table, self.spark,
                            self.pages.path, self.mirror_path, "url", from_snapshot_id=self.last)
            self.last = out["applied_through"]
            if self.t.traced:
                t0 = time.perf_counter()
                self.t.last.attrs["snapshots_in_slice"] = sum(
                    1 for s in self.pages.snapshots() if before < s.snapshot_id <= self.last)
                self.t.charge(time.perf_counter() - t0)
            self.call("pin", "catalog", self.cat.refresh, "pages")
            self.call("refresh", "mview.refresh", self.cat.refresh_materialized_view, "lang_stats")

    def maintenance(self, tbl, deletes: bool) -> None:
        """One cycle in ``MaintenanceLoop.run_once`` order (compact,
        incremental cluster, DV rewrite), then the manifest rewrite."""
        m = self.m
        self.maintain("compact", "compact", m["compact"].compact, tbl,
                      target_file_bytes=TARGET_FILE_BYTES, max_concurrency=self.cores)
        self.maintain("zorder", "zorder", m["zorder"].zorder_by, tbl, url_coord="prefix",
                      target_file_bytes=TARGET_FILE_BYTES, scope="incremental")
        if deletes:
            self.maintain("rewrite_deletes", "deletes.rewrite",
                          m["rewrite_deletes"].rewrite_delete_vectors, tbl, min_dv_files=1)
        self.maintain("rewrite_manifests", "manifests", m["manifests"].rewrite_manifests, tbl)

    def expire(self, tbl) -> None:
        self.harvest()
        self.maintain("expire", "expire", self.m["expire"].expire_snapshots, tbl,
                      keep_last=KEEP_SNAPSHOTS, orphan_grace_ms=0)

    def harvest_start(self) -> None:
        for tbl in self.tables:
            self.start_ids[tbl.path] = max(s.snapshot_id for s in tbl.snapshots())

    def table_digest(self, tbl, snapshot_id=None) -> tuple[int, int]:
        df = tbl.scan(snapshot_id=snapshot_id).select("url", "warc_ts", "text").toPandas()
        return inp.digest(df)

    def gate(self, name: str, ok: bool) -> None:
        self.checks[name] = bool(ok)
        self.attempted += 1
        if not ok:
            self.failed += 1

    def check(self) -> None:
        """Source = oracle replay; with consumers also mirror = source at
        the applied snapshot and MV = a fresh GROUP BY of the oracle state."""
        state = inp.expected_state(self.inputs)
        if self.extra:
            state = inp.apply_step(state, self.extra, self.inputs)
        want = inp.digest(state)
        self.gate("state", self.table_digest(self.pages) == want)
        if self.extra:
            _pages, mirror, mv = self.tables
            self.gate("mirror", self.table_digest(mirror) == self.table_digest(self.pages, self.last))
            rollup = inp.normalize_rollup(mv.scan().toPandas())
            self.gate("mview", rollup.equals(inp.expected_rollup(state)))

    def space(self) -> tuple[int, int]:
        on_disk = sum(dir_bytes(t.path) for t in self.tables)
        live = sum(f.size_bytes for t in self.tables for f in t.live_files())
        return on_disk, live


class CrawlUpsert(Workload):
    """Equal-sized, key-unique recrawl batches merged into a Z-ordered
    table, a read probe after every ``CRAWL_PROBE_EVERY``-th, and one
    maintenance pass (compact, incremental cluster, manifest rewrite,
    expiry) at the end."""

    name = "crawl_upsert"
    foreground_layer = "merge"

    def warmup(self, tbl) -> None:
        """The first batch's merge and probe, replayed on the throwaway
        build, then the maintenance pass: the first call of each op kind
        pays the JIT and codegen warm-up outside the timed phase."""
        for k, step in enumerate(self.inputs.steps[:WARMUP_STEPS]):
            self.step(tbl, k, step)
        self.maintenance(tbl, deletes=False)
        self.expire(tbl)

    def step(self, tbl, k: int, step: dict) -> None:
        self.t.step = k
        self.call("merge", "merge", self.m["merge"].merge_into, tbl, self.read(step["upsert"]), "url")
        if self.t.phase == "timed":
            self.foreground.append(self.t.last.dur)
            self.input_bytes += self.inputs.file_bytes(step["upsert"])
        if k % CRAWL_PROBE_EVERY == 0:
            self.probe(tbl)
        self.t.step = None

    def timed(self) -> None:
        for k, step in enumerate(self.inputs.steps):
            self.step(self.pages, k, step)
        self.maintenance(self.pages, deletes=False)
        self.expire(self.pages)

    def extra_step(self) -> dict:
        """A recrawl of 100 base urls: update pairs in the CDC feed."""
        return {"upsert": self.extra_rows(
            "extra.parquet", lambda df: df.assign(text="epilogue " + df["text"]))}

    def commit_extra(self, step: dict) -> None:
        self.call("merge", "merge", self.m["merge"].merge_into, self.pages,
                  self.read(step["upsert"]), "url")


class SmallfileMaintain(Workload):
    """Micro-batch appends of new urls; every few appends one point delete,
    a maintenance cycle and expiry, then ``CYCLE_PROBES`` read probes."""

    name = "smallfile_maintain"
    foreground_layer = "format.append"

    def warmup(self, tbl) -> None:
        """The first cycle's last step (an append, the point delete,
        maintenance, expiry and a probe), replayed on the throwaway build."""
        k = SHAPES[self.name].cycle_every - 1
        self.step(tbl, k, self.inputs.steps[k])

    def step(self, tbl, k: int, step: dict) -> None:
        timed = self.t.phase == "timed"
        self.t.step = k
        self.call("append", "format.append", tbl.append, self.read(step["append"]))
        if timed:
            self.foreground.append(self.t.last.dur)
            self.input_bytes += self.inputs.file_bytes(step["append"])
        if step.get("cycle"):
            self.delete(tbl, tuple(self.inputs.url_of(i) for i in step["delete"]))
            if timed:
                self.maint.append(self.t.last.dur)
            self.maintenance(tbl, deletes=True)
            self.expire(tbl)
            for _ in range(CYCLE_PROBES if timed else 1):
                self.probe(tbl)
        self.t.step = None

    def timed(self) -> None:
        for k, step in enumerate(self.inputs.steps):
            self.step(self.pages, k, step)
        self.harvest()

    def extra_step(self) -> dict:
        """100 new urls appended and two surviving base urls deleted:
        inserts and deletes in the CDC feed."""
        gone = {i for step in self.inputs.steps for i in step.get("delete", ())}
        victims = [i for i in range(1, SHAPES[self.name].base_rows) if i not in gone][:2]
        return {"append": self.extra_rows(
                    "extra.parquet", lambda df: df.assign(url=df["url"] + "#e")),
                "delete": victims}

    def commit_extra(self, step: dict) -> None:
        self.call("append", "format.append", self.pages.append, self.read(step["append"]))
        self.delete(self.pages, tuple(self.inputs.url_of(i) for i in step["delete"]))


WORKLOADS = {w.name: w for w in (CrawlUpsert, SmallfileMaintain)}
