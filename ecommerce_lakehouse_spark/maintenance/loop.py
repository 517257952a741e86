"""Continuous maintenance: a snapshot-listener loop that compacts (and
optionally re-clusters) whenever writers land new snapshots — the
"OPTIMIZE runs itself" mode of the reference's planned maintenance days
(``PROGRESS.md:163-165``), availableNow-style: each cycle drains the
CURRENT backlog and stops, so it composes with streaming foreachBatch
sinks (call :meth:`MaintenanceLoop.run_once` after a batch commits) or a
cron cadence (:meth:`MaintenanceLoop.run`).

Crash safety is inherited, not reimplemented: the loop persists only the
last-processed snapshot id (atomic tmp+rename in the table's ledger dir),
and compaction itself checkpoints per-bin lineage through the JobLedger —
a loop killed mid-compaction re-runs the SAME deterministic job on the
next cycle and adopts every already-staged bin instead of redoing it.
"""

from __future__ import annotations

import json
import os

from ..table.format import IcehouseTable
from .compact import DEFAULT_TARGET_BYTES, compact
from .zorder import zorder_by

STATE_FILE = "maintenance-loop.json"


class MaintenanceLoop:
    """Snapshot-triggered compaction (+ optional incremental clustering)."""

    def __init__(
        self,
        table: IcehouseTable,
        target_file_bytes: int = DEFAULT_TARGET_BYTES,
        min_bin_files: int = 2,
        cluster: bool = False,
        curve: str = "morton",
        url_coord: str = "hash",
        maintain_deletes: bool = True,
        min_dv_files: int = 4,
    ):
        self.maintain_deletes = maintain_deletes
        self.min_dv_files = min_dv_files
        self.table = table
        self.target_file_bytes = target_file_bytes
        self.min_bin_files = min_bin_files
        self.cluster = cluster
        self.curve = curve
        self.url_coord = url_coord
        self._state_path = os.path.join(table.ledger_dir, STATE_FILE)

    # ------------------------------------------------------------- state

    def last_processed(self) -> int:
        if not os.path.exists(self._state_path):
            return 0
        with open(self._state_path) as f:
            return json.load(f).get("last_snapshot_id", 0)

    def _mark_processed(self, snapshot_id: int) -> None:
        tmp = self._state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"last_snapshot_id": snapshot_id}, f)
        os.rename(tmp, self._state_path)

    def pending(self) -> bool:
        """True when writers committed snapshots the loop hasn't processed."""
        return self.table.current_version() > self.last_processed()

    # -------------------------------------------------------------- work

    def run_once(self) -> dict:
        """One availableNow cycle: if new snapshots landed, compact (ledger
        resume makes a crashed prior cycle pick up its staged bins) and
        optionally recluster incrementally; then advance the watermark PAST
        the loop's own commits so maintenance never retriggers itself."""
        if not self.pending():
            return {"ran": False, "reason": "no new snapshots"}
        # capture the version observed at cycle START: writer commits landing
        # DURING the cycle must stay pending for the next cycle (ADVICE r03 —
        # marking current_version() after compacting swallowed them until yet
        # another commit arrived). The loop's OWN commits advance the table
        # version past this base and are accounted for below.
        observed = self.table.current_version()
        out: dict = {"ran": True}
        snap = compact(
            self.table,
            target_file_bytes=self.target_file_bytes,
            min_bin_files=self.min_bin_files,
        )
        out["compacted"] = snap is not None
        if snap is not None:
            out["compact_summary"] = snap.summary
        if self.cluster:
            csnap = zorder_by(
                self.table, curve=self.curve, url_coord=self.url_coord,
                target_file_bytes=self.target_file_bytes,
                scope="incremental",
            )
            out["clustered"] = csnap is not None
        dsnap = None
        if self.maintain_deletes:
            # delete-stack upkeep rides the same cadence: consolidate DV
            # sidecars once they pile up and fold equality deletes into
            # positional form so steady-state reads keep one DV step
            from .rewrite_deletes import rewrite_delete_vectors

            full = self.table.delete_registry_full()
            n_dvs = len({dv for e in full["entries"].values() for dv in e["dvs"]})
            if n_dvs >= self.min_dv_files or full["eq"]:
                dsnap = rewrite_delete_vectors(
                    self.table, min_dv_files=self.min_dv_files
                )
                out["deletes_rewritten"] = dsnap is not None
        # mark AFTER the work commits: a crash before this line re-runs the
        # cycle, and the deterministic compact job id + ledger make that
        # re-run adopt staged bins instead of redoing them. Advance only past
        # the observed base + this cycle's OWN commits — never past writer
        # commits that raced in during the cycle (they stay pending). With a
        # concurrent writer the loop's own commit ids can exceed this mark,
        # costing at most one extra no-op cycle (liveness, never a swallow).
        own_commits = sum(
            1 for s in (snap, csnap if self.cluster else None, dsnap)
            if s is not None
        )
        self._mark_processed(observed + own_commits)
        return out

    def run(self, max_cycles: int | None = None,
            poll_interval_s: float = 1.0) -> list[dict]:
        """Poll-and-drain loop; ``max_cycles`` bounds it for tests/cron."""
        import time

        results = []
        cycles = 0
        while max_cycles is None or cycles < max_cycles:
            if self.pending():
                results.append(self.run_once())
            elif max_cycles is None:
                time.sleep(poll_interval_s)
            else:
                results.append({"ran": False, "reason": "no new snapshots"})
            cycles += 1
        return results
