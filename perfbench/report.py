"""Per-layer metrics derived from a traced run's spans.

A layer's metrics come from its timed-phase spans. A layer the timed
phase does not exercise (``cdc`` and ``mview``) is taken from the untimed
epilogue of the traced run; a layer neither reaches (``format.append``
and ``deletes`` on ``crawl_upsert``) reads 0 and is marked "not reached".
The report line names the phase each layer was taken from.
"""

from __future__ import annotations

import statistics

from .measure import Span, Tracer

SELF_LAYERS = ("format", "scan", "merge", "compact", "zorder", "manifests",
               "expire", "deletes", "cdc", "mview", "catalog", "bench")


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _nonneg(spans: list[Span], key: str) -> list[float]:
    return [s.attrs[key] for s in spans if s.attrs.get(key, -1) >= 0]


def _jobs(s: Span) -> int:
    return s.jobs[1] - s.jobs[0] if s.jobs else 0


def layer_metrics(t: Tracer, foreground: list[Span], extra: dict) -> tuple[dict, dict]:
    """(metrics by name, phase each layer was taken from)."""
    source: dict[str, str] = {}

    def spans(layer: str) -> list[Span]:
        """Timed-phase (else epilogue) spans, preferring calls the benchmark
        made itself over the same layer reached inside another call."""
        for phase in ("timed", "epilogue"):
            got = t.of(layer, phase)
            top = [s for s in got if s.parent is None]
            if got:
                source[layer] = phase
                return top or got
        source[layer] = "not reached"
        return []

    out: dict[str, float] = {}
    start, warm = t.of("session")[:2]
    out["session.start_s"] = start.dur
    out["session.warm_s"] = warm.dur

    creates = t.of("format.create", "setup")
    source["format.create"] = "setup"
    out["format.create_s"] = _median([s.dur for s in creates])
    appends = spans("format.append")
    out["format.append_s"] = _median([s.dur for s in appends])
    out["format.append_jobs"] = _mean([_jobs(s) for s in appends])
    out["format.metadata_json_bytes"] = extra["metadata_json_bytes"]
    out["format.manifests_live"] = extra["manifests_live"]
    plans = spans("format.plan")
    out["format.plan_s"] = _median([s.dur for s in plans])
    out["format.files_planned_ratio"] = _mean(
        [_ratio(s.attrs["planned"], s.attrs["live"]) for s in plans])
    out["scan.exec_s"] = _median([s.dur for s in spans("scan.exec")])
    out["scan.planned_bytes"] = _mean([s.attrs["planned_bytes"] for s in plans])

    merges = spans("merge")
    out["merge.s"] = _median([s.dur for s in merges])
    out["merge.jobs"] = _mean([_jobs(s) for s in merges])
    out["merge.tasks"] = _mean([s.attrs.get("tasks", 0) for s in merges])
    out["merge.candidates_scanned_ratio"] = _ratio(
        sum(_nonneg(merges, "merge_candidates_scanned")),
        sum(_nonneg(merges, "merge_candidates_global")))
    with_discovery = [s for s in merges if "merge_discovery" in s.attrs]
    out["merge.discovery_skipped_ratio"] = _ratio(
        sum(s.attrs["merge_discovery"] == "skipped" for s in with_discovery), len(with_discovery))
    passed = sum(_nonneg(merges, "merge_passthrough"))
    out["merge.passthrough_ratio"] = _ratio(passed, passed + sum(_nonneg(merges, "merge_updated")))
    out["merge.bytes_added"] = sum(s.attrs.get("added_bytes", 0) for s in merges)

    compacts = spans("compact")
    out["compact.s"] = sum(s.dur for s in compacts)
    out["compact.files_in"] = sum(s.attrs.get("compacted_input_files", 0) for s in compacts)
    out["compact.files_out"] = sum(s.attrs.get("compacted_output_files", 0) for s in compacts)
    out["compact.bytes"] = sum(s.attrs.get("compacted_bytes", 0) for s in compacts)

    zorders = spans("zorder")
    out["zorder.s"] = sum(s.dur for s in zorders)
    out["zorder.files_out"] = sum(s.attrs.get("cluster_files_out", 0) for s in zorders)
    out["zorder.bytes"] = sum(s.attrs.get("cluster_bytes", 0) for s in zorders)

    rewrites = spans("manifests")
    out["manifests.s"] = sum(s.dur for s in rewrites)
    out["manifests.count_after"] = rewrites[-1].attrs.get("total_manifests", 0) if rewrites else 0

    expires = spans("expire")
    out["expire.s"] = sum(s.dur for s in expires)
    out["expire.snapshots"] = sum(s.attrs.get("expired", 0) for s in expires)
    out["expire.files_deleted"] = sum(s.attrs.get("deleted_data_files", 0) for s in expires)
    out["expire.freed_bytes"] = sum(s.attrs.get("freed_bytes", 0) for s in expires)

    dels = spans("deletes.delete")
    out["deletes.delete_s"] = _median([s.dur for s in dels])
    out["deletes.dv_bytes"] = sum(s.attrs.get("dv_bytes", 0) for s in dels)
    out["deletes.rewrite_s"] = sum(s.dur for s in spans("deletes.rewrite"))

    mirrors = spans("cdc.mirror")
    applies = spans("cdc.apply")
    out["cdc.feed_s"] = sum(s.dur for s in spans("cdc.feed"))
    out["cdc.feed_rows"] = sum(max(s.attrs.get("upserts") or 0, 0) + s.attrs.get("deletes", 0)
                               for s in applies)
    out["cdc.apply_s"] = sum(s.dur for s in applies)
    out["cdc.jobs"] = _mean([_jobs(s) for s in mirrors])
    out["cdc.snapshots_per_slice"] = _mean(
        [s.attrs["snapshots_in_slice"] for s in mirrors if "snapshots_in_slice" in s.attrs])

    refreshes = spans("mview.refresh")
    out["mview.refresh_s"] = _median([s.dur for s in refreshes])
    out["mview.incremental_ratio"] = _ratio(
        sum(s.attrs.get("mode") == "incremental" for s in refreshes), len(refreshes))
    out["mview.affected_groups"] = _mean([max(s.attrs.get("affected", 0), 0) for s in refreshes])

    out["spark.jobs_per_op"] = _mean([_jobs(s) for s in foreground])
    out["spark.stages_per_op"] = _mean([s.attrs.get("stages", 0) for s in foreground])
    out["spark.tasks_per_op"] = _mean([s.attrs.get("tasks", 0) for s in foreground])

    timed = [s for s in t.spans if s.phase == "timed"]
    self_t = self_time([s for s in t.spans if s.phase in ("timed", "epilogue")])
    for layer in SELF_LAYERS:
        out[f"self.{layer}_s"] = self_t.get(layer, 0.0)
    covered = sum(s.dur for s in timed if s.parent is None)
    out["trace.wall_s"] = extra["wall_s"]
    out["trace.covered_ratio"] = _ratio(covered, extra["wall_s"])
    out["trace.bookkeeping_s"] = t.bookkeeping_s
    return out, source


def self_time(spans: list[Span]) -> dict[str, float]:
    """Per top-level layer name: span time minus the part of it that child
    spans cover."""
    child: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + s.dur
    out: dict[str, float] = {}
    for s in spans:
        key = s.layer.split(".")[0]
        out[key] = out.get(key, 0.0) + s.dur - child.get(s.span_id, 0.0)
    return out
