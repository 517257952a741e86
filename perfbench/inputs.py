"""Benchmark inputs and the expected-state oracle.

Every input row comes from ``datagen.pages`` and is a pure function of the
workload seed. Inputs are built once per (workload, shape, seed, seconds),
before Spark starts, and stored as parquet under the work directory with
a plan (which file or key list each step applies) and a SHA-256 manifest.
Each run re-checks the manifest; a mismatch rebuilds the inputs. The engine
only ever receives the parquet files, so no generation cost reaches
``setup_s`` or ``wall_s``.

The oracle replays the same plan with pandas/pyarrow only (last writer
wins per url, deletes applied) and reduces a table to a digest: row count
plus an order-insensitive sum of per-row hashes of (url, warc_ts, text).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass
from multiprocessing import get_context

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ARROW_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])
GEN_WORKERS = 4
GEN_CHUNK = 1000


@dataclass(frozen=True)
class Shape:
    """Sizes of one workload. ``steps`` scales with ``--seconds``."""

    base_rows: int
    steps_per_s: float
    min_steps: int
    step_rows: int
    new_share: float = 0.0
    deletes_per_cycle: int = 0
    cycle_every: int = 0

    def steps(self, seconds: int) -> int:
        return max(self.min_steps, round(seconds * self.steps_per_s))


SHAPES = {
    # 90 % recrawls (70 % of them from the hot domain) + 10 % new urls
    "crawl_upsert": Shape(base_rows=3000, steps_per_s=0.55, min_steps=11,
                          step_rows=300, new_share=0.1),
    # micro-batch appends of new urls; every ``cycle_every`` appends one
    # point delete and a maintenance cycle. At least 40 appends, so that
    # op_tail_s (ten samples above it) is p75 or higher
    "smallfile_maintain": Shape(base_rows=3000, steps_per_s=2.0, min_steps=40,
                                step_rows=200, deletes_per_cycle=4, cycle_every=20),
}


# ------------------------------------------------------------ generation


def _page_table(idx: np.ndarray, seed: int, revision: int) -> pa.Table:
    from ecommerce_lakehouse_spark.datagen.pages import _page_batch

    pdf = _page_batch(np.asarray(idx, dtype=np.int64), seed, revision)
    return pa.Table.from_pandas(pdf, schema=ARROW_SCHEMA, preserve_index=False)


def _hot_mask(idx: np.ndarray, seed: int) -> np.ndarray:
    from ecommerce_lakehouse_spark.datagen.pages import _domain_of

    return _domain_of(np.asarray(idx, dtype=np.int64), seed) == 0


def _plan(workload: str, seed: int, seconds: int) -> tuple[list, list]:
    """Index-level plan: (page chunks to generate, steps).

    A chunk is ``(file, [(indices, revision), ...])``; a step is a dict
    with ``upsert``/``append`` (a file) and/or ``delete`` (url indices)."""
    sh = SHAPES[workload]
    n_steps = sh.steps(seconds)
    rng = np.random.default_rng([seed, n_steps, sh.base_rows])
    alive = np.arange(sh.base_rows, dtype=np.int64)
    next_new = sh.base_rows
    chunks = [(Inputs.base, [(alive.copy(), 0)])]
    steps: list[dict] = []
    if workload == "crawl_upsert":
        hot = alive[_hot_mask(alive, seed)]
        cold = alive[~_hot_mask(alive, seed)]
        n_new = round(sh.step_rows * sh.new_share)
        n_hot = round((sh.step_rows - n_new) * 0.7)
        n_cold = sh.step_rows - n_new - n_hot
        for k in range(n_steps):
            rec = np.concatenate([rng.choice(hot, n_hot, replace=False),
                                  rng.choice(cold, n_cold, replace=False)])
            new = np.arange(next_new, next_new + n_new, dtype=np.int64)
            next_new += n_new
            f = f"step_{k:04d}.parquet"
            chunks.append((f, [(np.sort(rec), k + 1), (new, 0)]))
            steps.append({"upsert": f})
    elif workload == "smallfile_maintain":
        for k in range(n_steps):
            new = np.arange(next_new, next_new + sh.step_rows, dtype=np.int64)
            next_new += sh.step_rows
            alive = np.concatenate([alive, new])
            f = f"step_{k:04d}.parquet"
            chunks.append((f, [(new, 0)]))
            step = {"append": f}
            if (k + 1) % sh.cycle_every == 0:
                victims = rng.choice(alive, sh.deletes_per_cycle, replace=False)
                alive = np.setdiff1d(alive, victims)
                step["delete"] = np.sort(victims).tolist()
                step["cycle"] = True
            steps.append(step)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return chunks, steps


def _gen_piece(args) -> pa.Table:
    idx, seed, revision = args
    return _page_table(idx, seed, revision)


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


@dataclass
class Inputs:
    """A verified input directory and its plan."""

    root: str
    workload: str
    seed: int
    steps: list[dict]
    base = "base.parquet"

    def path(self, rel: str) -> str:
        return os.path.join(self.root, rel)

    def url_of(self, idx: int) -> str:
        from ecommerce_lakehouse_spark.datagen.pages import _domain_of

        d = int(_domain_of(np.asarray([idx], dtype=np.int64), self.seed)[0])
        return f"https://site{d:03d}.example.com/p/{idx}"

    def file_bytes(self, rel: str) -> int:
        return os.path.getsize(self.path(rel))


def prepare(work_dir: str, workload: str, seed: int, seconds: int) -> Inputs:
    """Build (or re-verify) the inputs for one (workload, seed, seconds).
    The directory name also carries a hash of the workload's shape, so
    inputs cached under an older shape are never reused."""
    shape = hashlib.sha256(repr(SHAPES[workload]).encode()).hexdigest()[:12]
    root = os.path.join(work_dir, "inputs", f"{workload}-s{seed}-t{seconds}-{shape}")
    manifest = os.path.join(root, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            m = json.load(f)
        if all(os.path.exists(os.path.join(root, rel)) and
               _sha256(os.path.join(root, rel)) == digest
               for rel, digest in m["sha256"].items()):
            return Inputs(root, workload, seed, m["steps"])
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    chunks, steps = _plan(workload, seed, seconds)
    jobs, owners = [], []
    for rel, parts in chunks:
        for idx, rev in parts:
            for lo in range(0, len(idx), GEN_CHUNK):
                jobs.append((idx[lo:lo + GEN_CHUNK], seed, rev))
                owners.append(rel)
    with ProcessPoolExecutor(GEN_WORKERS, mp_context=get_context("spawn")) as pool:
        pieces = list(pool.map(_gen_piece, jobs))
    by_file: dict[str, list[pa.Table]] = {}
    for rel, t in zip(owners, pieces):
        by_file.setdefault(rel, []).append(t)
    sha = {}
    for rel, tables in by_file.items():
        pq.write_table(pa.concat_tables(tables), os.path.join(root, rel),
                       compression="snappy")
        sha[rel] = _sha256(os.path.join(root, rel))
    with open(manifest + ".tmp", "w") as f:
        json.dump({"sha256": sha, "steps": steps}, f)
    os.replace(manifest + ".tmp", manifest)
    return Inputs(root, workload, seed, steps)


# ---------------------------------------------------------------- oracle


def read_rows(path: str) -> pd.DataFrame:
    return pq.read_table(path, columns=["url", "warc_ts", "text", "lang"]).to_pandas()


def apply_step(state: pd.DataFrame, step: dict, inputs: Inputs) -> pd.DataFrame:
    """One plan step on a url-keyed frame: upsert/append, then deletes."""
    rel = step.get("upsert") or step.get("append")
    if rel:
        state = pd.concat([state, read_rows(inputs.path(rel))], ignore_index=True)
        state = state.drop_duplicates("url", keep="last")
    if step.get("delete"):
        gone = {inputs.url_of(i) for i in step["delete"]}
        state = state[~state["url"].isin(gone)]
    return state.reset_index(drop=True)


def expected_state(inputs: Inputs, n_steps: int | None = None) -> pd.DataFrame:
    """The table after the first ``n_steps`` plan steps (all by default)."""
    state = read_rows(inputs.path(inputs.base))
    for step in inputs.steps[:n_steps]:
        state = apply_step(state, step, inputs)
    return state


def _ts_micros(col: pd.Series) -> np.ndarray:
    return col.to_numpy().astype("datetime64[us]").astype(np.int64)


def digest(df: pd.DataFrame) -> tuple[int, int]:
    """(row count, order-insensitive hash) of (url, warc_ts, text)."""
    if len(df) == 0:
        return 0, 0
    keyed = pd.DataFrame({"url": df["url"].to_numpy(),
                          "ts": _ts_micros(df["warc_ts"]),
                          "text": df["text"].to_numpy()})
    h = pd.util.hash_pandas_object(keyed, index=False).to_numpy(np.uint64)
    return len(df), int(h.sum(dtype=np.uint64))


def expected_rollup(state: pd.DataFrame) -> pd.DataFrame:
    """The per-lang rollup a fresh GROUP BY gives, sorted by lang."""
    g = state.assign(tb=state["text"].str.len(), ts=_ts_micros(state["warc_ts"]))
    out = g.groupby("lang").agg(n_pages=("url", "size"), text_bytes=("tb", "sum"),
                                latest_ts=("ts", "max")).reset_index()
    return out.astype({"n_pages": np.int64, "text_bytes": np.int64, "latest_ts": np.int64})[
        ["lang", "n_pages", "text_bytes", "latest_ts"]
    ].sort_values("lang").reset_index(drop=True)


def normalize_rollup(df: pd.DataFrame) -> pd.DataFrame:
    out = pd.DataFrame({
        "lang": df["lang"].astype(str).to_numpy(),
        "n_pages": df["n_pages"].astype(np.int64).to_numpy(),
        "text_bytes": df["text_bytes"].astype(np.int64).to_numpy(),
        "latest_ts": _ts_micros(df["latest_ts"]),
    })
    return out.sort_values("lang").reset_index(drop=True)
