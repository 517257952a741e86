"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import inputs as inp  # noqa: E402
from perfbench import measure  # noqa: E402
from perfbench.report import self_time  # noqa: E402

# ------------------------------------------------------------ op_tail_s


def test_tail_has_ten_samples_above():
    samples = [float(i) for i in range(40)]
    pct, value, n = measure.tail(samples)
    assert n == 40
    assert sum(s > value for s in samples) == 10
    assert pct == 75.0


def test_tail_is_order_insensitive_and_counts_ties_by_rank():
    samples = [5.0] * 15 + [1.0] * 6
    pct, value, n = measure.tail(list(reversed(samples)))
    assert (value, n) == (5.0, 21)
    assert pct == pytest.approx(100 * 11 / 21)


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        measure.tail([1.0] * 10)
    pct, value, _ = measure.tail([float(i) for i in range(11)])
    assert (value, pct) == (0.0, pytest.approx(100 / 11))


# ------------------------------------------------- write/space amplification


def test_write_amp_sums_commits_over_input():
    assert measure.write_amp([100, 250, 50], 200) == 2.0
    with pytest.raises(ValueError):
        measure.write_amp([1], 0)


def test_space_amp_and_dir_bytes(tmp_path):
    (tmp_path / "data").mkdir()
    (tmp_path / "data" / "a.parquet").write_bytes(b"x" * 300)
    (tmp_path / "metadata.json").write_bytes(b"y" * 100)
    assert measure.dir_bytes(str(tmp_path)) == 400
    assert measure.space_amp(400, 300) == pytest.approx(4 / 3)
    with pytest.raises(ValueError):
        measure.space_amp(1, 0)


# ------------------------------------------------- process-tree accounting


def test_cpu_ticks_reads_own_and_reaped_children_fields():
    # /proc/<pid>/stat after ')': state ppid ... utime(14) stime cutime cstime
    tail = "S 1 2 3 4 5 6 7 8 9 10 700 50 20 30 0".split()
    assert measure.cpu_ticks(tail) == 800


def test_steal_share_is_the_steal_column_over_all_ticks():
    before = [100, 0, 10, 500, 0, 0, 0, 5]
    after = [160, 0, 20, 520, 0, 0, 0, 15]
    assert measure.steal_share(before, after) == pytest.approx(10 / 100)
    assert measure.steal_share(before, before) == 0.0
    assert len(measure.cpu_times()) == 8


def test_tree_counts_a_busy_child():
    burn = "import time\nt=time.time()\nwhile time.time()-t<0.6: pass\ntime.sleep(5)"
    child = subprocess.Popen([sys.executable, "-c", burn])
    try:
        time.sleep(1.0)
        pids = measure.tree_pids(os.getpid())
        assert child.pid in pids and os.getpid() in pids
        assert measure.tree_cpu_s(os.getpid()) >= 0.5
        rss = measure.PeakRss(os.getpid())
        rss.sample()
        assert rss.peak_kb[child.pid] > 0
        own = rss.mb()
        assert own > measure.hwm_kb(os.getpid()) / 1024.0
    finally:
        child.kill()
        child.wait(timeout=10)


def test_stop_descendants_ends_the_whole_tree():
    # a child with a grandchild that ignores SIGTERM: the child ends on
    # SIGTERM, the re-parented grandchild only on the SIGKILL after the
    # grace; both are reaped here, so neither is left even as a zombie
    measure.become_subreaper()
    stubborn = "import signal,time\nsignal.signal(signal.SIGTERM, signal.SIG_IGN)\ntime.sleep(60)"
    parent = (f"import subprocess,sys,time\nsubprocess.Popen([sys.executable, '-c', {stubborn!r}])"
              "\ntime.sleep(60)")
    child = subprocess.Popen([sys.executable, "-c", parent])
    deadline = time.monotonic() + 20
    while len(measure.tree_pids(child.pid)) < 2 and time.monotonic() < deadline:
        time.sleep(0.05)
    tree = measure.tree_pids(child.pid)
    assert len(tree) == 2
    assert measure.stop_descendants(os.getpid(), grace_s=0.5) == []
    assert child.poll() is not None
    assert not any(os.path.exists(f"/proc/{pid}") for pid in tree)


def test_peak_rss_keeps_exited_processes():
    rss = measure.PeakRss(os.getpid())
    rss.peak_kb[999_999_999] = 2048  # a pid sampled earlier that has exited
    rss.sample()
    assert rss.peak_kb[999_999_999] == 2048
    assert rss.mb() >= 2.0


# ---------------------------------------------------------------- spans


def test_self_time_subtracts_children_and_bookkeeping():
    t = measure.Tracer(traced=False, run_id="t")
    t.phase = "timed"
    with t.span("catch_up", "bench"):
        with t.span("mirror", "cdc.mirror"):
            time.sleep(0.02)
            t.charge(0.01)  # trace overhead inside the child
        time.sleep(0.02)
    outer, inner = t.spans
    assert inner.book == pytest.approx(0.01) and outer.book == pytest.approx(0.01)
    st = self_time(t.spans)
    assert st["bench"] == pytest.approx(outer.dur - inner.dur)
    assert st["bench"] + st["cdc"] == pytest.approx(outer.dur)


# --------------------------------------------------------------- oracle


def _frame(urls, day, text):
    return pd.DataFrame({
        "url": urls,
        "warc_ts": pd.to_datetime([f"2023-11-{day:02d}"] * len(urls)),
        "html": [b"<p/>"] * len(urls),
        "text": [f"{text} {u}" for u in urls],
        "lang": ["en" if i % 2 else "de" for i in range(len(urls))],
    })


@pytest.fixture
def plan(tmp_path):
    data = inp.Inputs(str(tmp_path), "crawl_upsert", 7, [])
    urls = [data.url_of(i) for i in range(6)]

    def put(rel, df):
        pq.write_table(pa.Table.from_pandas(df, schema=inp.ARROW_SCHEMA, preserve_index=False),
                       data.path(rel))

    put("base.parquet", _frame(urls[:4], 1, "v0"))
    put("s0.parquet", _frame([urls[1], urls[4]], 2, "v1"))
    put("s1.parquet", _frame([urls[5]], 3, "v0"))
    data.steps = [{"upsert": "s0.parquet"}, {"append": "s1.parquet", "delete": [2]}]
    return data, urls


def test_expected_state_last_writer_wins_and_deletes(plan):
    data, urls = plan
    state = inp.expected_state(data).set_index("url")
    assert sorted(state.index) == sorted([urls[0], urls[1], urls[3], urls[4], urls[5]])
    assert state.loc[urls[1], "text"] == f"v1 {urls[1]}"
    assert state.loc[urls[0], "text"] == f"v0 {urls[0]}"
    first = inp.expected_state(data, n_steps=1)
    assert urls[2] in set(first["url"]) and urls[5] not in set(first["url"])


def test_digest_is_order_insensitive_and_value_sensitive(plan):
    data, _ = plan
    state = inp.expected_state(data)
    d = inp.digest(state)
    assert d == inp.digest(state.sample(frac=1.0, random_state=3))
    # a Spark read hands timestamps back at another resolution
    assert d == inp.digest(state.assign(warc_ts=state["warc_ts"].astype("datetime64[ns]")))
    changed = state.copy()
    changed.loc[0, "text"] = changed.loc[0, "text"] + "!"
    assert inp.digest(changed) != d
    assert inp.digest(state.iloc[1:])[0] == d[0] - 1


def test_rollup_matches_normalized_group_by(plan):
    data, _ = plan
    state = inp.expected_state(data)
    want = inp.expected_rollup(state)
    mv = pd.DataFrame({
        "lang": want["lang"][::-1].to_numpy(),
        "n_pages": want["n_pages"][::-1].to_numpy(),
        "text_bytes": want["text_bytes"][::-1].to_numpy(),
        "latest_ts": pd.to_datetime(want["latest_ts"][::-1].to_numpy(), unit="us"),
    })
    assert inp.normalize_rollup(mv).equals(want)
    assert int(want["n_pages"].sum()) == len(state)


def test_plan_is_seed_deterministic_and_key_unique():
    a_chunks, a_steps = inp._plan("crawl_upsert", 5, 25)
    b_chunks, b_steps = inp._plan("crawl_upsert", 5, 25)
    assert a_steps == b_steps
    assert all(np.array_equal(x[0], y[0]) for (_, xs), (_, ys) in zip(a_chunks, b_chunks)
               for x, y in zip(xs, ys))
    for _rel, parts in a_chunks[1:]:
        idx = np.concatenate([i for i, _rev in parts])
        assert len(idx) == len(np.unique(idx)) == inp.SHAPES["crawl_upsert"].step_rows
    _, other = inp._plan("crawl_upsert", 6, 25)
    assert json.dumps(a_steps) == json.dumps(other)  # same shape: step files only
    chunks, steps = inp._plan("smallfile_maintain", 5, 25)
    deleted = [i for s in steps for i in s.get("delete", [])]
    assert len(deleted) == len(set(deleted)) > 0
