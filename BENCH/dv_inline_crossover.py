#!/usr/bin/env python
"""Deletion-vector read crossover: in-scan filter vs sidecar anti-join.

``read_files`` drops positional deletes with one in-scan predicate while
the read's DVs hold at most ``DV_INLINE_POSITIONS`` positions, and with an
anti-join above that. The inline form saves the sidecar scan, the join and
its broadcast job, but its planning cost grows with the IN lists it
carries. This sweep sets N deleted positions (spread evenly over the
table's files, one sidecar) and times scan + aggregate, plan and execute,
under both forms by moving the cap (median of 10 alternating runs each),
so the cap can sit at the crossover.

Usage: python BENCH/dv_inline_crossover.py [cores] [rows] [files] [positions_csv]
Defaults: 4 cores, 20000 rows, 20 files, positions 100,1000,3000,10000.
Emits one JSON line per position count.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def set_dvs(tbl, files, n: int, rng) -> int:
    """Commit one sidecar with n // len(files) random positions per file."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    per = n // len(files)
    names, pos = [], []
    for f in files:
        names += [os.path.basename(f.path)] * per
        pos.append(np.sort(rng.choice(f.row_count, size=per, replace=False)))
    rel = f"data/dv-{uuid.uuid4().hex[:12]}.parquet"
    pq.write_table(
        pa.table({"fname": names, "pos": pa.array(np.concatenate(pos), pa.int64())}),
        os.path.join(tbl.path, rel),
    )
    snap = tbl.current_snapshot()
    tbl._commit(
        "delete-rows", [], set(),
        delete_manifest=tbl._write_delete_registry(
            {f.path: {"dvs": [rel], "rows": per} for f in files}),
        base_delete_manifest=snap.delete_manifest,
    )
    return per * len(files)


# the cap that forces each form
FORMS = {"inline": 10**12, "antijoin": 0}


def timed(tbl, expect: int, reps: int) -> dict:
    """{form: median plan_s and total_s} of scan + count/sum aggregate, the
    two forms alternating (which runs first alternates too), so JIT warm-up
    and host drift fall on both alike."""
    from pyspark.sql import functions as F

    from ecommerce_lakehouse_spark.table import format as fmt

    runs = {form: ([], []) for form in FORMS}
    for i in range(reps):
        for form in (list(FORMS) if i % 2 == 0 else list(FORMS)[::-1]):
            fmt.DV_INLINE_POSITIONS = FORMS[form]
            t0 = time.perf_counter()
            df = tbl.scan().agg(F.count("*"), F.sum(F.length("v")))
            df._jdf.queryExecution().executedPlan()
            t1 = time.perf_counter()
            n = df.collect()[0][0]
            runs[form][0].append(t1 - t0)
            runs[form][1].append(time.perf_counter() - t0)
            assert n == expect, (form, n, expect)
    return {form: {"plan_s": round(statistics.median(p), 3),
                   "total_s": round(statistics.median(t), 3)}
            for form, (p, t) in runs.items()}


def main() -> None:
    import numpy as np
    from pyspark.sql import functions as F

    from ecommerce_lakehouse_spark.session import get_spark
    from ecommerce_lakehouse_spark.table import IcehouseTable

    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    rows = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
    n_files = int(sys.argv[3]) if len(sys.argv) > 3 else 20
    sizes = [int(x) for x in (sys.argv[4] if len(sys.argv) > 4
                              else "100,1000,3000,10000").split(",")]
    spark = get_spark("dv-crossover", cores=cores, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="dv-crossover-")
    try:
        tbl = IcehouseTable.create(
            spark, os.path.join(work, "t"),
            spark.range(rows).repartition(n_files).withColumn(
                "v", F.concat(F.lit("x"), F.col("id").cast("string"))),
        )
        files = tbl.live_files()
        rng = np.random.default_rng(1)
        for size in sizes:
            n = set_dvs(tbl, files, size, rng)
            timed(tbl, rows - n, reps=4)  # warm both plan shapes
            print(json.dumps({"cores": cores, "rows": rows, "files": len(files),
                              "positions": n, **timed(tbl, rows - n, reps=10)}),
                  flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
