#!/usr/bin/env python
"""One-iteration wall-time sweep over EVERY registered query at one sf dir.

Used to find queries that deserve a SCALECURVE.json row (the tracking
criterion is >=0.5s at sf0.1).  Writes TIMEALL.json at the repo root:

  {"sf_dir": ..., "kv_first_use_sec": ..., "calib_before_sec": ...,
   "sec": {name: sec, ...}, "calib_after_sec": ...}

- ``sec``: one collect per query, ``None`` if it raised;
- ``kv_first_use_sec``: the uda_kv DataSource's one-time spin-up, paid
  before the sweep so it lands in no query's row;
- ``calib_before_sec`` / ``calib_after_sec``: bench.py's fixed
  single-thread CPU probe before and after the sweep (host-load stamp).

Every interval is timed with ``time.perf_counter``.

Run:  python scripts/time_all.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from uda_spark.cache import release_persisted  # noqa: E402
from uda_spark.registry import all_specs  # noqa: E402
from uda_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = get_spark(
        "uda_spark_time_all", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()
    # Warm the session (JVM/codegen/first-scan costs land on a throwaway).
    next(iter(specs.values())).fn(spark, sf).collect()
    release_persisted()
    # Warm the uda_kv Python DataSource too: its first use per session
    # pays ~5s of worker/registration spin-up, which used to land inside
    # whichever kv_pyds_* query ran first and made TIMEALL numbers
    # self-inconsistent with steady-state measurements (VERDICT r10 #2).
    # The one-time cost is recorded separately instead of hidden.
    import tempfile

    from pyspark.sql import functions as _F

    from uda_spark.sources import pyds as _pyds

    _pyds.register(spark)
    _t0 = time.perf_counter()
    with tempfile.TemporaryDirectory() as _d:
        spark.range(2).select(
            _F.col("id").cast("string").cast("binary").alias("key"),
            _F.col("id").cast("string").cast("binary").alias("value"),
        ).write.format("uda_kv").mode("overwrite").save(_d + "/warm")
        spark.read.format("uda_kv").load(_d + "/warm").collect()
    kv_first_use = round(time.perf_counter() - _t0, 3)
    print(f"# uda_kv first-use warmup: {kv_first_use}s", file=sys.stderr)

    def calib() -> float:
        # bench.py's fixed single-thread probe: a probe 2x its ~0.8s
        # idle-host anchor explains a 2x-slower sweep without blaming
        # the queries (this host's external tenant load swings 1-3x).
        t0 = time.perf_counter()
        acc = 0
        for i in range(12_000_000):
            acc += i * i
        _ = acc
        return round(time.perf_counter() - t0, 3)

    out: dict = {
        "sf_dir": sf,
        "kv_first_use_sec": kv_first_use,
        "calib_before_sec": calib(),
        "sec": {},
    }
    for name, spec in specs.items():
        t0 = time.perf_counter()
        try:
            spec.fn(spark, sf).collect()
            out["sec"][name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # record, keep sweeping
            out["sec"][name] = None
            print(f"# FAIL {name}: {exc}", file=sys.stderr)
        release_persisted()
        print(f"# {name}: {out['sec'][name]}", file=sys.stderr)
    out["calib_after_sec"] = calib()
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "TIMEALL.json"
    )
    with open(path, "w") as fh:
        json.dump(out, fh)
        fh.write("\n")
    print(json.dumps({"n": len(out["sec"]), "sf_dir": sf}))
    spark.stop()


if __name__ == "__main__":
    main()
