"""Recompute `pinned.json`: the row count and order-insensitive result
hash of every benchmark query on the generated tables.

    python3 perfbench/pin.py

Run it only when a query's result is meant to change, and check the new
results against the DuckDB oracles first (`tools/oracle_check.py <dir>
<query>...` on a directory written by `datagen.write_tables`).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run as bench

SCALES = (0.01,)


def main() -> None:
    work = os.path.join(bench.ROOT, ".perfbench_work", f"pin-{os.getpid()}")
    bench.pin_environment(work)
    sys.path.insert(0, bench.ROOT)
    import datagen
    import workloads as wl
    from big_data_engineering_project_spark.caches import clear_all_owned_caches
    from big_data_engineering_project_spark.plans import REGISTRY
    from big_data_engineering_project_spark.session import get_spark

    spark = get_spark("perfbench-pin", shuffle_partitions=int(os.environ["SPARK_GRAFT_CPUS"]))
    pinned = {}
    try:
        for sf in SCALES:
            sf_dir = os.path.join(work, f"sf{sf}")
            datagen.write_tables(sf_dir, sf)
            pinned[f"sf{sf}"] = {}
            for name in wl.QUERIES:
                rows, digest = wl.result_hash(REGISTRY[name].builder(spark, sf_dir))
                pinned[f"sf{sf}"][name] = {"rows": rows, "hash": digest}
                clear_all_owned_caches()
                print(sf, name, rows, digest, flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    with open(wl.PINNED, "w") as fh:
        json.dump(pinned, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
