"""Pin the row count of every ``query_mix`` query into query_pins.json.

    python3 perfbench/pin_queries.py

Run it from the root of a checkout whose query results are trusted:
the benchmark counts a query as failed when its row count differs
from the pin.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run


def main() -> int:
    work = os.path.join(run.HERE, ".work", f"pin{os.getpid()}")
    run._env(work)
    import workloads

    from data_migration_etl_scripts_spark import get_spark

    spark = get_spark(app_name="perfbench_pin", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse")})
    mix = workloads.QueryMix()
    mix.spark, mix.data_dir = spark, os.path.join(work, "query_input")
    workloads.generate_query_tables(spark, mix.data_dir)
    pins = {name: mix.run_query(name, workloads.no_unit) for name in workloads.QUERIES}
    run._stop(spark)
    shutil.rmtree(work, ignore_errors=True)
    with open(workloads.PINS_PATH, "w") as fh:
        json.dump(pins, fh, indent=1)
        fh.write("\n")
    print(json.dumps(pins))
    return 0


if __name__ == "__main__":
    sys.exit(main())
