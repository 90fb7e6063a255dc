"""Full-DAG acceptance: run the canonical migration DAG
(`plans/reference_dag.build_reference_dag`) end-to-end over the
V1-shaped fixtures, then hash every sink table (selfcheck protocol:
columns sorted by name, rows sorted, values canonicalized) and compare
against the committed golden hashes in ``tools/dag_golden.json``.

The golden values were validated row-by-row by the per-pipeline pytest
asserts (tests/test_registry_pipelines.py, tests/test_pipelines.py),
which pin the reference semantics (string cleaning, FK remaps, null
fills, gate behavior) against hand-derived expectations — this tool
folds that evidence into ONE machine-readable artifact per run.

    python tools/dag_acceptance.py                      # verify
    python tools/dag_acceptance.py --update             # re-pin goldens
    python tools/dag_acceptance.py --json DAG_ACCEPTANCE.json

Exit 0 only if the DAG ran clean AND every sink hash matches.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
GOLDEN_PATH = os.path.join(ROOT, "tools", "dag_golden.json")

BATCH_TS = dt.datetime(2026, 1, 1, 12, 0, 0)


def main() -> int:
    update = "--update" in sys.argv
    json_path = None
    if "--json" in sys.argv:
        json_path = sys.argv[sys.argv.index("--json") + 1]

    from data_migration_etl_scripts_spark import get_spark

    spark = get_spark(shuffle_partitions=8)
    tmp = tempfile.mkdtemp(prefix="dag_acceptance_")
    try:
        return accept(spark, tmp, update, json_path)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


def accept(spark, tmp: str, update: bool, json_path: str | None) -> int:
    """Build the fixtures in a catalog under ``tmp``, run the DAG there
    and check (or with ``update``, pin) every sink's hash."""
    from pyspark.sql import functions as F

    from data_migration_etl_scripts_spark.catalog import Catalog
    from data_migration_etl_scripts_spark.plans.reference_dag import (
        build_reference_dag,
    )
    from tests.v1fixtures import (
        build_v1_fixtures,
        build_v1_fixtures_dag_close,
        build_v1_fixtures_extra,
        build_v1_fixtures_inventory,
        build_v1_fixtures_registry,
    )
    from tools.selfcheck import table_hash

    cat = Catalog(spark, base_dir=tmp, scratch_dir=tmp)
    build_v1_fixtures(cat)
    build_v1_fixtures_extra(cat)
    build_v1_fixtures_registry(cat)
    build_v1_fixtures_inventory(cat)
    build_v1_fixtures_dag_close(cat)
    # same catalog adjustments as tests/test_pipelines.py::test_reference_dag_end_to_end
    cat.write(
        spark.createDataFrame(
            [(1, "Main", "Main Store", None, None)],
            "StoreID long, Name string, Type string, StoreLocationID long,"
            " LastUpdatedDate timestamp",
        ),
        "Stores",
    )
    clean_items = cat.read("Items").where(F.col("ItemID") != 5).collect()
    cat.write(
        spark.createDataFrame(clean_items, cat.read("Items").schema),
        "Items",
        mode="overwrite",
    )

    runner = build_reference_dag(cat)
    report = runner.run(batch_ts=BATCH_TS)

    sinks: dict[str, str] = {}  # sink table -> owning pipeline
    for name, p in runner._pipelines.items():
        sinks[p.sink_table] = name
        for extra_table, _fn in p.extra_sinks:
            sinks[extra_table] = name

    golden = {}
    if os.path.exists(GOLDEN_PATH) and not update:
        with open(GOLDEN_PATH) as f:
            golden = json.load(f)

    board: dict[str, dict] = {}
    bad = []
    for sink in sorted(sinks):
        pipeline = sinks[sink]
        rec = board[sink] = {"pipeline": pipeline, "rows": None, "hash": None,
                             "match": None}
        if not cat.exists(sink):
            rec["match"] = False
            bad.append(sink)
            print(f"FAIL  {sink} ({pipeline}): sink missing")
            continue
        df = cat.read(sink)
        cols = [c.lower() for c in df.columns]
        rows = [tuple(r) for r in df.collect()]
        h, n = table_hash(cols, rows)
        rec.update(rows=n, hash=h)
        if update:
            rec["match"] = True
            print(f"pin   {sink} ({pipeline}): {n} rows {h[:12]}")
        elif sink not in golden:
            # an unpinned sink must FAIL, not silently pass — otherwise a
            # new pipeline's output is never actually verified until
            # someone remembers to re-pin
            rec["match"] = False
            bad.append(sink)
            print(f"FAIL  {sink} ({pipeline}): no golden pin — run with --update")
        elif golden[sink]["hash"] == h and golden[sink]["rows"] == n:
            rec["match"] = True
            print(f"ok    {sink} ({pipeline}): {n} rows hash-match")
        else:
            rec["match"] = False
            bad.append(sink)
            print(
                f"FAIL  {sink} ({pipeline}): rows {n} vs {golden[sink]['rows']}, "
                f"hash {h[:12]} vs {golden[sink]['hash'][:12]}"
            )

    run_ok = report.ok
    print(
        f"\nDAG: {len(report.results)} pipelines ran, "
        f"{len(report.failures)} failed, {len(report.skipped)} skipped; "
        f"{len(board) - len(bad)}/{len(board)} sinks hash-ok"
    )
    if not run_ok:
        for f_ in report.failures:
            print(f"  pipeline FAIL {f_.name}: {f_.error}")

    if update:
        with open(GOLDEN_PATH, "w") as f:
            json.dump(
                {s: {"rows": r["rows"], "hash": r["hash"], "pipeline": r["pipeline"]}
                 for s, r in board.items()},
                f, indent=1, sort_keys=True,
            )
        print(f"goldens pinned: {GOLDEN_PATH}")
    if json_path:
        with open(json_path, "w") as f:
            json.dump(
                {"dag_ok": run_ok, "n_pipelines": len(report.results),
                 "failures": [f_.name for f_ in report.failures],
                 "skipped": report.skipped, "sinks": board},
                f, indent=1, sort_keys=True,
            )
        print(f"artifact: {json_path}")
    return 0 if run_ok and not bad else 1


if __name__ == "__main__":
    raise SystemExit(main())
