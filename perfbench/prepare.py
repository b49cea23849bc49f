"""One-time preparation for a code version: base tables, the crawl
pipeline's pristine state, and the DuckDB oracle results.

Everything lands under ``perfbench/.work/<source hash>/`` and is reused by
every later run of the same code; ``run.py`` starts this script in a child
process when the ``_PREPARED`` marker is missing, so the one-time cost never
lands inside a measured run's set-up time.

    python3 perfbench/prepare.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import crawl_ingest
import datagen
import tool_calls
from common import (
    BASE_SEED,
    BENCH_DIR,
    ROOT,
    SCALE,
    duck_connect,
    duck_rows,
    isolate_environment,
    norm_rows,
    paths,
    stop_spark,
)

KEEP_OTHER_VERSIONS = 1


def prune_state(p) -> None:
    """Remove a half-prepared earlier attempt of this code version and the
    state of every other version except the most recently used one
    (``run.py`` marks a version used by touching its directory), so an A/B
    of two versions in one checkout keeps both prepared while older
    versions do not pile up."""
    work = os.path.dirname(p.state)
    shutil.rmtree(p.state, ignore_errors=True)
    others = [os.path.join(work, d) for d in os.listdir(work)] if os.path.isdir(work) else []
    others.sort(key=os.path.getmtime, reverse=True)
    for old in others[KEEP_OTHER_VERSIONS:]:
        shutil.rmtree(old, ignore_errors=True)


def oracle_results(sf_dir: str, names) -> dict:
    from ai_powered_data_pipeline_assistant_spark.registry import all_oracles

    sql = all_oracles()
    con = duck_connect(sf_dir)
    out = {}
    for name in names:
        cols, rows = duck_rows(con, sql[name])
        out[name] = [sorted(cols), norm_rows(cols, rows)]
    con.close()
    return out


def main() -> int:
    sys.path.insert(1, ROOT)
    p = paths()
    prune_state(p)
    isolate_environment(p)
    datagen.generate(p.data, SCALE, BASE_SEED)
    with open(os.path.join(BENCH_DIR, "expected.json")) as fh:
        datagen.check_schemas(p.data, json.load(fh)["parquet_schemas"])
    oracles = oracle_results(p.data, tool_calls.ORACLE_NAMES)
    with open(p.oracles, "w") as fh:
        json.dump(oracles, fh)

    from ai_powered_data_pipeline_assistant_spark.session import get_spark

    spark = get_spark("perfbench-prepare")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        crawl_ingest.build_pristine(spark, p.data, p.crawl_pristine)
    finally:
        stop_spark(spark)
    with open(p.ready, "w") as fh:
        fh.write("")
    return 0


if __name__ == "__main__":
    sys.exit(main())
