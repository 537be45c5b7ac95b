#!/usr/bin/env python
"""Capture `.explain("formatted")` output for declared queries.

Usage:  python scripts/plan_capture.py OUTDIR SUFFIX [name ...]

With no query names, every declared query is captured.

Env:
  PLAN_REPO   repo root whose __spark_entry__ to import (default: parent
              of this script) — point it at a `git archive` checkout of
              another commit to capture its "before" plans.
  SPARK_GRAFT_SF_DIR  data dir (default /root/testdata/sf0.1).

Writes OUTDIR/<name>_<SUFFIX>.txt per query.
"""

from __future__ import annotations

import os
import sys

REPO = os.environ.get(
    "PLAN_REPO",
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
)
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402

from nano_vectordb_rs_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    names = sys.argv[3:] or list(queries)
    for name in names:
        df = queries[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
