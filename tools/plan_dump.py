"""Dump .explain('formatted') output for named queries to
plans/<short-sha>/<query>_<tag>.txt, keyed by the commit the plans were
taken at (before/after evidence for a plan claim).

Usage:
    python tools/plan_dump.py <tag> <query> [query ...]
"""

from __future__ import annotations

import os
import subprocess
import sys

sys.path.insert(0, ".")

from distributed_graph_db_c_spark.registry import REGISTRY, _ensure_loaded
from distributed_graph_db_c_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sha = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"], capture_output=True, text=True, check=True
    ).stdout.strip()
    out_dir = f"plans/{sha}"
    _ensure_loaded()
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = REGISTRY[name].run(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        path = f"{out_dir}/{name}_{tag}.txt"
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
