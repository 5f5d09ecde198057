"""Re-pin the expected results of the contract_cold queries.

    python3 perfbench/pin_contract.py

Runs each query once on perfbench/data/sf0.01 and writes its row count
and order-independent result digest, plus the input row count, to
perfbench/contract_expected.json. Re-pin only after a change that is
meant to alter a query's output, and check the new output against the
query's oracle (tools/check_oracles.py) first.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE)]

from perfbench import run  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    CONTRACT_EXPECTED, CONTRACT_QUERIES, CONTRACT_SF, CONTRACT_TABLES, result_digest,
)


def main() -> None:
    import __spark_entry__ as entry

    run_dir = os.path.join(run.WORK, "runs", f"pin-{os.getpid()}")
    spark = run.start_session(len(os.sched_getaffinity(0)), run_dir, trace=False)
    try:
        queries = entry.queries()
        out = {"input_rows": 0, "queries": {}}
        for t in CONTRACT_TABLES:
            path = os.path.join(CONTRACT_SF, f"{t}.parquet")
            out["input_rows"] += spark.read.parquet(path).count()
        for q in CONTRACT_QUERIES:
            rows = queries[q](spark, CONTRACT_SF).collect()
            out["queries"][q] = {"rows": len(rows), "digest": result_digest(rows)}
    finally:
        run.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(CONTRACT_EXPECTED, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
