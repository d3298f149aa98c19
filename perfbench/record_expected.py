"""Record the expected result of every declared query on the benchmark
tables into ``perfbench/expected.json``.

    python3 perfbench/record_expected.py

Runs each query's DuckDB oracle and the Spark query on
``perfbench/data/sf0.01``, requires the two to match exactly
(``tests/oracle_check.compare_frames``) and to have the same digest,
and writes the oracle's row count and digest. Exits non-zero, writing
nothing, if any query disagrees with its oracle.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, ROOT)
    from bbdc20_submission_spark import registry
    from bbdc20_submission_spark.session import get_spark
    from perfbench import workloads
    from perfbench.run import shutdown
    from tests.oracle_check import compare_frames

    registry.load_all()
    names = sorted(registry.ORACLE)
    oracle = workloads.oracle_frames(workloads.DATA_DIR, names)
    spark = get_spark("perfbench-record")
    recorded, bad = {}, []
    try:
        for name in names:
            got = registry.QUERIES[name](spark, workloads.DATA_DIR).toPandas()
            try:
                compare_frames(got, oracle[name], name)
                want = workloads.frame_digest(oracle[name])
                assert workloads.frame_digest(got) == want, f"{name}: digest differs"
            except AssertionError as exc:
                bad.append(str(exc).splitlines()[0])
                continue
            recorded[name] = want
            print(name, want["rows"], flush=True)
    finally:
        shutdown(spark)
    if bad:
        print("\n".join(bad), file=sys.stderr)
        return 1
    with open(workloads.EXPECTED_JSON, "w") as fh:
        json.dump(
            {"tables": workloads.table_sizes(), "queries": recorded},
            fh, indent=1, sort_keys=True,
        )
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
