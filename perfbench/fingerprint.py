"""Write `fingerprints.json`: row count and canonical digest of every
workload op that has no DuckDB oracle, on the benchmark's own tables.

Run from a checkout root after changing `gen_data.py` or one of these
ops on purpose: python3 perfbench/fingerprint.py
"""

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402


def main() -> int:
    scratch = os.path.join(run.STATE, "tmp", str(os.getpid()))
    run.prepare_env(scratch)
    from ops import FINGERPRINTS, REGISTRY, digest
    from hadron_spark.queries import ORACLES, QUERIES

    spark = run.start_session("perfbench_fingerprint")
    out = {}
    try:
        for ops, sf in REGISTRY.values():
            sf_dir = run.ensure_data(sf)
            for name in ops:
                if name not in ORACLES:
                    got = QUERIES[name](spark, sf_dir).toPandas()
                    out[f"{name}@sf{sf}"] = {"rows": len(got), "digest": digest(got)}
                    print(name, out[f"{name}@sf{sf}"])
    finally:
        run.stop_session(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    with open(FINGERPRINTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
