"""The benchmark's Python workers import the package from any cwd.

A session started the way `run.py` starts it, by a process whose cwd
is outside the checkout and whose PYTHONPATH does not name it, must
run a Python UDF that imports `hadron_spark` (q17's worker failed with
`ModuleNotFoundError` in exactly that launch before `run.prepare_env`
set the workers' path).

Run: python3 -m pytest perfbench/test_worker_path.py -q
"""

import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

_CHILD = r"""
import os, sys
sys.path.insert(0, sys.argv[1])
import run
run.prepare_env(os.path.join(os.getcwd(), "scratch"))
spark = run.start_session("worker_path_test")
try:
    def where(batches):
        import pandas as pd
        import hadron_spark
        for b in batches:
            yield pd.DataFrame({"path": [hadron_spark.__file__] * len(b)})
    rows = spark.range(4).mapInPandas(where, "path string").collect()
    print("WORKER", rows[0].path)
finally:
    run.stop_session(spark)
"""


def test_worker_imports_package_from_foreign_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "-c", _CHILD, HERE], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    line = [x for x in p.stdout.splitlines() if x.startswith("WORKER ")][0]
    assert line.split(" ", 1)[1].startswith(os.path.join(ROOT, "hadron_spark"))
