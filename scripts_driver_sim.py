"""Fresh-process driver simulation: run registered queries AND their
DuckDB oracles at one SF, compare like the driver's correctness gate
(rows + schema + value hash), print failures and a summary line, and
exit 1 on any failure.

    SF_DIR=<tables dir> [ONLY=q1,q2] python scripts_driver_sim.py

SF_DIR overrides the tables (default sf0.01); ONLY replays just the
named queries instead of the whole registry.  The session comes from
``session.get_spark`` with bench.py's 8 shuffle partitions, so a replay
runs the engine configuration the bench measures."""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "tests"))

from data_engineering_etl_demo_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
ONLY = [s for s in os.environ.get("ONLY", "").split(",") if s]

spark = get_spark(app_name="driver-sim", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")

from data_engineering_etl_demo_spark.plans import all_specs  # noqa: E402
from tests.oracle_compare import compare_query, duckdb_connection  # noqa: E402

specs = all_specs()
names = ONLY or list(specs)
con = duckdb_connection(SF)
t0 = time.time()
ok_n = 0
fails = []
for i, name in enumerate(names, 1):
    try:
        ok, msg = compare_query(spark, con, specs[name], SF)
    except Exception as e:  # noqa: BLE001
        ok, msg = False, f"EXC {type(e).__name__}: {e}"
    if ok:
        ok_n += 1
    else:
        fails.append((name, msg))
        print(f"FAIL {name}: {msg}", flush=True)
    if i % 25 == 0:
        print(f"  ... {i}/{len(names)} ({ok_n} ok, {time.time()-t0:.0f}s)",
              flush=True)
print(f"RESULT {ok_n}/{len(names)} green at {SF} in {time.time()-t0:.0f}s")
for n, m in fails:
    print("  failed:", n, m)
spark.stop()
sys.exit(0 if not fails else 1)
