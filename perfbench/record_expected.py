"""Record the expected result of every benchmark query into expected.json.

    python3 perfbench/record_expected.py

Generates the benchmark tables, runs each query of ``run.BATCH_QUERIES``
and ``run.STREAM_QUERIES`` through its ``spark_fn``, and compares the rows
with the query's DuckDB oracle SQL on the same parquet files, exactly as
``tests/oracle_compare.py`` does.  Only a query whose Spark result equals
the oracle's is recorded (row count and content digest); any mismatch is
printed and the script exits non-zero without writing the file.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run  # sets sys.path to the checkout root


def main() -> int:
    from data_engineering_etl_demo_spark.plans import all_specs
    from tests.oracle_compare import duckdb_connection, rows_canonical

    work = os.path.join(run.OUT_DIR, f"record-{os.getpid()}")
    os.makedirs(work)
    try:
        run.isolate(work)
        data = run.input_dir(work)
        from datagen import write_tables

        write_tables(data, run.TABLE_SCALE)
        spark = run.set_up()[0]
        try:
            con = duckdb_connection(data)
            specs, out, bad = all_specs(), {}, []
            for name in sorted(set(run.BATCH_QUERIES) | set(run.STREAM_QUERIES)):
                df = specs[name].spark_fn(spark, data)
                rows = df.collect()
                res = con.execute(specs[name].oracle)
                cols = [d[0] for d in res.description]
                oracle = [tuple(r) for r in res.fetchall()]
                if sorted(cols) != sorted(df.columns) or rows_canonical(
                    df.columns, [tuple(r) for r in rows]
                ) != rows_canonical(cols, oracle):
                    bad.append(name)
                    print(f"oracle mismatch: {name}", file=sys.stderr)
                    continue
                out[name] = dict(rows=len(rows), digest=run.digest(df.columns, rows))
                print(name, out[name]["rows"], file=sys.stderr)
        finally:
            try:
                run.stop(spark)
            finally:
                run.remove_stream_staging(os.path.basename(data))
        if bad:
            return 1
        with open(os.path.join(run.HERE, "expected.json"), "w", encoding="utf-8") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
