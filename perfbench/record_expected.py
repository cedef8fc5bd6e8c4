#!/usr/bin/env python3
"""Record the expected row count and value hash of every driver-mix query
into perfbench/driver_mix.json.

For a query with an oracle in SparkEntry.oracleSql, the expected values
come from DuckDB running that SQL over the bundled tables. For a query
without one, they come from this checkout's own output (a reference run
of the code being recorded). Each oracle query's Spark output is also
compared against DuckDB and any disagreement is printed.

Usage: python3 perfbench/record_expected.py   (from the checkout root)
"""
import json
import os
import shutil
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import canon  # noqa: E402
import run  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main():
    classes = build.build()
    mix = run.load_mix()
    names = [q["name"] for q in mix["queries"]]
    work = os.path.join(build.BUILD_DIR, "work", f"record-{os.getpid()}")
    os.makedirs(work)
    try:
        oracle_path = os.path.join(work, "oracle.json")
        base = {"workload": "driver-mix", "work": work, "data": run.DATA_DIR,
                "queries": ",".join(names), "heavy": ",".join(mix["heavy"]),
                "out": os.path.join(work, "result.json")}
        run.run_jvm(classes, dict(base, oracle=oracle_path), os.path.join(work, "oracle.log"))
        with open(oracle_path) as fh:
            oracle = json.load(fh)
        run.run_jvm(classes, dict(base, seconds="0", trace="0"), os.path.join(work, "jvm.log"))
        with open(base["out"]) as fh:
            calls = {c["name"]: c for c in json.load(fh)["calls"]}

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(run.DATA_DIR, t)}.parquet')")
        for q in mix["queries"]:
            name = q["name"]
            c = calls[name]
            spark = (c["rows"], c["hash"]) if c["ok"] else None
            if name in oracle:
                rows, digest = canon.duckdb_digest(con, oracle[name])
                q.update(rows=rows, hash=digest, source="duckdb")
                verdict = "ok" if spark == (rows, digest) else f"MISMATCH spark={spark}"
            else:
                if spark is None:
                    raise SystemExit(f"{name} failed and has no oracle: {c['error']}")
                q.update(rows=spark[0], hash=spark[1], source="reference")
                verdict = "reference"
            print(f"{name}: rows={q['rows']} hash={q['hash']} {verdict}")
        with open(run.MIX_FILE, "w") as fh:
            json.dump(mix, fh, indent=1)
            fh.write("\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
