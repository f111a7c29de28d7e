"""Pre-drive the round driver's correctness gate: run the
alphabetically-first-50 registry queries against their DuckDB oracles
at sf0.01 under a DEFAULT SparkSession (the driver does not use the
engine's session factory), exactly the comparison CORRECTNESS_r{N}
records — so a would-be red row is caught before the round ends.

Usage: python tools/window_sweep.py [--sf-dir /root/testdata/sf0.01]
       [--names q_a,q_b]      # default: the 50-name window
       [--all]                # every registered query, not just 50
       [--json OUT.json]      # write {name: row} like CORRECTNESS_r{N}
Prints one line per query and a final FAILED list; exit 1 if any.

Each query is also a leak check: after the comparison the sweep calls
`registry.close()`, and a query fails if the session then holds a
persisted RDD, a directory under the temp dir or a session conf it
did not hold before the query (`leaks`). So `--all` is the 213-query leak
sweep as well. The views and the UTC session time zone that
`__spark_entry__.queries()` sets up before every query are set up once
before the first one.

The --all --json form is the per-round full-registry artifact
(SWEEP_r{N}.json): driver-grade evidence at sf0.01 for the ~150
names whose driver row predates the current window (VERDICT r11
task #5)."""

from __future__ import annotations

import argparse
import importlib.util
import os
import sys
import tempfile

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# q_coloc_join's bucketed tables live for the whole session on purpose
# (plans/relational.py), under this temp dir.
SESSION_DIRS = {"core_spark_bucketed"}


def session_state(spark) -> tuple[set, set, dict]:
    """What a query could leave in `spark`'s session: persisted RDD ids,
    directories under the temp dir, and the session conf. Files there
    are not counted: the JVM extracts a codec's native library (snappy)
    there on first use, and it lives as long as the JVM."""
    tmp = tempfile.gettempdir()
    return (
        set(spark.sparkContext._jsc.getPersistentRDDs().keys()),
        {e for e in os.listdir(tmp) if os.path.isdir(os.path.join(tmp, e))}
        - SESSION_DIRS,
        spark.conf.getAll,
    )


def leaks(before: tuple, after: tuple) -> list[str]:
    """What `after` holds that `before` did not, one phrase per kind."""
    rdds = after[0] - before[0]
    dirs = after[1] - before[1]
    conf = {
        k for k in before[2].keys() | after[2].keys()
        if before[2].get(k) != after[2].get(k)
    }
    out = []
    if rdds:
        out.append(f"{len(rdds)} persisted RDDs")
    if dirs:
        out.append(f"temp dirs {sorted(dirs)}")
    if conf:
        out.append(f"conf {sorted(conf)}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--names", default=None)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    entry = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "__spark_entry__.py"
    )
    spec = importlib.util.spec_from_file_location("__spark_entry__", entry)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    import duckdb
    from pyspark.sql import SparkSession

    from core_spark.io import register_views
    from core_spark.plans import registry

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )
    qs, osql = mod.queries(), mod.oracle_sql()
    if args.names:
        names = args.names.split(",")
    elif args.all:
        names = sorted(qs)
    else:
        names = sorted(qs)[:50]
    register_views(spark, args.sf_dir)
    bad = []
    rows: dict[str, dict] = {}
    for name in names:
        before = session_state(spark)
        try:
            sdf = qs[name](spark, args.sf_dir).toPandas()
            if name not in osql:
                print(f"{name}: rows={len(sdf)} (rows-only)")
                rows[name] = {
                    "rows_match": None, "schema_match": None,
                    "hash_match": None, "spark_rows": len(sdf),
                    "oracle_rows": None, "err": None,
                    "note": "rows-only (no oracle)",
                }
                continue
            odf = con.execute(osql[name]).df()
            cols = sorted(sdf.columns)
            schema_ok = cols == sorted(odf.columns)
            a = sdf[cols].astype(str).sort_values(cols).reset_index(drop=True)
            b = (
                odf[sorted(odf.columns)]
                .astype(str)
                .sort_values(sorted(odf.columns))
                .reset_index(drop=True)
            )
            rows_ok = len(a) == len(b)
            ok = schema_ok and rows_ok and a.equals(b)
            rows[name] = {
                "rows_match": rows_ok, "schema_match": schema_ok,
                "hash_match": ok, "spark_rows": len(a),
                "oracle_rows": len(b), "err": None,
            }
            print(f"{name}: rows={len(a)} match={ok}")
            if not ok:
                bad.append(name)
        except Exception as e:  # a crash IS a red row
            print(f"{name}: ERROR {type(e).__name__}: {str(e)[:200]}")
            rows[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None,
                "err": f"{type(e).__name__}: {str(e)[:200]}",
            }
            bad.append(name)
        finally:
            registry.close()
            left = leaks(before, session_state(spark))
            if left:
                print(f"{name}: LEFT {'; '.join(left)}")
                rows[name]["left"] = left
                if name not in bad:
                    bad.append(name)
    if args.json:
        import json

        with open(args.json, "w") as f:
            json.dump(rows, f, indent=1, sort_keys=True)
    print("FAILED:", bad)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
