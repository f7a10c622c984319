#!/usr/bin/env python3
"""Derives fingerprints.json: for each corpus under data/, take the DuckDB
oracle SQL its queries declare (SparkEntry.oracleSql, as graft.Verify
dumps it to oracle_sql.json), run it over the corpus, and record
(columns, row count, row-hash sum) of the oracle's result in the canonical
form perfbench.Fingerprint computes on the Spark side.

    python3 perfbench/tools/fingerprints.py        # from the checkout root

Needs the `duckdb` Python module. Run it once when a query's declared
semantics change; the benchmark never runs DuckDB.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import shutil
import struct
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import run  # noqa: E402  (the benchmark's build step)

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def cell(v):
    """Same canonical cell as perfbench.Fingerprint.cell."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else struct.pack(">d", v).hex()
    if isinstance(v, decimal.Decimal):
        return "0" if v == 0 else format(v.normalize(), "f")
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - EPOCH
        return str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return v.isoformat()
    raise TypeError(f"non-scalar result cell {type(v).__name__}")


def fingerprint(cols, rows):
    names = [c.lower() for c in cols]
    order = sorted(range(len(names)), key=lambda i: names[i])
    total = 0
    for r in rows:
        s = "\x1f".join(cell(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big", signed=True)
    return {"columns": ",".join(sorted(names)), "rows": len(rows),
            "sum": format(total % (1 << 64), "016x")}


# corpus -> the queries the workload runs over it (perfbench.Queries)
SCALES = {"sf0.001": ["q195_entities"],
          "sf0.01": ["q01_project",
                     "q02_dropna_any",
                     "q03_dropna_subset",
                     "q04_rename_bulk",
                     "q05_audit_stamp",
                     "q06_regex_cast",
                     "q07_regex_alt",
                     "q08_membership",
                     "q09_range_filter",
                     "q10_topk",
                     "q11_keeplast",
                     "q12_unnest_pos",
                     "q13_agg_q1",
                     "q14_join_agg",
                     "q15_join_multi",
                     "q16_semi_join",
                     "q17_anti_join",
                     "q18_union_distinct",
                     "q19_rollup",
                     "q20_window_running",
                     "q21_distinct_agg",
                     "q22_case_string",
                     "q23_time_bucket"]}


def main():
    import duckdb
    root = os.getcwd()
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = run.build(root, build_dir)
    out = {}
    for scale, names in SCALES.items():
        data = os.path.join(BENCH, "data", scale)
        dump = os.path.join(build_dir, "oracle", scale)
        shutil.rmtree(dump, ignore_errors=True)
        os.makedirs(dump)
        # graft.Verify runs the queries named in SPARK_GRAFT_ONLY and dumps
        # their oracle SQL
        cmd = ["java", "-Xmx3g"] + sum([["--add-opens", f"{p}=ALL-UNNAMED"]
                                        for p in run.ADD_OPENS], []) + [
            "-cp", cp, "graft.Verify", data, dump]
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, cwd=dump,
                       env=dict(os.environ, SPARK_GRAFT_ONLY=",".join(names)))
        oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
        missing = sorted(set(names) - set(oracle))
        if missing:
            sys.exit(f"no oracle SQL for {missing}")
        con = duckdb.connect()
        con.sql("SET TimeZone = 'UTC'")
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        fps = out.setdefault(scale, {})
        for q in sorted(oracle):
            rel = con.sql(oracle[q])
            fps[q] = fingerprint(rel.columns, rel.fetchall())
            print(f"{scale} {q}: {fps[q]}", file=sys.stderr)
    with open(os.path.join(BENCH, "fingerprints.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
