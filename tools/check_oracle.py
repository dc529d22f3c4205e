"""Local replica of the driver's correctness gate: run each queries()[name]
on Spark and oracle_sql()[name] on DuckDB over the same sf dir; compare
row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from doc_agent_spark.session import get_spark
from doc_agent_spark.sources.tables import TABLES


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, bool):
        return bool(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def rows_canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(canon(r[i]) for i in order) for r in rows), key=repr
    )


# The driver hashes *typed* results, so value equality alone is not enough:
# DuckDB sum(int) -> HUGEINT while Spark sum -> BIGINT hashes differently even
# when every value is equal (round-1 events_sessions lesson). Map both engines'
# types to one canonical vocabulary and require exact agreement.
_TYPE_ALIASES = {
    "varchar": "string", "char": "string", "text": "string",
    "integer": "int", "int32": "int", "int4": "int",
    "bigint": "long", "int64": "long", "int8": "long",
    "hugeint": "int128", "uhugeint": "uint128",
    "smallint": "short", "int16": "short", "int2": "short",
    "tinyint": "byte", "utinyint": "ubyte",
    "double precision": "double", "float8": "double",
    "real": "float", "float4": "float", "float": "float",
    "boolean": "bool",
    "timestamp_ntz": "timestamp", "timestamp without time zone": "timestamp",
    "timestamp with time zone": "timestamptz",
    "blob": "binary", "bytea": "binary", "varbinary": "binary",
}


def canon_type(t):
    s = str(t).strip().lower()
    # recurse into array/list element types
    if s.startswith("array<") and s.endswith(">"):
        return f"array<{canon_type(s[6:-1])}>"
    if s.endswith("[]"):
        return f"array<{canon_type(s[:-2])}>"
    if s.startswith("decimal"):
        return s.replace(" ", "")
    return _TYPE_ALIASES.get(s, s)


def type_map(names, types):
    return {n: canon_type(t) for n, t in zip(names, types)}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    spark = get_spark(app="oracle-check", master=f"local[{cpus}]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    failures, checked, counts = [], 0, {}
    detail = {}   # name -> honest per-stage record for $ORACLE_JSON
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            counts[name] = len(srows)
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            detail[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "spark_rows": None,
                            "oracle_rows": None, "err": f"SPARK ERROR: {e}"[:500]}
            print(f"FAIL {name}: spark error {str(e)[:300]}")
            continue
        if name not in os_:
            detail[name] = {"rows_match": True, "schema_match": None,
                            "hash_match": None, "spark_rows": len(srows),
                            "oracle_rows": None, "err": None,
                            "note": "no_oracle: rows-only check"}
            print(f"PASS(rows-only) {name}: {len(srows)} rows")
            continue
        try:
            rel = con.sql(os_[name])
            dcols = list(rel.columns)
            dtypes = [str(t) for t in rel.types]
            drows = rel.fetchall()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            detail[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "spark_rows": len(srows),
                            "oracle_rows": None, "err": f"DUCKDB ERROR: {e}"[:500]}
            print(f"FAIL {name}: duckdb error {str(e)[:300]}")
            continue
        rec = {"rows_match": len(srows) == len(drows),
               "schema_match": True, "hash_match": False,
               "spark_rows": len(srows), "oracle_rows": len(drows),
               "err": None}
        detail[name] = rec
        if sorted(scols) != sorted(dcols):
            rec["schema_match"] = False
            rec["err"] = f"cols spark={sorted(scols)} duck={sorted(dcols)}"
            failures.append((name, rec["err"]))
            print(f"FAIL {name}: column mismatch spark={sorted(scols)} duck={sorted(dcols)}")
            continue
        stypes = type_map(scols, [f.dataType.simpleString() for f in sdf.schema.fields])
        dtmap = type_map(dcols, dtypes)
        badt = {c: (stypes[c], dtmap[c]) for c in scols if stypes[c] != dtmap[c]}
        if badt:
            rec["schema_match"] = False
            rec["err"] = f"type mismatch {badt}"
            failures.append((name, rec["err"]))
            print(f"FAIL {name}: type mismatch {badt}")
            continue
        if len(srows) != len(drows):
            rec["err"] = f"rowcount spark={len(srows)} duck={len(drows)}"
            failures.append((name, rec["err"]))
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            continue
        a = rows_canon(scols, srows)
        b = rows_canon(dcols, drows)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            rec["err"] = f"values differ, first diffs: {str(diff)[:400]}"
            failures.append((name, rec["err"]))
            print(f"FAIL {name}: values differ; first diffs: {str(diff)[:500]}")
        else:
            rec["hash_match"] = True   # order-insensitive typed-value equality
            print(f"PASS {name}: {len(srows)} rows")
    print(f"\n{checked - len(failures)}/{checked} checked queries pass"
          f" ({len(qs)} registered)")
    # $ORACLE_JSON=<path>: emit a driver-style CORRECTNESS artifact
    # (used for the committed sf1.0 scale-proof record, BASELINE.md §7)
    # (hash_match here = order-insensitive typed-value equality — this
    # harness's value check; stage fields reflect what was actually run)
    art_path = os.environ.get("ORACLE_JSON")
    if art_path:
        import json

        with open(art_path, "w") as fh:
            json.dump(detail, fh, indent=1)
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
