"""Local mirror of the driver's correctness gate.

For every key in __spark_entry__.oracle_sql(): run the Spark query and
the DuckDB oracle at the given sf dir, sort columns by name and rows by
value, and compare exactly (the driver hashes values — so we compare the
stringified frames byte-for-byte, not approximately).

Usage: python tools/parity_check.py [--json OUT.json] [sf_dir] [only_query ...]

--json writes a per-query record {ok, rows, oracle, secs} for EVERY
registered query (the driver's CORRECTNESS record window rotates ~50
queries/round; this artifact is the full-surface parity proof the judge
asked for — PARITY_r{N}.json at the repo root).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize dtypes: everything to string via repr-stable conversion
    out = pd.DataFrame()
    for c in df.columns:
        s = df[c]
        if s.dtype.kind == "f":
            out[c] = s.round(9).map(lambda x: f"{x:.9g}" if pd.notna(x) else "NULL")
        elif s.dtype.kind in "iu":
            out[c] = s.map(lambda x: str(int(x)) if pd.notna(x) else "NULL")
        elif s.dtype.kind == "M":
            out[c] = s.astype("datetime64[us]").map(
                lambda x: x.isoformat() if pd.notna(x) else "NULL"
            )
        else:
            out[c] = s.map(lambda x: "NULL" if x is None or x is pd.NA else str(x))
    out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


def kind_mismatch(a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    """Columns whose numeric FAMILY differs (int vs float). The driver
    hashes raw values, so DuckDB HUGEINT→float64 (e.g. sum(int)) prints
    `3.0` against Spark's `3` and fails the hash even though the
    stringified normalize() above masks it. Flag it here."""
    fam = lambda k: {"i": "int", "u": "int", "f": "float"}.get(k)
    bad = []
    for c in set(a.columns) & set(b.columns):
        fa, fb = fam(a[c].dtype.kind), fam(b[c].dtype.kind)
        if fa != fb and (fa or fb):
            bad.append(f"{c}: spark={a[c].dtype} oracle={b[c].dtype}")
    return bad


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entrymod
    from use_case_real_time_anomaly_detection_spark.session import (
        get_spark,
        release_pinned,
    )

    spark = get_spark(
        "local[8]", extra_confs={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    record = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
            release_pinned(spark)  # drop this query's localCheckpoint blocks
        except Exception as exc:
            print(f"FAIL  {name:22s} spark error: {exc}")
            failures.append(name)
            record[name] = {"ok": False, "oracle": name in oracles,
                            "err": str(exc)[:200], "secs": round(time.time()-t0, 2)}
            continue
        if name not in oracles:
            print(f"rows  {name:22s} {len(sdf):6d} rows (rows-only check) "
                  f"[{time.time()-t0:5.1f}s]")
            record[name] = {"ok": True, "oracle": False, "rows": len(sdf),
                            "secs": round(time.time()-t0, 2)}
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as exc:
            print(f"FAIL  {name:22s} duckdb error: {exc}")
            failures.append(name)
            record[name] = {"ok": False, "oracle": True,
                            "err": str(exc)[:200], "secs": round(time.time()-t0, 2)}
            continue
        kinds = kind_mismatch(
            sdf.reindex(sorted(sdf.columns), axis=1),
            odf.reindex(sorted(odf.columns), axis=1),
        )
        a, b = normalize(sdf), normalize(odf)
        status = "ok  "
        detail = ""
        if kinds:
            status = "FAIL"
            detail = f"dtype family mismatch: {kinds}"
        elif list(a.columns) != list(b.columns):
            status = "FAIL"
            detail = f"cols spark={list(a.columns)} oracle={list(b.columns)}"
        elif len(a) != len(b):
            status = "FAIL"
            detail = f"rows spark={len(a)} oracle={len(b)}"
        elif not a.equals(b):
            status = "FAIL"
            neq = (a != b).any(axis=1)
            idx = neq[neq].index[:3]
            detail = "value mismatch, first rows:\n" + "\n".join(
                f"  spark : {a.loc[i].to_dict()}\n  oracle: {b.loc[i].to_dict()}"
                for i in idx
            )
        print(f"{status}  {name:22s} {len(a):6d} rows [{time.time()-t0:5.1f}s] {detail}")
        record[name] = {"ok": status != "FAIL", "oracle": True, "rows": len(a),
                        "secs": round(time.time()-t0, 2)}
        if status == "FAIL":
            failures.append(name)
            record[name]["err"] = detail[:200]

    if json_out:
        import json

        ok_n = sum(1 for r in record.values() if r["ok"])
        payload = {
            "sf_dir": sf_dir,
            "total": len(record),
            "ok": ok_n,
            "with_oracle": sum(1 for r in record.values() if r["oracle"]),
            "queries": record,
        }
        with open(json_out, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
        print(f"wrote {json_out}: {ok_n}/{len(record)} ok")

    print()
    if failures:
        print("FAILURES:", failures)
        return 1
    print("ALL PARITY CHECKS PASSED")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
