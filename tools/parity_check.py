"""Local mirror of the driver's correctness gate.

For every key in __spark_entry__.oracle_sql(): run the Spark query and
the DuckDB oracle at the given sf dir, sort columns by name and rows by
value, and compare exactly (the driver hashes values — so we compare the
stringified frames byte-for-byte, not approximately).

Usage: python tools/parity_check.py [--json OUT.json] [sf_dir] [only_query ...]
       python tools/parity_check.py --plans DIR [sf_dir] [only_query ...]

--json writes a per-query record {ok, rows, oracle, secs} for EVERY
registered query (the driver's CORRECTNESS record window rotates ~50
queries/round; this artifact is the full-surface parity proof the judge
asked for — PARITY_r{N}.json at the repo root).

--plans writes, instead of checking values, one DIR/<query>.txt per
registered query holding its canonical executedPlan: expression IDs
(``#12``), ``plan_id``, RDD ids, lambda-variable numbers and the
checkout's own path stripped, so two checkouts' outputs
differ only where the physical plans do. Three more files hold the
violations plan of a validation pass over a small synthetic clip table:
the default audio ruleset (what the runner's batch pass compiles), and
``rulesets/clips-strict.json`` with and without the chunked window path.
A refactor that claims "same behaviour" proves it with
``diff -r parent_plans/ change_plans/``.
"""

from __future__ import annotations

import re
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

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


_PLAN_IDS = [
    (re.compile(r"#\d+"), ""),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    # lambda variables are numbered from one session-wide counter
    (re.compile(r"(lambda [a-z]+)_\d+"), r"\1"),
]


def canonical_plan(df) -> str:
    """``df``'s executedPlan (before execution) with run-specific ids
    stripped."""
    text = df._jdf.queryExecution().executedPlan().toString()
    text = text.replace(str(ROOT), "<repo>")
    for pattern, repl in _PLAN_IDS:
        text = pattern.sub(repl, text)
    return text


def validation_plans(spark) -> dict:
    """Builders of the violations plan of a validation pass over a small
    synthetic clip table: the default audio ruleset and the strict
    ruleset file."""
    from use_case_real_time_anomaly_detection_spark.operators.config import (
        load_ruleset_document,
    )
    from use_case_real_time_anomaly_detection_spark.plans.clips import (
        default_rules,
        validate_clips,
    )
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        SynthSpec,
        frontier_of,
        generate_clips,
        generate_manifest,
    )

    spec = SynthSpec(partitions=2, clips_per_partition=40)
    clips = generate_clips(spark, spec)
    manifest = generate_manifest(spark, spec)
    strict_rules = load_ruleset_document(str(ROOT / "rulesets/clips-strict.json"))[0]
    runs = {
        "validate_default_audio": (default_rules(with_audio=True), None),
        "validate_strict": (strict_rules, None),
        "validate_strict_chunked": (strict_rules, 64),
    }
    return {
        name: lambda rules=rules, chunk=chunk: validate_clips(
            clips, manifest, frontier=frontier_of(spec), rules=rules,
            run_id="plans", window_chunk_size=chunk,
        ).violations
        for name, (rules, chunk) in runs.items()
    }


def write_plans(spark, sf_dir: str, only: set, out_dir: str) -> int:
    import __spark_entry__ as entrymod
    from use_case_real_time_anomaly_detection_spark.session import release_pinned

    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    frames = {
        name: (lambda fn=fn: fn(spark, sf_dir))
        for name, fn in entrymod.queries().items()
    }
    frames.update(validation_plans(spark))
    written, failures = 0, []
    for name, build in frames.items():
        if only and name not in only:
            continue
        try:
            (out / f"{name}.txt").write_text(canonical_plan(build()) + "\n")
            written += 1
        except Exception as exc:
            print(f"FAIL  {name:22s} {exc}")
            failures.append(name)
        release_pinned(spark)
    print(f"wrote {written} plans to {out}")
    return 1 if failures else 0


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    plans_dir = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    elif argv and argv[0] == "--plans":
        plans_dir = argv[1]
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
    if plans_dir is not None:
        return write_plans(spark, sf_dir, only, plans_dir)

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
