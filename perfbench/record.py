#!/usr/bin/env python3
"""Record perfbench/expected.json: the row count and digest of every
registry query but the excluded ones, each result cross-checked against
the DuckDB oracle wherever the registry has oracle SQL
(SparkEntry.oracleSql).

    python3 perfbench/record.py            # run the registry, then check
    python3 perfbench/record.py --reuse    # check the last recording again

Takes about half an hour at 4 cores. Exits non-zero, and writes nothing,
if a query fails or disagrees with its oracle.
"""
import argparse
import json
import subprocess
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
REC = run.BUILD / "record"


def record_registry(cp, spec):
    REC.mkdir(parents=True, exist_ok=True)
    out = REC / "expected.jsonl"
    if out.exists():
        out.unlink()
    cmd = ["java"] + [a for p in run.ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={run.BUILD / 'tmp'}",
        f"-Dspark.local.dir={run.BUILD / 'tmp'}", "-cp", cp, "graftbench.Harness", "record",
        str(spec["cores"]), spec["data"], str(out), str(REC / "dump")]
    (run.BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    subprocess.run(cmd, cwd=run.ROOT, stdout=sys.stderr, check=True)


def oracle_check(con, name, sql):
    """check.py's comparison: columns sorted by name, same rows, same dtype
    kinds, equal values after sorting."""
    want = con.sql(sql).df()
    got = con.sql(f"SELECT * FROM '{REC / 'dump' / name}/*.parquet'").df()
    want, got = want[sorted(want.columns)], got[sorted(got.columns)]
    if list(want.columns) != list(got.columns):
        return f"columns differ: {list(want.columns)} vs {list(got.columns)}"
    if len(want) != len(got):
        return f"rows differ: oracle {len(want)}, graft {len(got)}"
    kind = lambda dt: "i" if dt.kind in "iu" else dt.kind
    for c in want.columns:
        if kind(want[c].dtype) != kind(got[c].dtype):
            return f"column {c}: dtype oracle {want[c].dtype}, graft {got[c].dtype}"
    ws = want.sort_values(by=list(want.columns), ignore_index=True)
    gs = got.sort_values(by=list(got.columns), ignore_index=True)
    for c in want.columns:
        neq = ~((ws[c] == gs[c]) | (ws[c].isna() & gs[c].isna()))
        if neq.any():
            return f"column {c}: {int(neq.sum())} values differ"
    return "pass"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--reuse", action="store_true", help="skip the registry run")
    a = ap.parse_args()
    spec = json.loads((run.HERE / "workloads.json").read_text())
    if not a.reuse:
        record_registry(run.build(), spec)
    excluded = set(spec["excluded"]["queries"])
    rows = [json.loads(l) for l in (REC / "expected.jsonl").read_text().splitlines()]
    oracles = json.loads((REC / "dump" / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{run.ROOT / spec['data'] / t}.parquet'")
    expected, problems = {}, []
    for r in rows:
        name = r["name"]
        if name in excluded:
            continue
        if "error" in r:
            problems.append(f"{name}: {r['error']}")
            continue
        verdict = oracle_check(con, name, oracles[name]) if name in oracles else "no oracle"
        if verdict not in ("pass", "no oracle"):
            problems.append(f"{name}: oracle {verdict}")
        expected[name] = {"rows": r["rows"], "digest": r["digest"], "oracle": verdict}
    n_pass = sum(1 for v in expected.values() if v["oracle"] == "pass")
    print(f"{len(expected)} queries recorded, {n_pass} match their DuckDB oracle, "
          f"{len(expected) - n_pass} have none, {len(problems)} problems")
    for p in problems:
        print("  " + p)
    if problems:
        return 1
    (run.HERE / "expected.json").write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
