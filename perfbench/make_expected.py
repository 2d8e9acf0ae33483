#!/usr/bin/env python3
"""Stores the expected output fingerprints of a scale's queries.

Usage (from the repository root):
  python3 perfbench/make_expected.py <sf0.01|sf0.1|scale10>

Runs the harness's check pass over the scale's queries (the whole registry
at sf0.01; the queries of the workloads that run at sf0.1 or on the 10x
replica), evaluates each query's DuckDB oracle SQL (`SparkEntry.oracleSql`)
over the same generated tables, and writes perfbench/expected/<scale>.json.
The expected fingerprint is the oracle's. A query without oracle SQL, or
whose oracle exceeds ORACLE_SECONDS or ORACLE_TEMP of DuckDB spill, takes
its fingerprint from the engine's output. A query whose output disagrees
with its oracle is recorded under `known_defects` with the first differing
rows; it stays in its workload and fails there until the engine is fixed.
"""
import json
import os
import sys

import threading

import duckdb

sys.dont_write_bytecode = True
import run  # noqa: E402
import fingerprints  # noqa: E402
from check_oracle import TABLES  # noqa: E402

# An oracle that needs more than this is skipped; its query then takes the
# engine's output as the expected fingerprint, with a note saying why.
ORACLE_SECONDS = 300
ORACLE_TEMP = "4GB"


def queries_for(scale, registry):
    if scale == "sf0.01":
        return sorted(registry)
    names = [n for n, w in run.WORKLOADS.items() if w["scale"] == scale]
    ids = sorted({q for n in names for q in run.WORKLOADS[n]["queries"]})
    return run.resolve(ids, registry)


def main(scale):
    run.check_sources()
    cp, registry = run.build()
    data, _ = run.ensure_data(scale)
    queries = queries_for(scale, registry)
    work = os.path.join(run.WORK, "expected", scale)
    check_dir = os.path.join(work, "check")
    os.makedirs(work, exist_ok=True)
    run.java(cp, ["--oracle-only", work], "2g", timeout=120,
             main="graft.Verify")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    xmx = max((w["xmx"] for w in run.WORKLOADS.values()
               if w["scale"] == scale), key=lambda x: int(x[:-1]))
    run.java(cp, [
        "--data", data, "--queries", ",".join(queries),
        "--hot", "1", "--sink", "noop", "--cores", "4", "--seconds", "0",
        "--max-seconds", "0", "--min-samples", "0",
        "--trace", "0", "--check-dir", check_dir,
        "--loop-dir", os.path.join(work, "loop"),
        "--out", os.path.join(work, "records.jsonl")], xmx,
        timeout=3600, log_file=os.path.join(work, "jvm.log"))
    with open(os.path.join(work, "records.jsonl")) as f:
        checks = {r["query"]: r for r in map(json.loads, f)
                  if r["kind"] == "check"}
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{work}/duckdb.tmp'")
    con.execute(f"SET max_temp_directory_size = '{ORACLE_TEMP}'")
    for t in TABLES:
        p = f"{data}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    expected, defects, unchecked = {}, {}, {}
    for q in queries:
        out = os.path.join(check_dir, q)
        c = checks[q]
        if not c["ok"]:
            defects[q] = {"error": c["error"]}
        got = fingerprints.of_spark_output(out) if c["ok"] else None
        want = None
        if q in oracle:
            timer = threading.Timer(ORACLE_SECONDS, con.interrupt)
            timer.start()
            try:
                want = fingerprints.of_duckdb(con, oracle[q])
            except (duckdb.IOException, duckdb.InterruptException,
                    duckdb.OutOfMemoryException) as e:
                unchecked[q] = f"oracle not evaluated: {e}".splitlines()[0]
            finally:
                timer.cancel()
        if want is not None:
            expected[q] = dict(want, source="duckdb-oracle")
            if got is not None and got != want:
                defects[q] = {
                    "spark": got, "oracle": want,
                    "first_differences": fingerprints.first_difference(
                        out, con, oracle[q])}
        elif got is not None:
            expected[q] = dict(got, source="engine-output")
            if q in unchecked:
                expected[q]["note"] = unchecked[q]
        if q in defects and q in unchecked:
            defects[q]["oracle_note"] = unchecked[q]
        print(f"{q}: {'DEFECT' if q in defects else 'ok'}", flush=True)
    path = os.path.join(run.HERE, "expected", f"{scale}.json")
    run.write(path, json.dumps({
        "scale": scale,
        "generator": "perfbench/gen_data.py" + (
            " + tools/make_bench_scale.py x10" if scale == "scale10" else ""),
        "queries": expected, "known_defects": defects}, indent=1,
        sort_keys=True) + "\n")
    print(f"{len(expected)} expected fingerprints, {len(defects)} known "
          f"defects -> {os.path.relpath(path, run.ROOT)}")


if __name__ == "__main__":
    if len(sys.argv) != 2 or sys.argv[1] not in ("sf0.01", "sf0.1", "scale10"):
        sys.exit(__doc__)
    main(sys.argv[1])
