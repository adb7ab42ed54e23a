#!/usr/bin/env python3
"""Regenerate perfbench/expected/<workload>.json, the digests every
timed query's rows are checked against.

    python3 perfbench/tools/make_digests.py curation relational

Run from the root of a graft checkout. For each workload it runs the
harness once in `oracle` mode (which derives the workload's input and
records SparkEntry.oracleSql plus Spark's own digest of every query),
then runs each oracle in DuckDB on that same input and digests the
result with the normalizer of tools/local_verify.py. The DuckDB digest
is the expected one; a query with no oracle keeps Spark's digest as a
regression pin. A query where Spark and DuckDB disagree is listed under
"mismatches": its expected digest stays DuckDB's, so every timed run
reports it as failed.
"""
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import digest  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def duck_digests(data_dir, oracles):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    # {SFDIR} is the data-dir placeholder graft.Verify substitutes too
    return {name: digest.digest(con.execute(sql.replace("{SFDIR}", data_dir)).arrow())
            for name, sql in sorted(oracles.items())}


def main(workloads):
    run.check_checkout()
    bdir = run.build_dir()
    cp = run.build(bdir)
    for w in workloads:
        work = os.path.join(bdir, "runs", f"oracle-{w}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            args = type("A", (), {"workload": w, "seed": 1, "seconds": 0, "trace": 0})
            raw, log, err = run.run_harness(cp, args, work, time.time() + 900,
                                            mode="oracle")
            if raw is None:
                run.die(f"{w}: {err}; see {log}", 1)
            oracles = {n: q["oracle"] for n, q in raw["queries"].items() if q["oracle"]}
            duck = duck_digests(raw["data"], oracles)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        out, mismatches = {}, []
        for name, q in sorted(raw["queries"].items()):
            spark = q["spark"]
            if name in duck:
                sha, rows = duck[name]
                out[name] = {"sha": sha, "rows": rows, "source": "duckdb"}
                if sha != spark["sha"]:
                    mismatches.append({"query": name, "duckdb_rows": rows,
                                       "spark_rows": spark["rows"],
                                       "spark_sha": spark["sha"]})
            else:
                out[name] = {"sha": spark["sha"], "rows": spark["rows"], "source": "spark"}
        path = os.path.join(HERE, "expected", f"{w}.json")
        with open(path, "w") as fh:
            json.dump({"workload": w,
                       "regenerate": "python3 perfbench/tools/make_digests.py " + w,
                       "mismatches": mismatches, "queries": out}, fh, indent=1)
            fh.write("\n")
        print(f"{w}: {len(out)} digests, {len(duck)} from DuckDB, "
              f"{len(mismatches)} Spark/DuckDB mismatches -> {os.path.relpath(path)}")


if __name__ == "__main__":
    main(sys.argv[1:] or ["curation"])
