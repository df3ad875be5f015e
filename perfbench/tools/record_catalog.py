#!/usr/bin/env python3
"""Records the catalog workload's expected values.

    python3 perfbench/tools/record_catalog.py <sf> [entry ...]

Runs the listed catalog entries (all of SparkEntry.queries when none are
given) once on ~/testdata/<sf> with the benchmark's summary action, writes
each full result as parquet, and compares every result with its DuckDB
oracle the way scripts/check_oracle.py does (columns by name, rows sorted,
floats rounded to 9 places). Prints one JSON object per entry: row count
and digest from the engine, the DuckDB row count, the oracle verdict and the
summary action's time. perfbench/catalog.json stores the expected values
of entries whose result matched the oracle.
"""
import json
import math
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run as bench  # noqa: E402


def canon(tbl, cols):
    rows = zip(*[tbl.column(c).to_pylist() for c in cols]) if cols else []
    out = []
    for row in rows:
        out.append(tuple("NaN" if isinstance(v, float) and math.isnan(v)
                         else repr(round(v, 9)) if isinstance(v, float) else repr(v)
                         for v in row))
    out.sort()
    return out


def oracle_check(sf_dir, result_dir, names):
    """Runs each entry's self-contained oracle SQL in DuckDB and compares
    it with the engine's result."""
    import duckdb
    import pyarrow.parquet as pq
    import glob
    con = duckdb.connect()
    con.execute("SET memory_limit='4GB'")
    con.execute("SET threads=2")
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(os.path.join(result_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    verdicts = {}
    for n in names:
        if n not in oracle:
            verdicts[n] = dict(oracle="no oracle SQL")
            continue
        got_tbl = pq.read_table(sorted(glob.glob(f"{result_dir}/{n}/*.parquet")))
        try:
            exp_tbl = con.execute(oracle[n]).fetch_arrow_table()
        except Exception as e:  # an oracle that cannot run is a recorded verdict
            verdicts[n] = dict(oracle=f"oracle error: {e}"[:300])
            continue
        gc, ec = sorted(got_tbl.column_names), sorted(exp_tbl.column_names)
        same = gc == ec and canon(got_tbl, gc) == canon(exp_tbl, ec)
        verdicts[n] = dict(oracle="match" if same else "mismatch",
                           oracle_rows=exp_tbl.num_rows)
    return verdicts


def main(argv):
    sf, names = argv[0], argv[1:]
    cp = bench.build(time.time() + 840)
    d = os.path.join(bench.WORK, "record", sf)
    os.makedirs(d, exist_ok=True)
    plan = dict(workload="record", entries=names or None, sf_dir=os.path.join(bench.DATA, sf),
                warm_sf_dir=os.path.join(bench.DATA, "sf0.001"),
                result_dir=os.path.join(d, "results"), cpus=bench.host_record()["nproc"],
                seconds=0, trace=0)
    if not names:
        plan["entries"] = json.loads(subprocess.run(
            ["java", "-cp", cp, "perfbench.ListEntries"], capture_output=True, text=True,
            check=True).stdout)
    with open(os.path.join(d, "plan.json"), "w") as f:
        json.dump(plan, f)
    flags = [f"-Xmx{bench.heap_gb(bench.host_record()['mem_total_kb'])}g",
             "-XX:+UseG1GC", f"-Djava.io.tmpdir={os.path.join(bench.WORK, 'tmp')}"]
    flags += [x for p in bench.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    with open(os.path.join(d, "jvm.log"), "w") as log:
        subprocess.run(["java", *flags, "-cp", cp, "perfbench.Main",
                        os.path.join(d, "plan.json"), os.path.join(d, "result.json")],
                       stdout=log, stderr=subprocess.STDOUT, check=True)
    with open(os.path.join(d, "result.json")) as f:
        res = json.load(f)
    ops = {o["name"]: o for o in res["ops"]}
    verdicts = oracle_check(plan["sf_dir"], plan["result_dir"],
                            [n for n, o in ops.items() if o["outcome"] == "ok"])
    out = {}
    for n, o in sorted(ops.items()):
        e = dict(summary_ms=o.get("summary_ms"), outcome=o["outcome"])
        if o["outcome"] == "ok":
            e.update(rows=o["rows"], digest=o["digest"], **verdicts[n])
        else:
            e.update(error=o.get("error_class"), message=o.get("message"))
        out[n] = e
    json.dump(out, sys.stdout, indent=1, sort_keys=True)
    print()


if __name__ == "__main__":
    main(sys.argv[1:])
