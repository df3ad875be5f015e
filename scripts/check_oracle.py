#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir> [name ...]

For each query result parquet under <verifyOutDir>/<name>/, runs the
matching oracle SQL from oracle_sql.json in DuckDB (tables = parquet files
in <sfDir>), sorts columns by name and rows by all columns, and compares
cell values. Prints PASS/FAIL per query.

Both sides are read THROUGH ARROW (pq.read_table / fetch_arrow_table) so
type degradation the driver's hash would see is visible here too: e.g. a
DuckDB hugeint (un-cast sum of BIGINT) surfaces as Decimal in Arrow and
repr-differs from Spark's int64 — fetchall() would silently convert it to
a Python int and mask the mismatch.
"""
import sys, json, glob, math, time
import duckdb
import pyarrow.parquet as pq

def canon(rows):
    out = []
    for row in rows:
        vals = []
        for v in row:
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("NaN")
                else:
                    vals.append(repr(round(v, 9)))
            else:
                vals.append(repr(v))
        out.append(tuple(vals))
    out.sort()
    return out

def table_rows(tbl, cols):
    return zip(*[tbl.column(c).to_pylist() for c in cols]) if cols else []

def main(sf_dir, out_dir, only=()):
    import os
    con = duckdb.connect()
    # bound DuckDB so a runaway oracle raises OutOfMemoryException
    # (caught per-query below) instead of drawing the OS OOM killer,
    # which kills the WHOLE gate with no output (observed r12 on
    # adv_composite_match at sf0.1). Default = 60% of physical RAM so
    # smaller hosts stay inside the guard; GRAFT_ORACLE_MEMLIMIT
    # overrides (e.g. '24GB').
    memlimit = os.environ.get("GRAFT_ORACLE_MEMLIMIT")
    if not memlimit:
        pages = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        memlimit = f"{max(1, int(pages * 0.6) >> 30)}GB"
    con.execute(f"SET memory_limit='{memlimit}'")
    # escape hatch for known-infeasible oracles: skip by name via
    # GRAFT_ORACLE_SKIP=a,b. Since r14 the set is EMPTY — the last
    # exception (adv_composite_match's recursion OOMed DuckDB at sf0.1)
    # is gone: the prelude materializes the matching-block recursion as
    # an iterative worklist (g_cm_*), and the full sf0.1 gate runs with
    # zero skips
    skip = set(filter(None,
        os.environ.get("GRAFT_ORACLE_SKIP", "").split(",")))
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # Fast path (OraclePrelude): run the shared CREATE TEMP TABLE DDL
    # once, then prefer the substituted fast variant per oracle. The fast
    # SQL is derived by swapping each shared CTE chain for a
    # materialization of that exact chain text, so it is equivalent by
    # construction; GRAFT_ORACLE_SLOW=1 forces the self-contained SQL
    # (what the driver runs) for cross-checking.
    if os.environ.get("GRAFT_ORACLE_SLOW") != "1":
        try:
            prelude = json.load(open(f"{out_dir}/oracle_prelude.json"))
            fast = json.load(open(f"{out_dir}/oracle_sql_fast.json"))
        except OSError:
            prelude, fast = [], {}
        if fast and (not only or any(n in fast for n in only)):
            t0 = time.monotonic()
            for stmt in prelude:
                con.execute(stmt)
            print(f"== prelude: {len(prelude)} tables in "
                  f"{time.monotonic() - t0:.1f}s")
            oracle = {**oracle, **fast}
    n_pass = n_fail = 0
    unknown = [n for n in only if n not in oracle]
    if unknown:
        print(f"ERROR unknown query name(s): {', '.join(unknown)}")
        return 2
    names = [n for n in sorted(oracle) if not only or n in only]
    for n in [n for n in names if n in skip]:
        print(f"SKIP  {n} (GRAFT_ORACLE_SKIP policy)")
    names = [n for n in names if n not in skip]
    # per-oracle DuckDB wall seconds, dumped next to the results so
    # gen_query_docs.py can publish them (the full-catalog sf0.1 gate's
    # cost is dominated by a handful of generated-CTE oracles — measure,
    # don't guess which)
    times = {}
    # entries graft.Verify recorded as failed: name -> "error: message"
    try:
        with open(f"{out_dir}/verify_status.json") as f:
            failed = {e["name"]: f"{e['error']}: {e['message']}"
                      for e in json.load(f)["failed"]}
    except OSError:
        failed = {}
    for name in names:
        files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        if not files:
            reason = f" ({failed[name]})" if name in failed else ""
            print(f"MISSING {name}{reason}")
            n_fail += 1
            continue
        # read EVERY part file — a multi-part write must not silently
        # compare a subset
        got_tbl = pq.read_table(files)
        got_cols = sorted(got_tbl.column_names)
        got = canon(table_rows(got_tbl, got_cols))
        t0 = time.monotonic()
        try:
            exp_tbl = con.execute(oracle[name]).fetch_arrow_table()
        except Exception as e:
            print(f"FAIL  {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        finally:
            times[name] = round(time.monotonic() - t0, 3)
        exp_cols = sorted(exp_tbl.column_names)
        exp = canon(table_rows(exp_tbl, exp_cols))
        if exp_cols != got_cols:
            print(f"FAIL  {name}: columns {got_cols} vs oracle {exp_cols}")
            n_fail += 1
        elif exp != got:
            diff = next((i for i,(a,b) in enumerate(zip(exp,got)) if a!=b),
                        min(len(exp), len(got)))
            print(f"FAIL  {name}: rows {len(got)} vs {len(exp)}; first diff @")
            print(f"      got: {got[diff] if diff < len(got) else '<none>'}")
            print(f"      exp: {exp[diff] if diff < len(exp) else '<none>'}")
            n_fail += 1
        else:
            print(f"PASS  {name} ({len(got)} rows, {times[name]:.1f}s oracle)")
            n_pass += 1
    try:
        with open(f"{out_dir}/oracle_times.json", "w") as f:
            json.dump(times, f, indent=1, sort_keys=True)
    except OSError:
        pass
    print(f"== {n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], tuple(sys.argv[3:])))
