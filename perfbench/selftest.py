#!/usr/bin/env python3
"""Self-tests of the benchmark, at a tiny size on ~/testdata/sf0.001.

    python3 perfbench/selftest.py

1. Every workload prints every metric BENCHMARK.json names, with its unit,
   traced and untraced, and the run record carries the named end-to-end
   metrics of its workload.
2. The same seed gives byte-identical generated inputs; another seed gives
   different ones.
3. A wrong expected value injected into each workload's check is counted in
   `failed` and in fail_rate.

Exits 0 when every check passes.
"""
import copy
import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run as bench  # noqa: E402

NAMED = {"qa_service": ("ask_p50_ms", "ask_p90_ms"),
         "qa_corpus": ("qa_tokens_per_s", "question_p50_s"),
         "catalog": ("catalog_s", "entry_p50_s", "entry_p95_s")}
COMMON = ("setup_s", "fail_rate", "peak_rss_mb")
failures = []


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        failures.append(what)


def tree_hash(d):
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(d):
        dirnames.sort()
        for f in sorted(filenames):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def inputs_are_seeded(workload):
    d, _ = bench.make_inputs(workload, 7, "tiny")
    first = tree_hash(d)
    d, _ = bench.make_inputs(workload, 7, "tiny")
    check(tree_hash(d) == first, f"{workload}: same seed, byte-identical inputs")
    d, _ = bench.make_inputs(workload, 8, "tiny")
    check(tree_hash(d) != first, f"{workload}: another seed, different inputs")


def metrics_printed(workload, spec):
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        record, line = bench.run(workload, 7, 1, trace, scale_name="tiny")
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v["unit"] for k, v in line["metrics"].items()}
        check(got == want, f"{workload} trace={trace}: metrics and units as declared")
        check(set(line) == {"correct", "attempted", "failed", "metrics"}
              and line["attempted"] >= 1, f"{workload} trace={trace}: result keys")
        check(line["failed"] == 0, f"{workload} trace={trace}: no failed operation "
              f"({[o for o in record['outcomes'] if o['outcome'] != 'ok'][:2]})")
        if trace == 0:
            e2e = record["end_to_end"]
            for name in COMMON + NAMED[workload]:
                check(name in e2e and e2e[name].get("unit"),
                      f"{workload}: record has {name} with its unit")


def injected_failure(workload):
    tag = f"{workload}-tiny-seed7-trace0"
    runs = os.path.join(bench.WORK, "runs")
    with open(os.path.join(runs, f"{tag}-result.json")) as f:
        ops = json.load(f)["ops"]
    with open(os.path.join(runs, f"{tag}-plan.json")) as f:
        spec = json.load(f)
    good, bad = copy.deepcopy(ops), copy.deepcopy(ops)
    if workload == "catalog":
        exp = bench.catalog_file()["expected"]["sf0.001"]
        bench.check_catalog(spec, good, exp)
        wrong = copy.deepcopy(exp)
        name = bad[0]["name"]
        wrong[name]["rows"] += 1
        bench.check_catalog(spec, bad, wrong)
    else:
        checker = bench.check_qa_service if workload == "qa_service" else \
            bench.check_qa_corpus
        checker(spec, good)
        real = bench.expect_mapreduce

        def off_by_one(*args):
            e = real(*args)
            return dict(e, chunks_before=e["chunks_before"] + 1,
                        chunks_after=e["chunks_after"] + 1)
        bench.expect_mapreduce = off_by_one
        try:
            checker(spec, bad)
        finally:
            bench.expect_mapreduce = real
    n_good = sum(o["outcome"] != "ok" for o in good)
    n_bad = sum(o["outcome"] != "ok" for o in bad)
    e2e = bench.end_to_end(workload, {"jvm": {"peak_rss_mb": 1}}, bad,
                           {"total_s": 0.0})
    check(n_good == 0 and n_bad >= 1 and e2e["fail_rate"]["value"] > 0,
          f"{workload}: injected wrong expected value counted "
          f"({n_bad}/{len(bad)} failed, fail_rate {e2e['fail_rate']['value']:.3f})")


def main():
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in bench.WORKLOADS:
        inputs_are_seeded(w)
        metrics_printed(w, spec)
        injected_failure(w)
    print(f"== {len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
