#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload <qa_service|qa_corpus|catalog>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from the checked-out sources (once per
source fingerprint, under .bench_build/), generates the workload's inputs
from the seed, runs the harness JVM, checks every operation's output
against values computed independently of the engine, and prints two JSON
lines: the full run record (every metric with its unit, each operation's
outcome, the host and session record), then the one-line result
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 they are the per-layer ones.

Everything the benchmark writes goes under .bench_build/perfbench/.
The test data frames are read from ~/testdata/sf0.1 and ~/testdata/sf0.001.
"""
import argparse
import bisect
import decimal
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.expanduser(os.path.join("~", "testdata"))
WORKLOADS = ("qa_service", "qa_corpus", "catalog")

# The engine's token rule as the DuckDB oracles spell it (RE2 syntax).
TOKEN_RE = r"\p{L}{1,8}|\p{N}{1,3}|[^\p{L}\p{N}\t\n\x0B\f\r ]"
NO_ANSWER = "No answer found in document"
FORMATS = ("json", "plain_text", "hybrid")
# Words outside the generated filings' vocabulary, so questions vary in
# how many of their tokens a chunk can match.
FILLER = ("revenue", "margin", "quarter", "guidance", "dividend", "liquidity",
          "segment", "outlook", "covenant", "impairment", "accrual", "hedging")
TEMPLATES = ("What does the filing report on {}?",
             "Summarize {} for the period.",
             "Which {} changed, and why?",
             "How are {} presented in the notes?")

# Sizes per scale: the benchmark's own, and a tiny one for the self-test.
SCALES = {
    "full": dict(sf="sf0.1", warm_sf="sf0.001", service_files=24,
                 service_parts=(6, 60), service_warmup=40, corpus_docs=120,
                 corpus_parts=(40, 110), planned_ops=2000),
    "tiny": dict(sf="sf0.001", warm_sf="sf0.001", service_files=4,
                 service_parts=(2, 6), service_warmup=8, corpus_docs=6,
                 corpus_parts=(2, 8), planned_ops=200),
}
CATALOG_PASSES = 2
# The run's inputs and harness JVM may take --seconds plus this long: input
# generation, JVM and session start, the workload's set-up, catalog passes
# that outlast --seconds, the record.
HARNESS_SETUP_ALLOWANCE_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# The result line's end-to-end metrics; the record carries more.
END_TO_END_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "op_p75_ms": "ms",
                    "ops_per_s": "1/s"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _fingerprint_files():
    tops = [os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "harness", "build.sbt"),
            os.path.join(HERE, "harness", "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"),
              os.path.join(HERE, "harness", "src")):
        for dirpath, dirnames, filenames in os.walk(d):
            dirnames.sort()
            tops.extend(os.path.join(dirpath, f) for f in sorted(filenames))
    return tops


def source_fingerprint():
    h = hashlib.sha256()
    for p in _fingerprint_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def require_sources():
    missing = [p for p in (os.path.join(ROOT, "build.sbt"),
                           os.path.join(ROOT, "src", "main", "scala", "graft"),
                           os.path.join(HERE, "harness", "build.sbt"))
               if not os.path.exists(p)]
    if missing:
        raise SystemExit(f"perfbench: engine sources not found: {missing}")


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "").split()
    if "-Dsbt.offline=true" not in opts:
        opts.append("-Dsbt.offline=true")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos) and not any(o.startswith("-Dsbt.repository.config") for o in opts):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(deadline):
    """Compiles engine + harness when the sources changed; returns the
    runtime classpath."""
    fp = source_fingerprint()
    stamp = os.path.join(WORK, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            prev = json.load(f)
        if prev.get("fingerprint") == fp and all(
                os.path.exists(p) for p in prev["classpath"].split(os.pathsep)):
            return prev["classpath"]
    log("building engine and harness (sbt)")
    os.makedirs(WORK, exist_ok=True)
    # sbt's global base goes under .bench_build too, so the build writes
    # only inside the checkout (the launcher and the dependency caches it
    # reads stay where sbt keeps them)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(WORK, 'sbt-global')}",
           "compile", "export harness/Runtime/fullClasspath"]
    proc = subprocess.run(cmd, cwd=os.path.join(HERE, "harness"), env=sbt_env(),
                          stdin=subprocess.DEVNULL, capture_output=True, text=True,
                          timeout=max(60, deadline - time.time()))
    with open(os.path.join(WORK, "build.log"), "w") as f:
        f.write(proc.stdout + proc.stderr)
    lines = [ln.strip() for ln in proc.stdout.splitlines() if ln.strip()]
    cp = lines[-1] if lines else ""
    if proc.returncode != 0 or "perfbench" not in cp or ".jar" not in cp:
        raise SystemExit(f"perfbench: build failed (see {WORK}/build.log)")
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


# ---------------------------------------------------------------- inputs

def source_texts(sf):
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(DATA, sf, "documents.parquet"),
                      columns=["doc_id", "text"]).to_pydict()
    return [x for _, x in sorted(zip(t["doc_id"], t["text"]))]


def filing(rng, texts, n, title):
    body = "\n\n".join(f"## Section {j + 1}\n\n{rng.choice(texts).strip()}"
                       for j in range(n))
    return f"# {title}\n\n{body}\n"


def question(rng, vocab):
    words = rng.sample(vocab, rng.randint(2, min(9, len(vocab))))
    words += rng.sample(FILLER, rng.randint(1, 3))
    rng.shuffle(words)
    return rng.choice(TEMPLATES).format(", ".join(words[:-1]) + " and " + words[-1])


def cycler(rng, values):
    """Draws values in seeded permutations, each value once per round, so
    every seed gets the same mix."""
    pool = []

    def draw():
        if not pool:
            pool.extend(rng.sample(values, len(values)))
        return pool.pop()
    return draw


def ladder(lo, hi, n):
    """n sizes spread evenly over [lo, hi]."""
    return [lo + round(k * (hi - lo) / max(1, n - 1)) for k in range(n)]


def vocabulary(texts):
    return sorted({w for t in texts for w in t.split() if w.isascii() and w.isalpha()})


def gen_qa_service(seed, scale, d):
    rng = random.Random(seed)
    texts = source_texts(scale["sf"])
    vocab = vocabulary(texts)
    # filing sizes are a fixed ladder, so seeds change the texts, not the load
    files = []
    sizes = ladder(*scale["service_parts"], scale["service_files"])
    for i, n in enumerate(rng.sample(sizes, len(sizes))):
        name = f"filing_{i:03d}.md"
        with open(os.path.join(d, name), "w", encoding="utf-8") as f:
            f.write(filing(rng, texts, n, f"Filing {i}"))
        files.append(name)
    # Each block of four asks holds three mapreduce asks and one truncation
    # ask, and two asks that repeat an earlier (question, format, chunk size)
    # key (so the engine cache hits) next to two that bring a new key. Files,
    # formats and chunk sizes are drawn in rounds that use each value once.
    # The first asks of the stream are the untimed warm-up.
    next_file, next_format = cycler(rng, files), cycler(rng, FORMATS)
    next_size = cycler(rng, (64, 128, 256, 512))
    keys, seen, asks = [], set(), []
    warm = scale["service_warmup"]
    for b in range(0, warm + scale["planned_ops"], 4):
        pipelines = ["mapreduce"] * 3 + ["truncation"]
        repeats = [True, True, False, False]
        rng.shuffle(pipelines)
        rng.shuffle(repeats)
        for i, pipeline, repeat in zip(range(b, b + 4), pipelines, repeats):
            if keys and repeat:
                key = rng.choice(keys)
            else:
                while True:
                    key = (question(rng, vocab), next_format(), next_size())
                    if key not in seen:
                        break
                seen.add(key)
                keys.append(key)
            q, fmt, size = key
            asks.append(dict(id=f"warm{i:04d}" if i < warm else f"ask{i - warm:04d}",
                             file=next_file(), question=q,
                             format=fmt, chunk_size=size, overlap=size // 4,
                             pipeline=pipeline))
    return dict(files_dir=d, files=files, asks=asks[warm:], warmup=asks[:warm])


def write_corpus(path, docs):
    import pyarrow as pa
    import pyarrow.parquet as pq
    t = pa.table({"doc_id": pa.array([i for i, _ in docs], pa.int64()),
                  "text": pa.array([x for _, x in docs], pa.string())})
    pq.write_table(t, path, compression="snappy")


def gen_qa_corpus(seed, scale, d):
    rng = random.Random(seed)
    texts = source_texts(scale["sf"])
    vocab = vocabulary(texts)
    docs = [(i, filing(rng, texts, rng.randint(*scale["corpus_parts"]), f"Filing {i}"))
            for i in range(scale["corpus_docs"])]
    write_corpus(os.path.join(d, "corpus.parquet"), docs)
    write_corpus(os.path.join(d, "warm.parquet"), docs[:4])

    def spec(i, prefix, pipeline, size):
        return dict(id=f"{prefix}{i:04d}", question=question(rng, vocab),
                    format=rng.choice(FORMATS), chunk_size=size,
                    overlap=rng.choice((0, size // 8)), pipeline=pipeline,
                    context_window=rng.choice((3000, 6000)), buffer=500)
    # Each block of four questions: one truncation question and three
    # mapreduce questions, one per chunk size, in seeded order.
    questions = []
    for b in range(0, scale["planned_ops"], 4):
        block = [("truncation", 256)] + [("mapreduce", s) for s in (128, 256, 512)]
        rng.shuffle(block)
        questions += [spec(b + k, "q", p, s) for k, (p, s) in enumerate(block)]
    warmup = [dict(spec(k, "warm", p, 128), format=fmt)
              for k, (fmt, p) in enumerate((f, p) for f in FORMATS
                                           for p in ("mapreduce", "truncation"))]
    return dict(corpus=os.path.join(d, "corpus.parquet"),
                warm_corpus=os.path.join(d, "warm.parquet"),
                questions=questions, warmup=warmup)


def catalog_file():
    with open(os.path.join(HERE, "catalog.json")) as f:
        return json.load(f)


def gen_catalog(seed, scale, d):
    """CATALOG_PASSES passes over the subset, each in its own seeded order."""
    rng = random.Random(seed)
    entries = []
    for _ in range(CATALOG_PASSES):
        order = list(catalog_file()["subset"])
        rng.shuffle(order)
        entries += order
    return dict(sf_dir=os.path.join(DATA, scale["sf"]),
                warm_sf_dir=os.path.join(DATA, scale["warm_sf"]), entries=entries)


GENERATORS = {"qa_service": gen_qa_service, "qa_corpus": gen_qa_corpus,
              "catalog": gen_catalog}


def make_inputs(workload, seed, scale_name):
    """Writes the seed's inputs under a directory keyed by workload, scale
    and seed; returns (directory, workload-specific plan)."""
    d = os.path.join(WORK, "inputs", f"{workload}-{scale_name}-seed{seed}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    spec = GENERATORS[workload](seed, SCALES[scale_name], d)
    with open(os.path.join(d, "plan.json"), "w") as f:
        json.dump(spec, f, sort_keys=True, indent=0)
    return d, spec


# ------------------------------------------------------ independent checks

def duck_tokens(texts):
    """Token lists of each text, by the oracle's regex in DuckDB. Texts are
    split into lines first (a newline is never inside a token), so DuckDB
    spreads the regex work over its threads."""
    import duckdb
    import pyarrow as pa
    keys, lines = [], []
    for k, t in enumerate(texts):
        for ln in t.split("\n"):
            keys.append(k)
            lines.append(ln)
    con = duckdb.connect()
    con.register("t", pa.table({"k": keys, "i": list(range(len(lines))), "line": lines}))
    # the pattern is a literal so DuckDB compiles it once, not per row
    rows = con.execute(f"SELECT k, regexp_extract_all(line, '{TOKEN_RE}') FROM t "
                       "ORDER BY i").fetchall()
    con.close()
    out = [[] for _ in texts]
    for k, toks in rows:
        out[k].extend(toks)
    return out


def chunk_spans(n, size, overlap):
    if n == 0:
        return []
    out, start = [], 0
    while True:
        end = min(start + size, n)
        out.append((start, end))
        if end >= n:
            return out
        start += size - overlap


def half_up(x, places):
    q = decimal.Decimal(1).scaleb(-places)
    return float(decimal.Decimal(repr(x)).quantize(q, rounding=decimal.ROUND_HALF_UP))


def judge(best, chunks_after):
    if chunks_after == 0:
        return "No answer"
    if best >= 4:
        return "Correct"
    if best == 3:
        return "Coherent"
    if best == 2:
        return "Deviated"
    return "Incorrect"


def xml_item(idx, content):
    for a, b in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
                 ('"', "&quot;"), ("'", "&apos;")):
        content = content.replace(a, b)
    return f"<chunk_{idx}>{content}</chunk_{idx}>"


def token_index(tokens):
    """Token -> sorted positions, so a chunk's distinct question tokens are
    counted by bisection instead of building a set per chunk."""
    idx = {}
    for i, t in enumerate(tokens):
        idx.setdefault(t, []).append(i)
    return idx


def expect_mapreduce(tokens, index, qset, fmt, size, overlap, threshold):
    factor = 10 if fmt == "plain_text" else 1
    spans = chunk_spans(len(tokens), size, overlap)
    qpos = [index[t] for t in qset if t in index]
    best, surv = 0, []
    for idx, (a, b) in enumerate(spans):
        hits = 0
        for pos in qpos:
            k = bisect.bisect_left(pos, a)
            hits += k < len(pos) and pos[k] < b
        score = min(10, hits) * factor
        best = max(best, score)
        if score > threshold:
            surv.append((idx, " ".join(tokens[a:b]), score))
    top = max(surv, key=lambda s: (s[2], -s[0]), default=None)
    reduce_input = "\n".join(xml_item(i, c) if fmt == "json" else c for i, c, _ in surv)
    return dict(chunks_before=len(spans), chunks_after=len(surv), best_score=best,
                answer=top[1] if top else NO_ANSWER,
                retention_rate=half_up(len(surv) / len(spans), 4),
                judgment=judge(best / factor if factor != 1 else best, len(surv)),
                reduce_input=reduce_input)


def expect_truncation(tokens, qset, q_count, fmt, threshold, context_window, buffer):
    factor = 10 if fmt == "plain_text" else 1
    budget = max(1000, context_window - q_count - buffer)
    kept = tokens[:budget]
    score = min(10, len(set(kept) & qset)) * factor
    n = len(tokens)
    return dict(original_tokens=n, truncated_tokens=len(kept),
                truncation_applied=len(kept) < n,
                retention_rate=len(kept) / n if n else 1.0, score=score,
                answer=" ".join(kept) if score > threshold else NO_ANSWER,
                judgment=judge(score / factor, 0 if score <= threshold else 1))


def default_threshold(fmt):
    return 50 if fmt == "plain_text" else 5


def md5(s):
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def check_qa_service(spec, ops):
    """Each distinct (document, question, config) is answered once here,
    from the file bytes and the oracle token regex alone."""
    files = sorted({a["file"] for a in spec["asks"][:len(ops)]})
    texts = []
    for name in files:
        with open(os.path.join(spec["files_dir"], name), encoding="utf-8") as f:
            texts.append(f.read())
    questions = sorted({a["question"] for a in spec["asks"][:len(ops)]})
    toks = duck_tokens(texts + questions)
    doc_toks = dict(zip(files, toks[:len(files)]))
    q_toks = dict(zip(questions, toks[len(files):]))
    memo = {}
    for a, op in zip(spec["asks"], ops):
        key = (a["file"], a["question"], a["format"], a["chunk_size"], a["overlap"],
               a["pipeline"])
        if key not in memo:
            dt, qt = doc_toks[a["file"]], q_toks[a["question"]]
            if a["pipeline"] == "truncation":
                e = expect_truncation(dt, set(qt), len(qt), a["format"], 1, 128000, 2000)
                memo[key] = dict(answer_md5=md5(e["answer"]), score=float(e["score"]),
                                 judgment=e["judgment"], chunks_before=1, chunks_after=1,
                                 retention_rate=e["retention_rate"])
            else:
                e = expect_mapreduce(dt, token_index(dt), set(qt), a["format"],
                                     a["chunk_size"], a["overlap"], 1)
                memo[key] = dict(answer_md5=md5(e["answer"]),
                                 score=float(e["best_score"]), judgment=e["judgment"],
                                 chunks_before=e["chunks_before"],
                                 chunks_after=e["chunks_after"],
                                 retention_rate=e["retention_rate"])
        op["expected"] = memo[key]
        op["doc_tokens"] = len(doc_toks[a["file"]])
        judge_op(op, memo[key], tolerance={"retention_rate": 1e-9, "score": 0.0})


def check_qa_corpus(spec, ops):
    """Chunk, survivor, score, batch and answer figures of every question,
    recomputed from the generated corpus with the oracle token regex."""
    import pyarrow.parquet as pq
    corpus = pq.read_table(spec["corpus"]).to_pydict()
    qs = spec["questions"][:len(ops)]
    toks = duck_tokens(corpus["text"] + [q["question"] for q in qs])
    ndocs = len(corpus["text"])
    docs = sorted(zip(corpus["doc_id"], toks[:ndocs]))
    indexes = [token_index(t) for _, t in docs]
    corpus_tokens = sum(len(t) for _, t in docs)
    for k, (q, op) in enumerate(zip(qs, ops)):
        qt = toks[ndocs + k]
        qset = set(qt)
        thr = default_threshold(q["format"])
        exp = dict(rows=len(docs), batch_id_sum=sum(r // 5 for r in range(len(docs))),
                   item_number_sum=sum(r % 5 + 1 for r in range(len(docs))))
        judgments = {j: 0 for j in ("Correct", "Coherent", "Deviated", "Incorrect",
                                    "No answer")}
        md5_sum, retention, score_sum = 0, 0.0, 0
        if q["pipeline"] == "truncation":
            orig = trunc = truncated_docs = survivors = 0
            for doc_id, dt in docs:
                e = expect_truncation(dt, qset, len(qt), q["format"], thr,
                                      q["context_window"], q["buffer"])
                orig += e["original_tokens"]
                trunc += e["truncated_tokens"]
                truncated_docs += e["truncation_applied"]
                survivors += e["score"] > thr
                score_sum += e["score"]
                retention += e["retention_rate"]
                judgments[e["judgment"]] += 1
                md5_sum += int(md5("\x01".join((str(doc_id), e["answer"],
                                                e["judgment"])))[:15], 16)
            # the truncation plan has one "chunk" per document
            exp.update(original_tokens=orig, truncated_tokens=trunc,
                       truncated_docs=truncated_docs, chunks=len(docs),
                       survivors=survivors)
        else:
            chunks = survivors = 0
            for (doc_id, dt), ix in zip(docs, indexes):
                e = expect_mapreduce(dt, ix, qset, q["format"], q["chunk_size"],
                                     q["overlap"], thr)
                chunks += e["chunks_before"]
                survivors += e["chunks_after"]
                score_sum += e["best_score"]
                retention += e["retention_rate"]
                judgments[e["judgment"]] += 1
                md5_sum += int(md5("\x01".join((str(doc_id), e["answer"], e["judgment"],
                                                e["reduce_input"])))[:15], 16)
            exp.update(chunks=chunks, survivors=survivors)
        exp.update({f"judgment:{j}": n for j, n in judgments.items()})
        exp.update(score_sum=score_sum, answer_md5_sum=str(md5_sum),
                   retention_sum=retention)
        op["expected"] = exp
        op["doc_tokens"] = corpus_tokens
        op["docs"] = len(docs)
        judge_op(op, exp, tolerance={"retention_sum": 1e-6 * len(docs)})


def check_catalog(spec, ops, expected, causes=None):
    """Row count and digest of each entry against catalog.json, whose values
    were stored only for results that matched the entry's DuckDB oracle."""
    for op in ops:
        e = expected.get(op["name"])
        cause = (causes or {}).get(op["name"])
        if cause:
            op["known_cause"] = cause
        if e is None or e.get("oracle") != "match":
            op["expected"] = e
            if op["outcome"] == "ok":
                op["outcome"] = "wrong"
                op["mismatch"] = {"oracle": e.get("oracle") if e else "no expected value"}
            continue
        op["expected"] = {"rows": e["rows"], "digest": e["digest"]}
        judge_op(op, op["expected"], tolerance={})


def judge_op(op, exp, tolerance):
    if op["outcome"] != "ok":
        return
    bad = []
    for k, v in exp.items():
        got = op.get(k)
        tol = tolerance.get(k)
        if tol is not None and isinstance(v, (int, float)) and isinstance(got, (int, float)):
            if abs(got - v) > tol:
                bad.append(k)
        elif got != v:
            bad.append(k)
    if bad:
        op["outcome"] = "wrong"
        op["mismatch"] = {k: {"got": op.get(k), "expected": exp[k]} for k in bad}


# ---------------------------------------------------------------- metrics

def quantile(xs, q):
    """Linear-interpolated quantile (numpy's default)."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def m(value, unit, **extra):
    return dict(value=value, unit=unit, **extra)


def end_to_end(workload, res, ops, setup):
    walls = [o["wall_ms"] for o in ops]
    n = len(walls)
    failed = sum(o["outcome"] != "ok" for o in ops)
    total_s = sum(walls) / 1e3
    out = {
        "setup_s": m(setup["total_s"], "s", steps_s=setup),
        "op_p50_ms": m(quantile(walls, 0.5), "ms", samples=n),
        "op_p75_ms": m(quantile(walls, 0.75), "ms", samples=n,
                       beyond=n - int(0.75 * n)),
        "op_p90_ms": m(quantile(walls, 0.9), "ms", samples=n,
                       beyond=n - int(0.9 * n)),
        "ops_per_s": m(n / total_s if total_s else 0.0, "1/s", samples=n),
        "peak_rss_mb": m(res["jvm"]["peak_rss_mb"], "MB"),
        "fail_rate": m(failed / n if n else 1.0, "fraction", failed=failed, attempted=n),
    }
    if workload == "qa_service":
        out["ask_p50_ms"] = m(quantile(walls, 0.5), "ms", samples=n)
        out["ask_p90_ms"] = m(quantile(walls, 0.9), "ms", samples=n,
                              beyond=n - int(0.9 * n))
    elif workload == "qa_corpus":
        tokens = sum(o.get("doc_tokens", 0) for o in ops)
        out["qa_tokens_per_s"] = m(tokens / total_s if total_s else 0.0, "tokens/s",
                                   corpus_docs=ops[0].get("docs") if ops else 0,
                                   corpus_tokens=ops[0].get("doc_tokens") if ops else 0,
                                   questions=n)
        out["question_p50_s"] = m(quantile(walls, 0.5) / 1e3, "s", samples=n)
    else:
        out["catalog_s"] = m(total_s / CATALOG_PASSES, "s", entries=n // CATALOG_PASSES,
                             passes=CATALOG_PASSES)
        out["entry_p50_s"] = m(quantile(walls, 0.5) / 1e3, "s", samples=n)
        out["entry_p95_s"] = m(quantile(walls, 0.95) / 1e3, "s", samples=n,
                               beyond=n - int(0.95 * n))
    return out


PER_LAYER_UNITS = {
    "driver.analysis_ms": "ms", "driver.optimization_ms": "ms",
    "driver.planning_ms": "ms", "driver.codegen_compile_ms": "ms",
    "driver.codegen_compiles": "count",
    "sched.jobs_per_op": "count", "sched.stages_per_op": "count",
    "sched.tasks_per_op": "count", "sched.outside_jobs_ms": "ms",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.deserialize_s": "s", "exec.core_busy_frac": "fraction",
    "core.input_mb": "MB", "core.shuffle_write_mb": "MB",
    "core.shuffle_write_s": "s", "core.shuffle_read_mb": "MB",
    "core.fetch_wait_s": "s", "core.spill_mb": "MB",
    "sources.parse_ms": "ms",
    "pipeline.docs": "count", "pipeline.doc_tokens": "count",
    "pipeline.chunks": "count", "pipeline.survivors": "count",
    "pipeline.retention": "fraction",
    "operators.wscg_s": "s", "operators.generate_rows": "count",
    **{f"queries.{f}_s": "s" for f in
       ("adv", "dedup", "mm", "qa", "rel", "sim", "stream", "ta", "text")},
    "streaming.batches": "count", "streaming.trigger_p50_ms": "ms",
    "streaming.add_batch_s": "s", "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "trace.op_p50_ms": "ms",
}


def per_layer(workload, res, ops):
    layers = res.get("layers") or {}
    out = {k: m(float(layers.get(k, 0.0)), u) for k, u in PER_LAYER_UNITS.items()}
    n = max(1, len(ops))
    out["jvm.gc_s"] = m(res["jvm"]["gc_s"], "s")
    out["jvm.heap_peak_mb"] = m(res["jvm"]["heap_peak_mb"], "MB")
    out["trace.op_p50_ms"] = m(quantile([o["wall_ms"] for o in ops], 0.5), "ms",
                               samples=len(ops))
    if workload == "qa_service":
        out["sources.parse_ms"] = m(quantile([o["parse_ms"] for o in ops], 0.5), "ms")
        chunks = sum(o.get("chunks_before", 0) for o in ops if o["outcome"] == "ok")
        surv = sum(o.get("chunks_after", 0) for o in ops if o["outcome"] == "ok")
        docs_tokens = sum(o.get("doc_tokens", 0) for o in ops)
        out.update({"pipeline.docs": m(1.0, "count"),
                    "pipeline.doc_tokens": m(docs_tokens / n, "count"),
                    "pipeline.chunks": m(chunks / n, "count"),
                    "pipeline.survivors": m(surv / n, "count"),
                    "pipeline.retention": m(surv / chunks if chunks else 0.0, "fraction")})
    elif workload == "qa_corpus":
        ok = [o for o in ops if o["outcome"] == "ok"]
        chunks = sum(o["chunks"] for o in ok)
        surv = sum(o["survivors"] for o in ok)
        out.update({"pipeline.docs": m(sum(o.get("docs", 0) for o in ops) / n, "count"),
                    "pipeline.doc_tokens": m(sum(o.get("doc_tokens", 0) for o in ops) / n,
                                             "count"),
                    "pipeline.chunks": m(chunks / n, "count"),
                    "pipeline.survivors": m(surv / n, "count"),
                    "pipeline.retention": m(surv / chunks if chunks else 0.0, "fraction")})
    elif workload == "catalog":
        fams = {}
        for o in ops:
            fams[o["name"].split("_")[0]] = fams.get(o["name"].split("_")[0], 0.0) + \
                o["wall_ms"] / 1e3
        for f in ("adv", "dedup", "mm", "qa", "rel", "sim", "stream", "ta", "text"):
            out[f"queries.{f}_s"] = m(fams.get(f, 0.0) / CATALOG_PASSES, "s")
    return out


# ---------------------------------------------------------------- host

def host_record():
    def read(p):
        try:
            with open(p) as f:
                return f.read()
        except OSError:
            return ""
    mem = next((ln.split()[1] for ln in read("/proc/meminfo").splitlines()
                if ln.startswith("MemTotal:")), "0")
    cpu = (read("/proc/stat").splitlines() or [""])[0].split()
    # time the hypervisor ran something else on this machine's CPUs
    steal = int(cpu[8]) / os.sysconf("SC_CLK_TCK") if len(cpu) > 8 else None
    return dict(nproc=len(os.sched_getaffinity(0)), mem_total_kb=int(mem),
                loadavg=read("/proc/loadavg").split()[:3], cpu_steal_s=steal)


def source_version():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def heap_gb(mem_total_kb):
    return max(2, min(8, mem_total_kb // 2097152))


# ---------------------------------------------------------------- run

def run(workload, seed, seconds, trace, scale_name="full", t_start=None,
        build_deadline=None):
    """One benchmark run. Returns (full record, contract line)."""
    t_start = t_start or time.time()
    require_sources()
    cp = build(build_deadline or t_start + 840)
    t0 = time.time()
    host_start = host_record()
    inputs_dir, spec = make_inputs(workload, seed, scale_name)
    cpus = host_start["nproc"]
    plan = dict(spec, workload=workload, seed=seed, cpus=cpus, seconds=seconds,
                trace=trace)
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    tag = f"{workload}-{scale_name}-seed{seed}-trace{trace}"
    plan_path = os.path.join(runs, f"{tag}-plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    result_path = os.path.join(runs, f"{tag}-result.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    flags = [f"-Xmx{heap_gb(host_start['mem_total_kb'])}g", "-XX:+UseG1GC",
             "-XX:MaxGCPauseMillis=50", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    flags += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *flags, "-cp", cp, "perfbench.Main", plan_path, result_path]
    t_jvm = time.time()
    with open(os.path.join(runs, f"{tag}-jvm.log"), "w") as jlog:
        proc = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=jlog,
                              stderr=subprocess.STDOUT,
                              timeout=max(30, seconds + HARNESS_SETUP_ALLOWANCE_S
                                          - (time.time() - t0)))
    log(f"{tag}: inputs {t_jvm - t0:.1f}s, harness {time.time() - t_jvm:.1f}s")
    if proc.returncode != 0 or not os.path.exists(result_path):
        raise SystemExit(f"perfbench: harness JVM failed (rc={proc.returncode}, "
                         f"log {runs}/{tag}-jvm.log)")
    with open(result_path) as f:
        res = json.load(f)
    t_checks = time.time()
    # set-up: from the start of the run (after any build) until the first
    # timed operation starts
    setup = dict(total_s=res["first_op_ms"] / 1e3 - t0, inputs_s=t_jvm - t0,
                 session_s=res["session_ready_ms"] / 1e3 - t_jvm,
                 workload_s=res["workload_setup_s"])
    ops = res["ops"]
    if workload == "qa_service":
        check_qa_service(spec, ops)
    elif workload == "qa_corpus":
        check_qa_corpus(spec, ops)
    else:
        cat = catalog_file()
        check_catalog(spec, ops, cat["expected"][SCALES[scale_name]["sf"]],
                      cat.get("causes"))
    failed = sum(o["outcome"] != "ok" for o in ops)
    metrics = per_layer(workload, res, ops) if trace else end_to_end(workload, res, ops,
                                                                     setup)
    record = dict(
        workload=workload, seed=seed, seconds=seconds, trace=trace, scale=scale_name,
        inputs=inputs_dir, metrics=metrics,
        end_to_end=end_to_end(workload, res, ops, setup),
        outcomes=[{k: o.get(k) for k in ("id", "name", "wall_ms", "outcome",
                                          "error_class", "message", "mismatch",
                                          "known_cause")
                   if o.get(k) is not None} for o in ops],
        warmup_errors=res["warmup_errors"], setup_detail=res["setup_detail"],
        host=dict(start=host_start, end=host_record(), jvm_flags=res["jvm"]["flags"]),
        session=res["record"], source=dict(git=source_version(),
                                           fingerprint=source_fingerprint()))
    if trace:
        record["op_spans"] = res["op_spans"]
        record["self_ms_per_op"] = {k[len("self."):-len("_ms")]: v
                                    for k, v in res["layers"].items()
                                    if k.startswith("self.")}
        untraced = os.path.join(runs, f"{workload}-{scale_name}-seed{seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["metrics"]["op_p50_ms"]["value"]
            record["tracing_overhead_frac"] = \
                metrics["trace.op_p50_ms"]["value"] / base - 1 if base else None
        with open(os.path.join(runs, f"{tag}-spans.jsonl"), "w") as f:
            for s in res["spans"] or []:
                f.write(json.dumps(s) + "\n")
    with open(os.path.join(runs, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    log(f"{tag}: checks and record {time.time() - t_checks:.1f}s")
    line = dict(correct=failed == 0, attempted=len(ops), failed=failed,
                metrics={k: {"value": v["value"], "unit": v["unit"]}
                         for k, v in metrics.items()
                         if trace or k in END_TO_END_UNITS})
    return record, line


def main(argv=None):
    t_start = time.time()
    # a terminated run raises SystemExit, so subprocess.run kills and reaps
    # the sbt or harness process it is waiting on before exiting
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args(argv)
    try:
        record, line = run(a.workload, a.seed, a.seconds, a.trace, t_start=t_start,
                           build_deadline=t_start + 840)
    except subprocess.TimeoutExpired as e:
        log(f"timed out: {e}")
        return 3
    print(json.dumps({k: record[k] for k in ("workload", "seed", "trace", "end_to_end",
                                            "outcomes", "session", "host", "source")}))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
