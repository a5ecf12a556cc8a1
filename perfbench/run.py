#!/usr/bin/env python3
"""Seeded benchmark for the graft engine.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload collections --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`. `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer metrics and writes the span trace to
`.bench_build/trace/`. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the pyspark package's."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    import pyspark
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


CORES = 4
DEADLINE_S = 170  # a run must end within 180 s
# session start-ups timed per run: the run's own JVM plus fresh JVMs that
# only start a session
SETUP_SAMPLES = 3

# Query sets are fixed; only the inputs depend on the seed.
WORKLOADS = {
    # reference pipeline surface: filters, joins, window ranking, snapshot
    # diff, ERC-137 namehash, related-overlap and the collection pipeline;
    # small queries, so per-query fixed cost (planning, build, job
    # scheduling) dominates
    "collections": dict(kind="batch", sf=0.01, warm=3, min=4, queries=[
        "q01_filter_project", "q03_join_agg", "q06_window_rank",
        "q14_snapshot_diff", "q16b_namehash", "q17_related_overlap",
        "q19_collection_pipeline"]),
    # Streams.streamingNearDupSignal + streamingNearDupImpact over a seeded
    # doc feed with re-sent near-duplicates inside the watermark horizon
    "stream_neardup": dict(kind="stream", rows_per_batch=100, batches=200,
                           warm=6, min=5, batch_span_s=10,
                           lateness="30 seconds", window="10 seconds",
                           dup_share=0.2),
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# --------------------------------------------------------------- processes

class Jvm:
    """One benchmark JVM. Stdout lines `@@ <mark>` are timestamped on
    arrival; stderr goes to a log file. The process group is killed if it
    outlives the deadline."""

    def __init__(self, classes, args, log_path, deadline):
        self.marks, self.lines = {}, []
        self.t0 = time.time()
        os.makedirs(BUILD + "/tmp", exist_ok=True)
        cmd = ["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
               "-Djava.io.tmpdir=" + os.path.abspath(BUILD + "/tmp"),
               "-Dlog4j2.configurationFile=" +
               os.path.join(HERE, "log4j2.properties"),
               "-Dperfbench.scratch=" + os.path.abspath(BUILD + "/spark"),
               "-Dspark.ui.enabled=false"] + [
            f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
                "java.lang", "java.lang.invoke", "java.lang.reflect",
                "java.io", "java.net", "java.nio", "java.util",
                "java.util.concurrent", "java.util.concurrent.atomic",
                "sun.nio.ch", "sun.nio.cs", "sun.security.action",
                "sun.util.calendar")] + [
            "-cp", classes + os.pathsep + spark_jars() + "/*",
            "perfbench.Main"] + args
        self.log = open(log_path, "w")
        self.p = subprocess.Popen(cmd, stdout=subprocess.PIPE,
                                  stderr=self.log, text=True,
                                  start_new_session=True)
        self.timer = threading.Timer(max(1.0, deadline - time.time()),
                                     self.kill)
        self.timer.start()

    def kill(self):
        try:
            os.killpg(self.p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def wait(self):
        for line in self.p.stdout:
            if line.startswith("@@ "):
                self.marks[line[3:].strip()] = time.time() - self.t0
            else:
                self.lines.append(line.rstrip("\n"))
        rc = self.p.wait()
        self.timer.cancel()
        self.log.close()
        return rc


def run_jvm(classes, args, log_path, deadline):
    jvm = Jvm(classes, args, log_path, deadline)
    try:
        rc = jvm.wait()
    finally:
        jvm.kill()
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"JVM step {args[0]} failed (exit {rc}):\n{tail}")
    return jvm.marks


def session_start(classes, marks, work, deadline):
    """Median launch-to-session time of the run's JVM and of further fresh
    JVMs that only start a session."""
    return median([marks["session"]] + [
        run_jvm(classes, ["setup"], f"{work}/setup{i}.log",
                deadline)["session"] for i in range(1, SETUP_SAMPLES)])


# ------------------------------------------------------------------- build

def sources():
    files = []
    for d in ("src/main/scala", os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files) + [os.path.join(HERE, "build.sh")]


def build():
    """Compiles the engine and the benchmark when any source changed."""
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.abspath(BUILD + "/classes")
    stamp_file = BUILD + "/classes.stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log("building engine + benchmark classes")
    os.makedirs(BUILD, exist_ok=True)
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), classes,
                        spark_jars()],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


# ----------------------------------------------------------------- helpers

def median(xs):
    return statistics.median(xs) if xs else 0.0


# ----------------------------------------------------------- oracle check

def oracle_check(data_dir, results_dir, oracles, names):
    """Compares each query's result with its DuckDB oracle on the same
    inputs: same columns by name, same row count, and the same multiset of
    rows rendered as strings (the rule of scripts/parity.py)."""
    import duckdb
    con = duckdb.connect()
    for path in glob.glob(os.path.join(data_dir, "*.parquet")):
        t = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{path}/*.parquet')")
    bad = []
    for name in names:
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')"
            ).fetchdf()
            want = con.execute(oracles[name]).fetchdf()
            g = got.reindex(sorted(got.columns), axis=1)
            w = want.reindex(sorted(want.columns), axis=1)
            if list(g.columns) != list(w.columns):
                bad.append(f"{name}: schema {list(g.columns)} vs {list(w.columns)}")
            elif len(g) != len(w):
                bad.append(f"{name}: rows {len(g)} vs {len(w)}")
            else:
                gs = sorted(g.astype(str).apply("|".join, axis=1)) if len(g) else []
                ws = sorted(w.astype(str).apply("|".join, axis=1)) if len(w) else []
                if gs != ws:
                    diff = set(gs) ^ set(ws)
                    bad.append(f"{name}: {len(diff)} differing rows, "
                               f"e.g. {sorted(diff)[:2]}")
        except Exception as e:  # a missing result or failing oracle
            bad.append(f"{name}: {str(e)[:300]}")
    return bad


# ------------------------------------------------------------------ tracing

def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start_us"], s["start_us"]),
                     min(c["end_us"], s["end_us"]))
                    for c in kids.get(s["id"], []) if c["end_us"] > 0)
        covered, cur_s, cur_e = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = max(0, s["end_us"] - s["start_us"] - covered) / 1e6
    return out


def write_trace(workload, seed, run_span, spans, extra):
    spans = [s for s in spans if s["end_us"] > 0]
    for s in spans:
        if s["parent"] == 0 and s["kind"] != "run":
            s["parent"] = run_span["id"]
    spans.append(run_span)
    st = self_times(spans)
    by_kind = {}
    for s in spans:
        s["self_s"] = st[s["id"]]
        k = by_kind.setdefault(s["kind"], {"count": 0, "total_s": 0.0,
                                           "self_s": 0.0})
        k["count"] += 1
        k["total_s"] += (s["end_us"] - s["start_us"]) / 1e6
        k["self_s"] += s["self_s"]
    os.makedirs(BUILD + "/trace", exist_ok=True)
    path = f"{BUILD}/trace/{workload}-seed{seed}.json"
    with open(path, "w") as f:
        json.dump(dict(workload=workload, seed=seed, by_kind=by_kind,
                       spans=spans, **extra), f, indent=1)
    log(f"trace written to {path}")


# ------------------------------------------------------------------- batch

def run_batch(name, wl, seed, seconds, trace, classes, deadline):
    data = os.path.abspath(f"{BUILD}/data/{name}-seed{seed}")
    work = os.path.abspath(f"{BUILD}/work/{name}-seed{seed}")
    for d in (data, work):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(work)
    out = f"{work}/out.json"
    marks = run_jvm(classes, [
        "batch", f"dir={data}", f"sf={wl['sf']}", f"seed={seed}",
        "queries=" + ",".join(wl["queries"]), f"out={out}",
        f"results={work}/results", f"seconds={seconds}", f"trace={trace}",
        f"workload={name}", f"warm={wl['warm']}", f"min={wl['min']}"],
        f"{work}/jvm.log",
        deadline)
    with open(out) as f:
        r = json.load(f)
    # set-up: launch to session, plus reading the inputs; the benchmark's
    # own data generation in between is excluded
    r["session_s"] = session_start(classes, marks, work, deadline)
    r["setup_s"] = r["session_s"] + marks["ready"] - marks["generated"]
    bad = oracle_check(data, f"{work}/results", r["oracles"], wl["queries"])
    return r, bad


def batch_metrics(r):
    passes = [p for p in r["passes"] if not p["warm"]]
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    batch_s = median([p["wall_s"] for p in untraced])
    e2e = dict(setup_s=r["setup_s"], batch_s=batch_s,
               cpu_s=median([p["cpu_s"] for p in untraced]),
               rows_per_s=r["input_rows"] / batch_s)
    if not traced:
        return e2e, {}
    m = lambda f: median([f(p) for p in traced])
    # Spark work of the whole pass: jobs the builders run eagerly plus the
    # jobs of the returned plans
    both = lambda k: m(lambda p: p["build"][k] + p["exec"][k])
    wall = m(lambda p: p["wall_s"])
    layer = {
        "session.start_s": r["session_s"],
        "session.cold_pass_s": r["cold_pass_s"],
        "sources.input_mb": both("input_mb"),
        "sources.input_rows": both("input_rows"),
        "queries.build_s": m(lambda p: sum(q["build_s"] for q in p["queries"])),
        "queries.build_jobs": m(lambda p: p["build"]["jobs"]),
        "exec.run_s": m(lambda p: sum(q["exec_s"] for q in p["queries"])),
        "exec.jobs": both("jobs"),
        "exec.stages": both("stages"),
        "exec.tasks": both("tasks"),
        "exec.task_s": both("task_s"),
        "exec.cpu_s": both("cpu_s"),
        "exec.gc_s": both("gc_s"),
        "exec.slot_util": m(lambda p: (p["build"]["task_s"] + p["exec"]["task_s"])
                            / (p["wall_s"] * CORES)),
        "exec.shuffle_write_mb": both("shuffle_write_mb"),
        "exec.shuffle_read_mb": both("shuffle_read_mb"),
        "exec.spill_mb": both("spill_mb"),
        "driver.idle_s": m(lambda p: p["wall_s"] - p["job_covered_s"]),
        "driver.result_mb": both("result_mb"),
        "driver.heap_peak_mb": m(lambda p: p["heap_peak_mb"]),
        "cache.stored_mb": m(lambda p: p["cached_mb"]),
        "trace.overhead_s": wall - batch_s,
    }
    return e2e, layer


def per_query_evidence(r):
    """Per query (median over traced passes): jobs, result MB, build and
    exec seconds — the branch evidence a trace reader looks for."""
    traced = [p for p in r["passes"] if p["traced"]]
    out = {}
    for q in (traced[0]["queries"] if traced else []):
        rows = [x for p in traced for x in p["queries"] if x["query"] == q["query"]]
        out[q["query"]] = {k: median([x[k] for x in rows]) for k in
                           ("jobs", "result_mb", "shuffle_mb", "build_s", "exec_s")}
    return out


# ------------------------------------------------------------------ stream

BASE_MS = 1704067200000  # 2024-01-01T00:00:00Z, a whole minute


def make_feed(wl, seed):
    """Seeded doc feed: `batches` × `rows_per_batch` docs with event times
    rising batch by batch. In every batch after the first, `dup_share` of
    the docs re-send a doc of the previous batch (inside the watermark
    horizon): half verbatim, half with one token replaced.
    The docs re-sent in one batch have distinct originals, so no two docs
    of a batch share a band key by construction."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(5000)]
    n, span = wl["rows_per_batch"], wl["batch_span_s"] * 1000
    batches, root = [], {}
    for b in range(wl["batches"]):
        prev = batches[b - 1] if b else []
        texts, used = [], set()
        for d in rng.sample(prev, len(prev)):
            if len(texts) >= int(n * wl["dup_share"]):
                break
            if root[d[1]] in used:
                continue
            used.add(root[d[1]])
            toks = d[2].split()
            if rng.random() < 0.5:
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
            texts.append((" ".join(toks), root[d[1]]))
        while len(texts) < n:
            texts.append((" ".join(rng.choice(vocab) for _ in
                                   range(rng.randint(8, 16))), None))
        rng.shuffle(texts)
        offs = sorted(rng.randrange(span) for _ in range(n))
        rows = []
        for i, ((text, r), off) in enumerate(zip(texts, offs)):
            doc_id = b * n + i
            root[doc_id] = doc_id if r is None else r
            rows.append((BASE_MS + b * span + off, doc_id, text))
        batches.append(rows)
    return batches


def band_keys(text):
    """graft's MinHash-LSH band keys (3-word shingles, 12 md5 hashes,
    4 bands of 3), recomputed here without Spark."""
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    toks = text.lower().split()
    sh = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    sig = [min(md5(f"{i}:{s}") for s in sh) for i in range(12)]
    return [f"{b}|" + md5(",".join(sig[3 * b:3 * b + 3])) for b in range(4)]


def interval_ms(s):
    n, unit = s.split()
    return int(n) * {"second": 1000, "minute": 60000}[unit.rstrip("s")]


def replay(batches, lateness_ms, window_ms):
    """Expected sink contents of both stream queries: band keys are
    deduplicated within the watermark horizon (a key is dropped while an
    earlier copy is in state; state expires `lateness` after the copy's
    event time, against the watermark of the batch), then counted per doc
    and per window of `window_ms`."""
    state, max_ts, docs, ambiguous = {}, None, [], 0
    for rows in batches:
        wm = 0 if max_ts is None else max_ts - lateness_ms
        state = {k: e for k, e in state.items() if e >= wm}
        fresh = {}
        for ts, doc_id, text in rows:
            keys = band_keys(text)
            novel = 0
            for k in keys:
                if k in fresh:
                    ambiguous += 1
                elif k not in state:
                    fresh[k] = ts + lateness_ms
                    novel += 1
            docs.append((ts - ts % window_ms, doc_id, novel,
                         len(text.split())))
        state.update(fresh)
        max_ts = max([max_ts or 0] + [r[0] for r in rows])
    signal, impact = {}, {}
    for w, doc_id, novel, ntok in docs:
        if novel:
            signal.setdefault(w, set()).add((doc_id, novel))
        t = impact.setdefault(w, [0, 0, 0, 0])
        t[0] += 1
        t[2] += ntok
        if novel == 0:
            t[1] += 1
            t[3] += ntok
    for t in impact.values():
        t.append((2 * 1000000 * t[3] + t[2]) // (2 * t[2]) if t[2] else 0)
    # windows every sink must have emitted by the end: closed by the
    # watermark of the last batch, with one window of slack
    last_wm = max(r[0] for r in batches[-2]) - lateness_ms
    due = {w for w in impact if w + 2 * window_ms <= last_wm}
    return signal, {w: tuple(t) for w, t in impact.items()}, due, ambiguous


def check_stream(r, batches, wl):
    """Compares both sinks with the replay, window by window; returns
    (windows compared, mismatch messages)."""
    signal, impact, due, ambiguous = replay(
        batches[:r["batches_run"]], interval_ms(wl["lateness"]),
        interval_ms(wl["window"]))
    bad = []
    if ambiguous:
        bad.append(f"{ambiguous} band keys repeat inside one batch")
    got_sig = {}
    for row in r["signal"]:
        got_sig.setdefault(row["window_start"], set()).add(
            (row["doc_id"], row["novel_bands"]))
    for w, rows in got_sig.items():
        if rows != signal.get(w, set()):
            bad.append(f"signal window {w}: {len(rows ^ signal.get(w, set()))} "
                       "rows differ")
    got_imp = {row["window_start"]: (
        row["n_docs"], row["n_suppressed"], row["tokens_total"],
        row["tokens_suppressed"], row["tokens_suppressed_ppm"])
        for row in r["impact"]}
    for w, t in got_imp.items():
        if impact.get(w) != t:
            bad.append(f"impact window {w}: got {t} want {impact.get(w)}")
    for w in sorted(due):
        if w not in got_imp:
            bad.append(f"impact window {w} never emitted")
        if w in signal and w not in got_sig:
            bad.append(f"signal window {w} never emitted")
    return len(set(got_sig) | due) + len(set(got_imp) | due), bad


def run_stream(name, wl, seed, seconds, trace, classes, deadline):
    work = os.path.abspath(f"{BUILD}/work/{name}-seed{seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    batches = make_feed(wl, seed)
    feed = f"{work}/feed.tsv"
    with open(feed, "w") as f:
        for b, rows in enumerate(batches):
            for ts, doc_id, text in rows:
                f.write(f"{b}\t{ts}\t{doc_id}\t{text}\n")
    out = f"{work}/out.json"
    marks = run_jvm(classes, [
        "stream", f"feed={feed}", f"out={out}", f"seconds={seconds}",
        f"trace={trace}", f"warm={wl['warm']}", f"min={wl['min']}",
        f"lateness={wl['lateness']}",
        f"window={wl['window']}", f"scratch={work}"],
        f"{work}/jvm.log", deadline)
    with open(out) as f:
        r = json.load(f)
    r["session_s"] = session_start(classes, marks, work, deadline)
    r["setup_s"] = r["session_s"] + marks["ready"] - marks["session"]
    r["feed_mb_per_batch"] = os.path.getsize(feed) / 1e6 / len(batches)
    checked, bad = check_stream(r, batches, wl)
    return r, checked, bad


def stream_metrics(r, wl):
    timed = r["timed"]
    untraced = [b for b in timed if not b["traced"]]
    traced = [b for b in timed if b["traced"]]
    batch_s = median([b["wall_s"] for b in untraced])
    e2e = dict(setup_s=r["setup_s"], batch_s=batch_s,
               cpu_s=median([b["cpu_s"] for b in untraced]),
               rows_per_s=wl["rows_per_batch"] / batch_s)
    if not traced:
        return e2e, {}
    # the i-th data batch of each query is the i-th feed batch
    idx = {b["batch"] for b in traced}
    prog = {q: [p for i, p in enumerate(ps) if i in idx]
            for q, ps in r["progress"].items()}

    def per_batch(f):
        """Median over traced feed batches of f summed over both queries."""
        return median([sum(f(ps[i]) for ps in prog.values())
                       for i in range(len(idx))])

    def state(p, key):
        return sum(s[key] for s in p["state"])

    def dedup_drop(p):
        ops = [s for s in p["state"] if "dedup" in s["op"].lower()]
        return ops[0]["rows_updated"] if ops else 0

    n = len(traced)
    ex = r["exec"]
    wall = median([b["wall_s"] for b in traced])
    band_rows = 4 * wl["rows_per_batch"]
    layer = {
        "session.start_s": r["session_s"],
        "session.cold_pass_s": r["cold_pass_s"],
        "sources.input_mb": r["feed_mb_per_batch"],
        "sources.input_rows": wl["rows_per_batch"],
        "queries.build_s": r["build_s"],
        "queries.build_jobs": 0,
        "exec.run_s": wall,
        "exec.jobs": ex["jobs"] / n,
        "exec.stages": ex["stages"] / n,
        "exec.tasks": ex["tasks"] / n,
        "exec.task_s": ex["task_s"] / n,
        "exec.cpu_s": ex["cpu_s"] / n,
        "exec.gc_s": ex["gc_s"] / n,
        "exec.slot_util": ex["task_s"] / n / (wall * CORES),
        "exec.shuffle_write_mb": ex["shuffle_write_mb"] / n,
        "exec.shuffle_read_mb": ex["shuffle_read_mb"] / n,
        "exec.spill_mb": ex["spill_mb"] / n,
        "driver.idle_s": median([b["wall_s"] - b["job_covered_s"] for b in traced]),
        "driver.result_mb": ex["result_mb"] / n,
        "driver.heap_peak_mb": median([b["heap_peak_mb"] for b in traced]),
        "cache.stored_mb": r["cached_mb"] / n,
        "streaming.add_batch_ms": per_batch(lambda p: p["duration_ms"].get("addBatch", 0)),
        "streaming.planning_ms": per_batch(lambda p: p["duration_ms"].get("queryPlanning", 0)),
        "streaming.wal_commit_ms": per_batch(lambda p: p["duration_ms"].get("walCommit", 0)),
        "streaming.state_commit_ms": per_batch(lambda p: state(p, "commit_ms")),
        "streaming.state_update_ms": per_batch(lambda p: state(p, "update_ms")),
        "streaming.state_rows": per_batch(lambda p: state(p, "rows_total")),
        "streaming.state_mb": per_batch(lambda p: state(p, "memory_bytes")) / 1e6,
        "streaming.dup_drop_ratio": 1 - median(
            [dedup_drop(p) for p in prog.get("signal", [])]) / band_rows,
        "trace.overhead_s": wall - batch_s,
    }
    return e2e, layer


# -------------------------------------------------------------------- main

def load_spec():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


# Graph branch self-test: at sf0.2 g01, g04 and g06 feed PageRank about
# 2.4M raw edges, above the 2M-edge driver-finish gate, so they must take
# the distributed path (many more jobs than the same query at sf0.01, where
# it finishes on the driver); the co-purchase loops stay under the gate and
# must keep their sf0.01 job count.
GRAPH_DISTRIBUTED = ["g01_pagerank", "g04_ppr", "g06_ppr_topk"]
GRAPH_DRIVER = ["g02_triangles", "g03_local_cc", "g05_kcore",
                "g07_jaccard_link", "g08_assortativity", "g12_label_prop",
                "g13_modularity", "g14_refine_communities"]


def selftest_graph(classes):
    runs = {}
    for sf in (0.01, 0.2):
        wl = dict(kind="batch", sf=sf, warm=0, min=2,
                  queries=GRAPH_DISTRIBUTED + GRAPH_DRIVER)
        r, bad = run_batch(f"graph-sf{sf}", wl, 42, 0, 1, classes,
                           time.time() + 1800)
        for msg in r["failures"] + bad:
            log(f"FAILED sf{sf} {msg}")
        runs[sf] = (per_query_evidence(r), not (r["failures"] or bad))
    small, big = runs[0.01][0], runs[0.2][0]
    ok = runs[0.01][1] and runs[0.2][1]
    print(f"{'query':24} {'jobs@0.01':>9} {'jobs@0.2':>9} "
          f"{'result_mb@0.2':>13}  path at sf0.2")
    for q in GRAPH_DISTRIBUTED + GRAPH_DRIVER:
        a, b = small[q]["jobs"], big[q]["jobs"]
        distributed = b >= a + 10
        good = distributed if q in GRAPH_DISTRIBUTED else b <= a + 2
        ok &= good
        print(f"{q:24} {a:9.0f} {b:9.0f} {big[q]['result_mb']:13.2f}  "
              f"{'distributed' if distributed else 'driver finish'}"
              f"{'' if good else '  <-- UNEXPECTED'}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", choices=("gen", "graph"),
                    help="gen: perfbench.Gen equals graft.tools.GenData at "
                         "seed 42; graph: runtime branch evidence")
    ap.add_argument("--ref", help="with --selftest gen: also compare with "
                                  "this data directory (read only)")
    a = ap.parse_args()
    if not os.path.isdir("src/main/scala/graft"):
        fail("run from the root of a graft checkout (no src/main/scala/graft here)")
    if a.selftest:
        classes = build()
        if a.selftest == "gen":
            d = os.path.abspath(BUILD + "/selftest")
            shutil.rmtree(d, ignore_errors=True)
            args = ["selfcheck", f"dir={d}", "sf=0.1"] + (
                [f"ref={os.path.abspath(a.ref)}"] if a.ref else [])
            jvm = Jvm(classes, args, BUILD + "/selftest.log", time.time() + 1800)
            ok = jvm.wait() == 0
            print("\n".join(jvm.lines))
        else:
            ok = selftest_graph(classes)
        print("selftest", a.selftest, "passed" if ok else "FAILED")
        sys.exit(0 if ok else 1)
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    e2e_units, layer_units = load_spec()
    classes = build()
    deadline = time.time() + DEADLINE_S - 15
    wl = WORKLOADS[a.workload]
    t_run = time.time()
    if wl["kind"] == "batch":
        r, bad = run_batch(a.workload, wl, a.seed, a.seconds, a.trace,
                           classes, deadline)
        e2e, layer = batch_metrics(r)
        attempted = r["attempted"] + len(wl["queries"])
        evidence = per_query_evidence(r)
    else:
        r, checked, bad = run_stream(a.workload, wl, a.seed, a.seconds,
                                     a.trace, classes, deadline)
        e2e, layer = stream_metrics(r, wl)
        attempted = r["batches_run"] + checked
        evidence = {}
    failures = r["failures"] + bad
    for msg in failures:
        log(f"FAILED {msg}")
    failed = len(failures)
    if a.trace:
        layer["error_rate"] = failed / attempted
        now_us = int(time.time() * 1e6)
        run_span = dict(id=0, parent=-1, trace="run", name="run", kind="run",
                        start_us=int(t_run * 1e6), end_us=now_us)
        write_trace(a.workload, a.seed, run_span, r["spans"],
                    dict(per_query=evidence, metrics=layer))
        # a layer the workload bypasses (streaming.* on a batch workload)
        # did no work
        metrics = {k: dict(value=layer.get(k, 0.0), unit=u)
                   for k, u in layer_units.items()}
    else:
        metrics = {k: dict(value=e2e[k], unit=u) for k, u in e2e_units.items()}
    print(json.dumps(dict(correct=failed == 0, attempted=attempted,
                          failed=failed, metrics=metrics)))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
