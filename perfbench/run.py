#!/usr/bin/env python3
"""Benchmark entry point: build the program from source, run one workload,
check its outputs, print every metric and a final JSON line.

  python3 perfbench/run.py --workload hist_wide --seed 1 --seconds 8 --trace 0

Workloads (all at local[4] unless --cores says otherwise):
  hist_wide     Main.runHistorical over a generated wide TEBIS corpus
  live_trickle  LiveStream at the shipped live settings, fed by an
                open-loop lander process
  llm_suite     passes over a list of SparkEntry.queries (noop sink)

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The full record (raw timings, spans, check details) is written to
perfbench/out/<workload>-s<seed>-t<trace>[-c<cores>].json.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))
import gen  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_DIR = os.path.join(HERE, "work")
OUT_DIR = os.path.join(HERE, "out")

# The suite's queries: at least one per operator module, and the queries
# the open performance items name, within the run budget. Left out: q46
# (its DuckDB oracle takes ~35 s per seed) and q302 (2.4 s a pass; the
# Profiling module is measured by q299).
QUERIES = [
    "q05_priority_revenue",       # queries.CoreQueries
    "q293_twa_bars",              # ops.EventOps
    "q48_dedup_simhash_pairs",    # ops.Dedup
    "q239_simhash_histogram",     # ops.Dedup
    "q133_mutual_top1",           # ops.Similarity
    "q139_contamination_report",  # ops.Pipeline
    "q191_ngram_novelty",         # ops.Pipeline
    "q299_column_profile_kmv",    # ops.Profiling
    "q124_image_near_dups_reps",  # ops.Multimodal
]
SUITE_SF = 0.01

LIVE_TRIGGER_S = 8.0   # LiveStream's shipped trigger
LIVE_RATE = 2.0        # files landed per second
LIVE_PHASE_S = 0.4     # landings start this long after a trigger boundary
LIVE_WARM_FILES = 16   # files in each of the two warm-up micro-batches

E2E = [("setup_s", "s"), ("peak_heap_mb", "MB"), ("pass_s", "s"),
       ("commit_p50_s", "s"), ("commit_p90_s", "s"), ("geomean_s", "s")]

FAMILIES = ["ops.Dedup", "ops.Similarity", "ops.Pipeline", "ops.EventOps",
            "ops.Profiling", "ops.Multimodal", "queries.CoreQueries"]
PER_LAYER = (
    [("discover.s", "s"), ("discover.files", "count"),
     ("parse.s", "s"), ("parse.bytes_in", "bytes"), ("parse.points", "count"),
     ("parse.task_s", "s"), ("parse.gc_s", "s"), ("parse.task_skew", "ratio"),
     ("catalog.s", "s"), ("catalog.headers", "count"), ("catalog.created", "count"),
     ("sink.s", "s"), ("sink.shuffle_write_bytes", "bytes"), ("sink.spill_bytes", "bytes"),
     ("sink.files_written", "count"), ("sink.bytes_per_point", "bytes"),
     ("lifecycle.s", "s"), ("lifecycle.files", "count"),
     ("live.batches", "count"), ("live.files_per_batch", "count"), ("live.trigger_ms", "ms"),
     ("live.add_batch_ms", "ms"), ("live.latest_offset_ms", "ms"), ("live.wal_commit_ms", "ms"),
     ("live.jobs_per_batch", "count"), ("live.batch_s", "s"), ("live.backlog_max_files", "count"),
     ("live.gen_late_max_s", "s")]
    + [(f"{f}.s", "s") for f in FAMILIES]
    + [(f"query.{q}.s", "s") for q in QUERIES]
    + [("suite.jobs", "count"), ("suite.stages", "count"), ("suite.task_s", "s"),
       ("suite.busy_frac", "fraction"), ("suite.shuffle_write_bytes", "bytes"),
       ("suite.spill_bytes", "bytes"), ("suite.gc_s", "s"),
       ("plan.smj", "count"), ("plan.shj", "count"), ("plan.bhj", "count"),
       ("plan.exchanges", "count"), ("plan.q139.smj", "count"), ("plan.q139.shj", "count"),
       ("plan.q139.bhj", "count"), ("plan.q139.exchanges", "count"),
       ("hygiene.clear_s", "s"), ("suite.pinned_rdd_blocks", "count"),
       ("codegen.compile_ms_setup", "ms"), ("codegen.compile_ms_steady", "ms"),
       ("trace.pass_s", "s")])

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        for dirpath, dirnames, filenames in os.walk(r) if os.path.isdir(r) else [("", [], [r])]:
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            for f in sorted(filenames):
                p = os.path.join(dirpath, f)
                if p.endswith((".scala", ".sbt", ".properties", ".java")) or "resources" in p:
                    st = os.stat(p)
                    h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the program and the driver (sbt, offline); cache the runtime
    classpath in .bench_build/ until a source file changes."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    cp_file, stamp_file = os.path.join(BUILD_DIR, "classpath"), os.path.join(BUILD_DIR, "stamp")
    fp = _fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == fp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile)")
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    lines = open(os.path.join(BUILD_DIR, "build.log")).read().splitlines()
    cps = [ln for ln in lines if ".jar" in ln and ":" in ln and not ln.startswith("[")]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        raise SystemExit("build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(fp)
    return cps[-1]


# ---------------------------------------------------------------- JVM

def jvm_cmd(cp, work, flags):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed young generation: G1's adaptive young sizing settles
    # differently in each process, which moved the after-GC heap peaks of
    # hist_wide between ~240 and ~330 MB from run to run
    return (["java", "-Xms3g", "-Xmx3g", "-Xmn1536m", "-XX:+UseG1GC", "-XX:MaxGCPauseMillis=300"] + opens
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
               "-cp", cp, "perfbench.Driver"]
            + [str(x) for kv in flags.items() for x in (f"--{kv[0]}", kv[1])])


def jvm_env():
    # no metrics push-gateway: the program falls back to logging
    return {k: v for k, v in os.environ.items() if not k.startswith("GRAFT_PROMETHEUS_")}


def start_jvm(cp, work, flags):
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    out = open(os.path.join(work, "jvm.log"), "w")
    return subprocess.Popen(jvm_cmd(cp, work, flags), cwd=work, env=jvm_env(),
                            stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)


def stop(proc):
    if proc and proc.poll() is None:
        proc.kill()
    if proc:
        proc.wait()


def wait_jvm(proc, work, deadline):
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        stop(proc)
        rc = "timeout"
    if rc != 0:
        tail = open(os.path.join(work, "jvm.log"), errors="replace").read().splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"driver JVM failed ({rc})")


# ---------------------------------------------------------------- stats

def quantile(xs, q):
    s = sorted(xs)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs):
    return quantile(xs, 0.5)


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


# ---------------------------------------------------------------- checks

def _duck():
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _lake_by_file(con, lake, base, span):
    """{(file index, externalId): (points, sum of value*1000)} of a lake."""
    if not any(f.endswith(".parquet") for _, _, fs in os.walk(lake) for f in fs):
        return {}
    rows = con.execute(f"""
        SELECT (timestampMs // 1000 - {base}) // {span} AS fi, externalId,
               count(*), sum(round(value * 1000)::BIGINT)
        FROM read_parquet('{lake}/**/*.parquet', hive_partitioning = false)
        GROUP BY ALL""").fetchall()
    return {(int(fi), eid): (int(n), int(s)) for fi, eid, n, s in rows}


def _csvs(d):
    return {f for f in os.listdir(d) if f.endswith(".csv")} if os.path.isdir(d) else set()


def check_hist(con, expect, rep_dir):
    """Files whose outcome differs from the expectation, plus one for a
    wrong catalog or stray lake rows; of len(files) + 1 operations."""
    files = expect["files"]
    inp = os.path.join(rep_dir, "input")
    left, failed = _csvs(inp), _csvs(os.path.join(inp, "failed"))
    got = _lake_by_file(con, os.path.join(rep_dir, "lake"), expect["base"], expect["span"])
    bad = []
    for i, f in enumerate(files):
        want = {e: tuple(v) for e, v in f["points"].items() if v[0] > 0}
        have = {e: v for (fi, e), v in got.items() if fi == i}
        where_ok = (f["name"] in failed) if f["fatal"] else (f["name"] not in failed)
        if have != want or not where_ok or f["name"] in left:
            bad.append(f["name"])
    stray = [k for k in got if not 0 <= k[0] < len(files)]
    cat = con.execute(f"SELECT externalId, name, description FROM "
                      f"read_parquet('{rep_dir}/catalog.parquet/*.parquet')").fetchall()
    cat_ok = (len(cat) == len({e for e, _, _ in cat})
              and {e: [n, d] for e, n, d in cat} == expect["catalog"])
    if stray or not cat_ok:
        bad.append("catalog" if not cat_ok else "stray-rows")
    return len(files) + 1, bad


def check_live(con, land_log, root):
    files = land_log["files"]
    span = land_log["rows"] * land_log["step"]
    base = files[0]["ts0"]
    got = _lake_by_file(con, os.path.join(root, "lake"), base, span)
    inp = os.path.join(root, "input")
    left, failed = _csvs(inp), _csvs(inp + "_failed")
    bad = []
    for i, f in enumerate(files):
        want = {e: tuple(v) for e, v in f["points"].items() if v[0] > 0}
        have = {e: v for (fi, e), v in got.items() if fi == i}
        if (have != want or f["name"] in left or f["name"] in failed
                or f["name"] not in land_log["gone"]):
            bad.append(f["name"])
    # negative file indexes are the warm-up files, dated before the window
    if any(k[0] >= len(files) for k in got):
        bad.append("stray-rows")
    return len(files), bad


def _rows_hash(cols, rows):
    """(row count, hash of the column names and the rows), compared by the
    repository's own oracle rule (tools/compare_oracle.py: columns sorted
    by name, rows sorted, floats by exact repr)."""
    from compare_oracle import rows_key
    key = rows_key(cols, rows)
    text = "\n".join(["\x1f".join(sorted(cols))] + ["\x1f".join(r) for r in key])
    return len(key), hashlib.sha256(text.encode()).hexdigest()


def check_suite(con, record, work):
    """Queries whose row count or row hash differs from the DuckDB oracle
    over the same tables (or which failed); each such query counts every
    one of its timed executions as wrong."""
    tables = os.path.join(work, "tables")
    for f in os.listdir(tables):
        con.execute(f"CREATE OR REPLACE VIEW {f[:-8]} AS SELECT * FROM '{tables}/{f}'")
    bad, details = set(), {}
    failed_phases = {(x["query"], x["phase"]) for x in record["failures"]}
    for name, sql in record["oracle"].items():
        out = os.path.join(work, "check", name)
        if (name, "check") in failed_phases or not os.path.isdir(out):
            bad.add(name)
            details[name] = "spark run failed"
            continue
        cur = con.execute(f"SELECT * FROM read_parquet('{out}/*.parquet')")
        spark = _rows_hash([d[0] for d in cur.description], cur.fetchall())
        if sql is None:
            details[name] = {"rows": spark[0], "oracle": None}
            continue
        cur = con.execute(sql)
        oracle = _rows_hash([d[0] for d in cur.description], cur.fetchall())
        details[name] = {"rows": spark[0], "oracle_rows": oracle[0], "match": spark == oracle}
        if spark != oracle:
            bad.add(name)
    attempted = failed = 0
    for p, rec in enumerate(record["passes"], 1):
        for name in rec["queries"]:
            attempted += 1
            failed += name in bad or (name, f"pass{p}") in failed_phases
    return attempted, failed, details


# ---------------------------------------------------------------- workloads

def run_hist(cp, work, a, deadline):
    corpus = os.path.join(work, "corpus")
    expect = gen.tebis_corpus(corpus, a.seed)
    rec_path = os.path.join(work, "record.json")
    proc = start_jvm(cp, work, {"workload": "hist_wide", "work": work, "seconds": a.seconds,
                                "trace": a.trace, "cores": a.cores, "out": rec_path})
    try:
        wait_jvm(proc, work, deadline)
    finally:
        stop(proc)
    rec = json.load(open(rec_path))
    con = _duck()
    attempted, bad = 0, []
    for r in rec["reps"]:
        n, b = check_hist(con, expect, r["dir"])
        attempted += n
        bad += b
    reps = rec["reps"]
    per_file = {}
    for r in reps:
        for name, t in r["commits"].items():
            per_file.setdefault(name, []).append(t)
    # per call: quantiles over its files; then the median over calls
    e2e = {"pass_s": median([r["wall_s"] for r in reps]),
           "commit_p50_s": median([quantile(list(r["commits"].values()), 0.5) for r in reps]),
           "commit_p90_s": median([quantile(list(r["commits"].values()), 0.9) for r in reps]),
           "geomean_s": geomean([median(v) for v in per_file.values()])}
    extra = {"hist_points_per_s": median([r["points"] / r["wall_s"] for r in reps]),
             "reps": len(reps), "rep_walls_s": [r["wall_s"] for r in reps],
             "points_per_rep": expect["points"]}
    return {"rec": rec, "attempted": attempted, "failed": len(bad), "bad": bad, "e2e": e2e,
            "extra": extra, "layers": [r.get("layers", {}) for r in reps], "layer_extra": {}}


def run_live(cp, work, a, deadline):
    # Two warm-up micro-batches of files dated before the landed ones: the
    # query's first batch (at start) commits the first set; the second set
    # lands once the query is ready and is committed by the next trigger,
    # before the first timed one. One warm-up batch left the first timed
    # batch up to 1 s slower than the second.
    root = os.path.join(work, "live")
    inp = os.path.join(root, "input")
    os.makedirs(inp)
    rng = gen.random.Random(a.seed + 7919)

    def warm_set(k0, d):
        os.makedirs(d, exist_ok=True)
        for k in range(k0, k0 + LIVE_WARM_FILES):
            ts0 = 1_500_000_000 + k * 60
            series = [(f"W{c}", f"WARM{c}") for c in range(20)]
            gen.tebis_file(rng, os.path.join(d, f"TEBIS_WARM_{ts0 + 59}.csv"),
                           ts0, 1, 60, series, varied=False, fatal=False)
        return sorted(os.listdir(d))

    warm_set(0, inp)
    warm2 = os.path.join(root, "warm2")
    warm2_files = warm_set(LIVE_WARM_FILES, warm2)
    rec_path = os.path.join(work, "record.json")
    # whole trigger intervals, at least two, so every run times the same
    # set of landing-to-trigger waits and more than one micro-batch
    window = max(2, math.ceil(a.seconds / LIVE_TRIGGER_S)) * LIVE_TRIGGER_S
    n_files = int(window * LIVE_RATE)
    land_log = os.path.join(work, "landings.json")
    proc = start_jvm(cp, work, {"workload": "live_trickle", "work": work, "seconds": a.seconds,
                                "trace": a.trace, "cores": a.cores, "out": rec_path,
                                "timeout": int(deadline - time.time())})
    lander = None
    try:
        while not os.path.exists(os.path.join(work, "ready")):
            if proc.poll() is not None or time.time() > deadline:
                wait_jvm(proc, work, deadline)
                raise SystemExit("driver JVM ended before the live query was ready")
            time.sleep(0.05)
        # Spark aligns processing-time triggers to multiples of the
        # interval. The second warm-up set lands at least 1 s before the
        # next boundary, so that trigger lists all of it; the first timed
        # landing is a fixed phase after that boundary.
        boundary = (math.floor(time.time() / LIVE_TRIGGER_S) + 1) * LIVE_TRIGGER_S
        if boundary - time.time() < 1.0:
            time.sleep(max(0.0, boundary + 0.3 - time.time()))
            boundary += LIVE_TRIGGER_S
        for f in warm2_files:
            os.rename(os.path.join(warm2, f), os.path.join(inp, f))
        start_at = boundary + LIVE_PHASE_S
        drain = LIVE_TRIGGER_S + 30
        lander = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "land", os.path.join(root, "input"),
             os.path.join(root, "staged"), str(a.seed), repr(start_at), str(n_files),
             repr(LIVE_RATE), land_log, repr(drain)], stdin=subprocess.DEVNULL)
        lander.wait(timeout=max(1.0, deadline - time.time()))
        open(os.path.join(work, "done"), "w").close()
        wait_jvm(proc, work, deadline)
    finally:
        stop(lander)
        stop(proc)
    rec = json.load(open(rec_path))
    log_ = json.load(open(land_log))
    con = _duck()
    attempted, bad = check_live(con, log_, root)
    # Latency runs from when a file was due to land (open loop); a file
    # never committed counts with its whole wait. The program's own part
    # of it starts at the trigger that picks the file up, the first after
    # its landing (Spark aligns processing-time triggers to multiples of
    # the interval): live_batch_s, trigger to the batch's last
    # delete-as-commit. It is recorded, not gated: whole processes run
    # ~0.5 s faster or slower per batch on a shared 4-vCPU VM at times,
    # which spread it across runs by up to 0.27 of its median.
    due, gone, landed = log_["due"], log_["gone"], log_["landed"]
    done = {n: gone.get(n, log_["end"]) for n in due}
    lat = [done[n] - due[n] for n in due]
    batches = {}
    for n in due:
        batches.setdefault(math.ceil(landed[n] / LIVE_TRIGGER_S) * LIVE_TRIGGER_S, []).append(done[n])
    e2e = {"pass_s": max(done.values()) - min(due.values()),
           "commit_p50_s": quantile(lat, 0.5), "commit_p90_s": quantile(lat, 0.9),
           "geomean_s": geomean(lat)}
    extra = {"live_commit_p50_s": e2e["commit_p50_s"], "live_commit_p90_s": e2e["commit_p90_s"],
             "live_batch_s": median([max(v) - t for t, v in batches.items()]),
             "files": len(due), "batches": len(batches), "gen_late_max_s": log_["late_max_s"],
             "landings": {n: {"due": due[n], "landed": landed[n], "gone": gone.get(n)} for n in due}}
    layer_extra = {"live.backlog_max_files": log_["backlog_max"],
                   "live.gen_late_max_s": log_["late_max_s"], "trace.pass_s": e2e["pass_s"],
                   "live.batch_s": extra["live_batch_s"]}
    return {"rec": rec, "attempted": attempted, "failed": len(bad), "bad": bad, "e2e": e2e,
            "extra": extra, "layers": [rec.get("layers", {})], "layer_extra": layer_extra}


def run_suite(cp, work, a, deadline):
    gen.tables(os.path.join(work, "tables"), a.seed, SUITE_SF)
    rec_path = os.path.join(work, "record.json")
    proc = start_jvm(cp, work, {"workload": "llm_suite", "work": work, "seconds": a.seconds,
                                "trace": a.trace, "cores": a.cores, "out": rec_path,
                                "queries": ",".join(QUERIES)})
    try:
        wait_jvm(proc, work, deadline)
    finally:
        stop(proc)
    rec = json.load(open(rec_path))
    attempted, failed, details = check_suite(_duck(), rec, work)
    passes = rec["passes"]
    execs = [t for p in passes for t in p["queries"].values()]
    per_q = {q: median([p["queries"][q] for p in passes]) for q in QUERIES}
    e2e = {"pass_s": median([sum(p["queries"].values()) for p in passes]),
           "commit_p50_s": quantile(execs, 0.5), "commit_p90_s": quantile(execs, 0.9),
           "geomean_s": geomean(list(per_q.values()))}
    extra = {"suite_pass_s": e2e["pass_s"], "suite_geomean_s": e2e["geomean_s"],
             "passes": len(passes), "pass_times_s": [sum(p["queries"].values()) for p in passes],
             "query_median_s": per_q, "oracle": details,
             "failures": rec["failures"]}
    bad = [q for q, d in details.items() if not (isinstance(d, dict) and d.get("match", True))]
    return {"rec": rec, "attempted": attempted, "failed": failed, "bad": bad, "e2e": e2e,
            "extra": extra, "layers": [p.get("layers", {}) for p in passes], "layer_extra": {}}


RUNNERS = {"hist_wide": run_hist, "live_trickle": run_live, "llm_suite": run_suite}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(RUNNERS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4)
    a = ap.parse_args()
    t_start = time.time()
    deadline = t_start + 170
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"no program sources here ({need} is missing)")
            return 3
    cp = build()
    deadline = max(deadline, time.time() + 150)
    work = os.path.join(WORK_DIR, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = RUNNERS[a.workload](cp, work, a, deadline)
    rec, attempted, failed, bad, extra = (res[k] for k in ("rec", "attempted", "failed", "bad", "extra"))
    e2e = dict(res["e2e"], setup_s=rec["setup_s"], peak_heap_mb=rec["peak_heap_mb"])
    error_rate = failed / attempted if attempted else 1.0

    layers = res["layers"]
    if a.trace:
        names = {k for d in layers for k in d}
        values = {k: median([d[k] for d in layers if k in d]) for k in names}
        values.update(res["layer_extra"])
        values["codegen.compile_ms_setup"] = rec["codegen_ms_setup"]
        values["codegen.compile_ms_steady"] = rec["codegen_ms_steady"]
        metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in E2E}

    os.makedirs(OUT_DIR, exist_ok=True)
    suffix = "" if a.cores == 4 else f"-c{a.cores}"
    out_path = os.path.join(OUT_DIR, f"{a.workload}-s{a.seed}-t{a.trace}{suffix}.json")
    with open(out_path, "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                   "trace": a.trace, "cores": a.cores, "metrics": metrics,
                   "error_rate": error_rate, "attempted": attempted, "failed": failed,
                   "mismatched": bad, "workload_metrics": extra, "e2e": e2e,
                   "heap_round_peaks_mb": rec["heap_round_peaks_mb"],
                   "heap_left_mb": rec["heap_left_mb"],
                   "layers_per_rep": layers, "spans": rec.get("spans", []),
                   "live_batches": rec.get("batches", []),
                   "wall_s": time.time() - t_start}, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    print(f"workload {a.workload}  seed {a.seed}  local[{a.cores}]  trace {a.trace}")
    for n, m in metrics.items():
        print(f"  {n:32s} {m['value']:>16.6g} {m['unit']}")
    print(f"  {'error_rate':32s} {error_rate:>16.6g} fraction ({failed}/{attempted})")
    for k, v in extra.items():
        if isinstance(v, (int, float)):
            print(f"  {k:32s} {v:>16.6g}")
    if bad:
        print(f"  mismatched: {', '.join(map(str, bad))}")
    print(f"  record: {os.path.relpath(out_path, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
