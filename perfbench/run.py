#!/usr/bin/env python3
"""Repository benchmark: three workloads against the engine on local[nproc].

Run from the root of a checkout:

    python3 perfbench/run.py --workload medallion_sf1 --seed 1 --seconds 4 --trace 0

Workloads (one closed-loop client each; see BENCHMARK.json for why):
  medallion_sf1    CSV sources -> Bronze -> Silver -> Gold -> catalog -> serving
                   reads, over the sf0.1 fixture
  registry_floor   short registry queries through the noop sink, sf0.1
  operators_heavy  graph, substring-dedup and BPE registry queries, sf0.1

The first run in a checkout builds the engine and the harness (sbt) and
dumps the JVM's class-data-sharing archive; every run requires it
(-Xshare:on), so no run measures a JVM without it. Each run then starts one
JVM that sets up three times, measures whole passes for --seconds, and
writes its outputs; this script checks them against DuckDB, prints one
metric per line, writes the full record under .bench_build/perfbench/results/
and ends with one JSON line.

--trace 0 reports the end-to-end metrics; --trace 1 alternates untraced and
traced passes and reports the per-layer metrics. --smoke runs every workload
once over the sf0.01 fixture. --record-expected re-records
perfbench/expected.json (the registry queries' output digests).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
# Read-only fixtures: <home>/testdata/sf0.01 and sf0.1 (TPC-H-like tables).
TESTDATA = os.path.join(os.path.expanduser("~"), "testdata")
WORKLOADS = ("medallion_sf1", "registry_floor", "operators_heavy")
HEAP = "4g"
JVM_TIMEOUT_S = 170
CDS_ARCHIVE = os.path.join(WORK, "classes.jsa")
# Registry queries of operators_heavy by operator family.
FAMILIES = {"q190": "graph", "q137": "text_dedup", "q237": "bpe"}
MEDALLION_STEPS = ("sources.csv_ingest", "silver.client_application",
                   "silver.bureau_summary", "silver.payment_behavior",
                   "silver.previous_applications", "gold.client_risk_profile",
                   "gold.portfolio_risk", "serving")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build --

def source_hash():
    """Digest of everything the build compiles; a change forces a rebuild."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/build.sbt", "perfbench/project/build.properties",
             "perfbench/src"]
    for r in roots:
        p = os.path.join(ROOT, r)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def ensure_built():
    os.makedirs(WORK, exist_ok=True)
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    want = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == want and os.path.exists(cp_file):
        return open(cp_file).read().strip(), want
    log("building engine and harness (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
                   "-Dsbt.offline=true -Xmx2g")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=780, stdin=subprocess.DEVNULL)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 1)
    # Class directories go into jars: the JVM's class-data-sharing archive
    # accepts jar entries only.
    jar_dir = os.path.join(WORK, "jars")
    shutil.rmtree(jar_dir, ignore_errors=True)
    os.makedirs(jar_dir)
    cp = []
    for i, entry in enumerate(lines[-1].strip().split(":")):
        if os.path.isdir(entry):
            jar = os.path.join(jar_dir, f"classes{i}.jar")
            shutil.make_archive(jar[:-4], "zip", entry)
            os.rename(jar[:-4] + ".zip", jar)
            entry = jar
        cp.append(entry)
    cp = ":".join(cp)
    with open(cp_file, "w") as f:
        f.write(cp)
    train_cds(cp, want)
    with open(stamp, "w") as f:
        f.write(want)
    return cp, want


def train_cds(cp, build_key):
    """Dumps the classes that one short run of every workload loads (one JVM,
    sf0.01) into a class-data-sharing archive, which cuts the JVM's cold
    Spark start roughly in half. Every run requires the archive, so the
    build fails when the dump does: a build without it would measure a
    different start-up."""
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    log("training the class-data-sharing archive")
    train = os.path.join(WORK, "cds-train")
    run_java(cp, "graft.perfbench.Train",
             ["--workloads", ",".join(WORKLOADS), "--seed", "0", "--seconds", "0",
              "--trace", "0", "--fixture", f"{TESTDATA}/sf0.01", "--work", train,
              "--launch-ms", str(int(time.time() * 1000)), "--build-key", build_key],
             "cds-train.log", 400, [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"])
    shutil.rmtree(train, ignore_errors=True)
    p = subprocess.run(["java", "-Xshare:on", f"-XX:SharedArchiveFile={CDS_ARCHIVE}",
                        "-cp", cp, "-version"], capture_output=True, text=True, timeout=60)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        fail("class-data-sharing archive unusable", 1)


def java_cmd(cp, main, args, jvm_opts=()):
    opens = []
    for pkg in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{pkg}=ALL-UNNAMED"]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if not jvm_opts:
        jvm_opts = ["-Xshare:on", f"-XX:SharedArchiveFile={CDS_ARCHIVE}"]
    return (["java", *opens, *jvm_opts, f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
             "-cp", cp, main] + args)


def java_env():
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    return env


def run_java(cp, main, args, log_name, timeout, jvm_opts=()):
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    log_path = os.path.join(WORK, "logs", log_name)
    with open(log_path, "w") as out:
        p = subprocess.Popen(java_cmd(cp, main, args, jvm_opts), cwd=WORK, env=java_env(),
                             stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(l for l in f.readlines()[-40:]))
        fail(f"{main} exited with {rc}", 1)


def run_main(cp, workload, seed, seconds, trace, fixture, tag, build_key,
             timeout=JVM_TIMEOUT_S, jvm_opts=(), work=WORK):
    """Runs the harness JVM once and returns its record."""
    record = os.path.join(work, "records", tag + ".json")
    os.makedirs(os.path.dirname(record), exist_ok=True)
    run_java(cp, "graft.perfbench.Main",
             ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--fixture", fixture, "--work", work,
              "--record", record, "--launch-ms", str(int(time.time() * 1000)),
              "--build-key", build_key],
             tag + ".log", timeout, jvm_opts)
    with open(record) as f:
        return json.load(f)


# ------------------------------------------------------------- checking --

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def duck(fixture=None):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    if fixture:
        for t in TABLES:
            p = os.path.join(fixture, f"{t}.parquet")
            if os.path.isdir(p):
                p += "/*.parquet"
            elif not os.path.exists(p):
                continue
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def digest(con, relation):
    """Order-independent digest of a relation: sorted column names, row
    count and the sum of each row's md5 over a canonical text form (NULL
    as \\N, -0.0 as 0.0, timestamps in UTC without zone)."""
    cols = sorted(con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall())
    exprs = []
    for name, typ, *_ in cols:
        c = '"' + name.replace('"', '""') + '"'
        if typ == "DOUBLE":
            e = f"CASE WHEN {c} = 0 THEN '0.0' ELSE CAST({c} AS VARCHAR) END"
        elif typ.startswith("TIMESTAMP"):
            e = f"CAST(CAST({c} AS TIMESTAMP) AS VARCHAR)"
        else:
            e = f"CAST({c} AS VARCHAR)"
        exprs.append(f"coalesce({e}, '\\N')")
    row = " || chr(31) || ".join(exprs) if exprs else "''"
    n, s = con.execute(
        f"SELECT count(*), coalesce(sum(md5_number_lower({row})), 0) FROM {relation}").fetchone()
    names = ",".join(c[0] for c in cols)
    return {"rows": int(n), "hash": f"{int(s) % (1 << 64):016x}",
            "columns": hashlib.md5(names.encode()).hexdigest()[:8]}


def parquet_rel(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


def oracle_digest(fixture, name, sql):
    """DuckDB result of a registry query's oracle SQL, cached per fixture."""
    key = hashlib.sha256((fixture + "\0" + sql).encode()).hexdigest()[:16]
    cache = os.path.join(WORK, "oracle", f"{name}-{key}.json")
    if os.path.exists(cache):
        return json.load(open(cache))
    con = duck(fixture)
    con.execute(f"CREATE TEMP TABLE o AS {sql}")
    d = digest(con, "o")
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        json.dump(d, f)
    return d


def output_digest(con, path):
    """Digest of the parquet files under `path`; None when there are none."""
    if not any(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs):
        return None
    return digest(con, parquet_rel(path))


def check(rec, sf, expected):
    """Returns ({call name: ok}, notes)."""
    facts = rec["facts"]
    ok, notes = {}, []
    con = duck()
    if rec["workload"] == "medallion_sf1":
        got_p = output_digest(con, facts["gold_profile"])
        got_r = output_digest(con, facts["gold_portfolio"])
        exp_p = oracle_digest(rec["fixture"], "q60", facts["profile_sql"])
        exp_r = oracle_digest(rec["fixture"], "q61", facts["portfolio_sql"])
        good = got_p == exp_p and got_r == exp_r
        if not good:
            notes.append(f"gold mismatch: profile {got_p} vs {exp_p}; "
                         f"portfolio {got_r} vs {exp_r}")
        ok["*"] = good
        return ok, notes
    exp = expected.get(sf, {})
    for q in facts["queries"]:
        got = output_digest(con, os.path.join(rec["check_dir"], q))
        if got is None:
            ok[q] = False
            notes.append(f"{q}: no output")
            continue
        want = exp.get(q)
        ok[q] = want is not None and all(got[k] == want[k] for k in ("rows", "hash", "columns"))
        if not ok[q]:
            notes.append(f"{q}: got {got}, expected {want}")
    return ok, notes


# -------------------------------------------------------------- metrics --

def pct(values, p):
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, int(-(-p * len(v) // 100)) - 1))]


def timed_calls(rec, traced=None):
    """(name, seconds, ok) of every boundary call, in passes of the given
    kind (traced or not; None for all)."""
    spans = rec["spans"]
    out = []
    for p in rec["passes"]:
        if traced is not None and p["traced"] != traced:
            continue
        for s in spans[p["first_span"]:p["end_span"]]:
            is_call = (s["name"] in MEDALLION_STEPS if rec["workload"] == "medallion_sf1"
                       else s["parent"] == -1)
            if is_call:
                out.append((s["name"], s["end_s"] - s["start_s"], s["ok"]))
    return out


def end_to_end(rec, ok):
    passes = [p for p in rec["passes"] if not p["traced"]]
    lat = [c[1] for c in timed_calls(rec, False)]
    wall = statistics.median(p["wall_s"] for p in passes)
    # A call fails when it raised or when its output did not check out;
    # a medallion pass that raised fails as well.
    calls = timed_calls(rec)
    failed = sum(1 for c in calls if not c[2] or not ok.get(c[0], ok.get("*", False)))
    failed += sum(1 for p in rec["passes"] if p["rows"] < 0)
    # Gated: setup_s and wall_s. setup_s is JVM start plus the median of
    # three set-ups in the one JVM: the first is cold, the other two
    # re-create the session with classes loaded (setup_cold_s is the first
    # alone). query_p50_s is printed, not gated: on operators_heavy it is
    # the middle one of three calls, one query's latency, which spreads
    # more from run to run than the bound allows. No run holds the 100
    # calls a p90 needs to have ten samples beyond it.
    m = {
        "setup_s": (rec["jvm_start_s"] + statistics.median(rec["setup_runs_s"]), "s"),
        "wall_s": (wall, "s"),
    }
    extra = {
        "query_p50_s": (statistics.median(lat), "s"),
        "query_p90_s": (pct(lat, 90), "s"),
        "calls_beyond_p90": (len(lat) - -(-90 * len(lat) // 100), "count"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
        "fail_ratio": (failed / max(1, len(calls)), "ratio"),
        "passes": (len(passes), "count"),
        "calls": (len(lat), "count"),
        "setup_cold_s": (rec["jvm_start_s"] + rec["setup_runs_s"][0], "s"),
        "prepare_s": (rec["prepare_s"], "s"),
        "warmup_s": (rec["warmup_s"], "s"),
        "host_canary_s": (rec["host_canary_s"], "s"),
    }
    if rec["workload"] == "medallion_sf1":
        # Source rows ingested into Bronze and carried on to Gold, per wall
        # second of the pass (a pass that raised carries none).
        extra["rows_per_s"] = (
            statistics.median(max(p["rows"], 0) / p["wall_s"] for p in passes), "rows/s")
        extra["write_amp"] = (rec["facts"]["lake_bytes"] / rec["facts"]["csv_bytes"], "ratio")
    return m, extra, len(calls), failed


def per_layer(rec):
    """Per-layer metrics of the traced passes, per traced pass."""
    traced = [p for p in rec["passes"] if p["traced"]]
    n = len(traced)
    groups = rec.get("groups", {})
    spans = [s for p in traced for s in rec["spans"][p["first_span"]:p["end_span"]]]

    def span_s(name):
        return sum(s["end_s"] - s["start_s"] for s in spans if s["name"] == name) / n

    def grp(names, key):
        return sum(groups.get(g, {}).get(key, 0) for g in names) / n

    facts = rec["facts"]
    med = rec["workload"] == "medallion_sf1"
    m = {}
    ingest_s = span_s("sources.csv_ingest")
    m["sources.csv_ingest.s"] = (ingest_s, "s")
    m["sources.csv_ingest.mb_per_s"] = (
        facts["csv_bytes"] / 1048576 / ingest_s if med and ingest_s else 0.0, "MB/s")
    m["bronze.output_mb"] = (facts.get("bronze_bytes", 0) / 1048576, "MB")
    m["medallion.output_mb"] = (facts.get("lake_bytes", 0) / 1048576, "MB")
    m["medallion.write_amp"] = (
        facts["lake_bytes"] / facts["csv_bytes"] if med else 0.0, "ratio")
    m["medallion.readback.s"] = (span_s("medallion.readback"), "s")
    for step in MEDALLION_STEPS[1:]:
        m[f"{step}.s"] = (span_s(step), "s")
    # Pass time that no layer span covers (self time of the pass span).
    m["medallion.uncovered.s"] = (
        sum(s["self_s"] for s in spans if s["name"] == "medallion.pass") / n, "s")
    queries = [g for g in groups if g.startswith("q")]
    q_count = max(1, sum(1 for s in spans if s["parent"] == -1 and s["name"].startswith("q")))
    m["queries.plan_s"] = (sum(groups[g]["plan_s"] for g in groups) / n, "s")
    m["queries.exec_s"] = (sum(groups[g]["exec_s"] for g in groups) / n, "s")
    m["queries.jobs_per_query"] = (
        sum(groups[g]["jobs"] for g in queries) / q_count if queries else 0.0, "count")
    m["queries.tasks_per_query"] = (
        sum(groups[g]["tasks"] for g in queries) / q_count if queries else 0.0, "count")
    m["floor.trivial_job_s"] = (rec["trivial_job_s"], "s")
    for fam in ("graph", "text_dedup", "bpe"):
        names = [g for g in groups if g.split("_")[0] in FAMILIES
                 and FAMILIES[g.split("_")[0]] == fam]
        m[f"ops.{fam}.s"] = (sum(span_s(g) for g in names), "s")
        m[f"ops.{fam}.jobs"] = (grp(names, "jobs"), "count")
        m[f"ops.{fam}.scan_mb"] = (grp(names, "input_mb"), "MB")
        m[f"ops.{fam}.shuffle_write_mb"] = (grp(names, "shuffle_write_mb"), "MB")
        m[f"ops.{fam}.spill_mb"] = (grp(names, "spill_mb"), "MB")
    m["cache.peak_mb"] = (rec["cache_peak_mb"], "MB")
    m["cache.dropped_blocks"] = (rec["cache_dropped_blocks"] / n, "count")
    wall = rec["traced_wall_s"] / n
    untraced_wall = statistics.median(
        p["wall_s"] for p in rec["passes"][1:] if not p["traced"])
    cores = rec["cpus"]
    m["engine.task_skew"] = (max([g["worst_skew"] for g in groups.values()] or [0.0]), "ratio")
    m["engine.cpu_util"] = (grp(groups, "run_s") / (wall * cores), "ratio")
    m["engine.gc_s"] = (grp(groups, "gc_s"), "s")
    m["engine.failed_tasks"] = (grp(groups, "failed_tasks"), "count")
    m["engine.jobs"] = (grp(groups, "jobs"), "count")
    m["engine.peak_rss_mb"] = (rec["peak_rss_mb"], "MB")
    m["trace.overhead"] = (statistics.median(p["wall_s"] for p in traced) / untraced_wall,
                           "ratio")
    return m


# ----------------------------------------------------------------- main --

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="every workload once over sf0.01, checked, for the harness's tests")
    ap.add_argument("--record-expected", action="store_true",
                    help="re-record perfbench/expected.json from the DuckDB oracles")
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a checkout of the engine")
    if not os.path.isdir(f"{TESTDATA}/sf0.1"):
        fail(f"fixture {TESTDATA}/sf0.1 not found")

    cp, src_hash = ensure_built()
    if a.record_expected:
        return record_expected(cp, src_hash)
    if a.smoke:
        results = [run_once(cp, src_hash, w, a.seed, 0, 0, smoke=True) for w in WORKLOADS]
        for r in results:
            print(json.dumps(r))
        sys.exit(0 if all(r["correct"] and r["failed"] == 0 for r in results) else 1)
    if not a.workload:
        fail("--workload is required")
    res = run_once(cp, src_hash, a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(res))


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def fixture_for(smoke):
    sf = "sf0.01" if smoke else "sf0.1"
    return f"{TESTDATA}/{sf}", sf


def run_once(cp, src_hash, workload, seed, seconds, trace, smoke=False):
    fixture, sf = fixture_for(smoke)
    tag = f"{workload}-seed{seed}-trace{trace}{'-smoke' if smoke else ''}"
    rec = run_main(cp, workload, seed, seconds, trace, fixture, tag, src_hash)
    expected = json.load(open(os.path.join(HERE, "expected.json")))
    ok, notes = check(rec, sf, expected)
    for n in notes:
        log(f"check: {n}")
    m, extra, attempted, failed = end_to_end(rec, ok)
    provenance = {
        "workload": workload, "seed": seed, "sf": sf, "traced": bool(trace),
        "cpus": rec["cpus"], "heap_mb": rec["heap_mb"], "git_sha": git_sha(),
        "source_hash": src_hash, "spark_version": rec["spark_version"],
        "jvm_version": rec["jvm_version"], "host_canary_s": rec["host_canary_s"],
        "seconds": seconds, "cds_archive": os.path.relpath(CDS_ARCHIVE, ROOT),
    }
    metrics = m
    if trace:
        metrics = per_layer(rec)
    full = {"provenance": provenance, "end_to_end": m, "extra": extra,
            "per_layer": metrics if trace else None,
            "top_ops": rec.get("top_ops"), "check_notes": notes,
            "spans": rec["spans"], "passes": rec["passes"], "groups": rec.get("groups")}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    result_path = os.path.join(WORK, "results", tag + ".json")
    with open(result_path, "w") as f:
        json.dump(full, f, indent=1)
    for k, v in provenance.items():
        print(f"provenance {k} = {v}")
    for k, (v, unit) in list(m.items()) + list(extra.items()):
        print(f"metric {workload} {k} = {v:.6g} {unit}")
    if trace:
        for k, (v, unit) in metrics.items():
            print(f"layer {workload} {k} = {v:.6g} {unit}")
        for op in rec.get("top_ops") or []:
            print(f"layer {workload} plan.top_ops {op['op']} = {op['s']:.4g} s")
    print(f"record {os.path.relpath(result_path, ROOT)}")
    return {"correct": not notes, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def record_expected(cp, build_key):
    """Digests of every registry query of both registry workloads, from the
    DuckDB oracle where the query has one (and only when Spark agrees), from
    Spark's own output otherwise."""
    out = {}
    for sf in ("sf0.01", "sf0.1"):
        fixture = f"{TESTDATA}/{sf}"
        for w in ("registry_floor", "operators_heavy"):
            rec = run_main(cp, w, 0, 0, 0, fixture, f"expected-{w}-{sf}", build_key, 900)
            con = duck()
            for q in rec["facts"]["queries"]:
                got = digest(con, parquet_rel(os.path.join(rec["check_dir"], q)))
                sql = rec["facts"]["oracle_sql"].get(q)
                if sql:
                    want = oracle_digest(fixture, q, sql)
                    if want != got:
                        log(f"{sf} {q}: Spark {got} disagrees with oracle {want}; not recorded")
                        continue
                out.setdefault(sf, {})[q] = dict(got, source="oracle" if sql else "spark")
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    log(f"recorded {sum(len(v) for v in out.values())} digests")


if __name__ == "__main__":
    main()
