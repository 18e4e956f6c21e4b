#!/usr/bin/env python3
"""Benchmark launcher for the wikidata2pgspark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload wd_load --seed 1 --seconds 10 --trace 0

It builds the engine and the benchmark JVM from source (cached in
`.bench_build/` by a content fingerprint), generates the seed's inputs,
starts a private Postgres for `wd_load`, runs one workload in one JVM,
checks every output and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones; the traced run also writes its metrics and spans to
`.bench_build/trace/<workload>-seed<n>.json` (or `--trace-out`).

`--check-seeds` runs the seed-determinism check instead of a workload.
Workloads, metrics and the numbers behind their sizes are in
perfbench/README.md.
"""
import argparse
import getpass
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")

CPUS = os.cpu_count() or 4
HEAP = "3g"
# C1 only, and the throughput collector. With the default tiered C2,
# compilation kept making operations faster until the run ended (a
# query_suite run used about 155 CPU-seconds against 85 with C1 only), so a
# timing depended on how far compilation had got, which moved with host
# load. C1 code is steady from the second operation on; see README.md
# ("Noise").
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC"]
# Entities per generated dump; see README.md for how it was sized.
ENTITIES = 3000
# Declared keys of query_suite; see README.md for the choice.
QUERY_KEYS = ["wd_property_stats", "dedup_components", "text_decontaminate"]
FIXTURE = os.path.join(BENCH, "fixture", "sf0.01")
FIXTURE_TABLES = ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"]
# Postgres flush policy, the same on both sides of any comparison.
PG_SETTINGS = {"fsync": "off", "synchronous_commit": "off", "autovacuum": "off"}
PG_PORT = 54329

WORKLOADS = ["wd_load", "query_suite"]
END_TO_END = [("setup_s", "s"), ("op_s", "s"), ("rows_per_s", "1/s"),
              ("retained_heap_mb", "MB")]
PER_LAYER = (
    [(f"spark.{k}", u) for k, u in [
        ("plan_s", "s"), ("jobs", "count"), ("tasks", "count"),
        ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
        ("shuffle_write_bytes", "B"), ("spill_bytes", "B")]]
    + [(f"wikidata.{k}", u) for k, u in [
        ("decompress_s", "s"), ("json_scan_s", "s"), ("flatten_s", "s"),
        ("typed_s", "s"), ("label_join_s", "s"),
        ("input_bytes_per_dump_byte", "ratio")]]
    + [(f"sources.{k}", u) for k, u in [
        ("copy_s", "s"), ("promote_s", "s"), ("wal_bytes_per_row", "B"),
        ("stored_bytes_per_row", "B")]]
    + [(f"ops.{k}.{m}", u) for k in QUERY_KEYS for m, u in [
        ("warm_s", "s"), ("cold_s", "s"), ("jobs", "count"),
        ("shuffle_write_bytes", "B")]]
    + [("ckpt.storage_bytes_after_release", "B"), ("jvm.peak_rss_mb", "MB"),
       ("jvm.first_op_s", "s"), ("trace.overhead_s", "s")])

JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


# ------------------------------------------------------------------ build

def fingerprint():
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(ROOT, "src", "main"),
              os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties"),
              os.path.join(BENCH, "src")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt; cache the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources (build.sbt, src/main/scala) not found next to "
             "perfbench/; run from the root of a full checkout")
    fp = fingerprint()
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp_file = os.path.join(BUILD, "fingerprint")
    if os.path.exists(cp_file) and os.path.exists(fp_file):
        with open(fp_file) as f:
            if f.read() == fp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as lf:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=lf, text=True,
            timeout=840)
        lf.write(r.stdout)
    cps = [l for l in r.stdout.splitlines()
           if l.startswith("/") and "perfbench" in l and ".jar" in l]
    if r.returncode != 0 or not cps:
        fail(f"sbt build failed (exit {r.returncode}); see .bench_build/build.log")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(fp_file, "w") as f:
        f.write(fp)
    return cps[-1].strip()


# --------------------------------------------------------------- postgres

class Postgres:
    """A private Postgres 15 cluster under .bench_build/pg, reached over
    an abstract unix socket so no socket file or port is shared."""

    def __init__(self):
        self.dir = os.path.join(BUILD, "pg")
        self.data = os.path.join(self.dir, "data")
        self.host = f"@wd2pg-perfbench-{os.getpid()}"
        self.port = PG_PORT
        self.started = False
        # postgres refuses to run as root: as root, run it in a user
        # namespace that maps this user to an unprivileged uid
        self.wrap = (["unshare", "--user", "--map-user=1000",
                      "--map-group=1000"] if os.geteuid() == 0 else [])

    def run(self, cmd):
        r = subprocess.run(self.wrap + cmd, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=60)
        if r.returncode != 0:
            fail(f"{cmd[0]} failed: {r.stdout.strip()[-500:]}")

    def init(self):
        """initdb once per checkout; returns the seconds it took."""
        if os.path.exists(os.path.join(self.data, "PG_VERSION")):
            return 0.0
        t = time.time()
        shutil.rmtree(self.data, ignore_errors=True)
        os.makedirs(self.dir, exist_ok=True)
        self.run(["initdb", "-D", self.data, "-U", getpass.getuser(),
                  "-E", "UTF8", "--no-sync", "--auth=trust"])
        return time.time() - t

    def start(self):
        opts = f"-p {self.port} -k {self.host} -c listen_addresses=''" + "".join(
            f" -c {k}={v}" for k, v in PG_SETTINGS.items())
        self.run(["pg_ctl", "-D", self.data, "-o", opts, "-l",
                  os.path.join(self.dir, "server.log"), "-w", "start"])
        self.started = True

    def stop(self):
        if self.started:
            self.started = False
            subprocess.run(self.wrap + ["pg_ctl", "-D", self.data, "stop",
                                        "-m", "fast", "-w"],
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                           timeout=60)


# ----------------------------------------------------------------- checks

NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
           "USMALLINT", "UINTEGER", "UBIGINT", "FLOAT", "DOUBLE", "DECIMAL")


def canon(col, typ):
    """A column's canonical text, so that a Spark parquet result and a
    DuckDB replay of the same rows agree whatever physical types each
    engine chose (integer vs decimal vs double, timestamp precision)."""
    c = f'"{col}"'
    base = typ.split("(")[0]
    if typ.endswith("[]"):
        el = typ[:-2].split("(")[0]
        if el in NUMERIC:
            return f"CAST(list_transform({c}, x -> CAST(x AS DOUBLE) + 0.0) AS VARCHAR)"
        return f"CAST({c} AS VARCHAR)"
    if base in NUMERIC:
        return f"CAST(CAST({c} AS DOUBLE) + 0.0 AS VARCHAR)"
    if base.startswith("TIMESTAMP"):
        return f"CAST(CAST({c} AS TIMESTAMP) AS VARCHAR)"
    return f"CAST({c} AS VARCHAR)"


def digest(con, relation):
    """Order-independent digest of a relation: (column names, rows, sum of
    row hashes over canonical column text)."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE __d AS {relation}")
    cols = sorted(con.execute("DESCRIBE __d").fetchall())
    exprs = ", ".join(canon(n, t) for n, t, *_ in cols)
    n, s = con.execute(
        f"SELECT count(*), CAST(sum(hash(list_value({exprs}))) AS VARCHAR) "
        "FROM __d").fetchone()
    con.execute("DROP TABLE __d")
    return {"columns": [c[0] for c in cols], "rows": n, "sum": s or "0"}


def duck():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    return con


def oracle_digests(sqls):
    """Oracle digest per key, cached by the SQL text: a wd_* oracle names
    its seed's dump, so it is replayed once per seed."""
    cache = os.path.join(BUILD, "data", "oracle.json")
    have = {}
    if os.path.exists(cache):
        with open(cache) as f:
            have = json.load(f)
    ids = {k: hashlib.sha256(sql.encode()).hexdigest() for k, sql in sqls.items()}
    todo = [k for k in sqls if ids[k] not in have]
    if todo:
        con = duck()
        for t in FIXTURE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{FIXTURE}/{t}.parquet')")
        for k in todo:
            have[ids[k]] = digest(con, sqls[k])
        con.close()
        with open(cache + ".tmp", "w") as f:
            json.dump(have, f, indent=1, sort_keys=True)
        os.replace(cache + ".tmp", cache)
    return {k: have[ids[k]] for k in sqls}


def check_outputs(res):
    """Compare each checked key's Spark result with its oracle digest;
    returns the set of keys that failed."""
    checks = res["checks"]
    if not checks:
        return set()
    want = oracle_digests(res["oracle_sql"])
    con = duck()
    bad = set()
    for c in checks:
        try:
            got = digest(con, f"SELECT * FROM read_parquet('{c['path']}/*.parquet')")
        except duckdb.Error as e:
            got = f"unreadable: {e}"
        if got != want[c["key"]]:
            log(f"output check failed for {c['key']}: spark {got} "
                f"!= oracle {want[c['key']]}")
            bad.add(c["key"])
    con.close()
    return bad


# ------------------------------------------------------------------- main

def java_cmd(cp, run_dir, jvm_args):
    return (["java"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS]
            + JVM_FLAGS + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
               "-cp", cp, "graft.perfbench.Main"] + jvm_args)


# the benchmark JVM in flight, stopped by the signal handler too
JVM = []


def stop_jvm(p):
    if p.poll() is None:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()


def run_jvm(cmd, run_dir, timeout):
    with open(os.path.join(run_dir, "jvm.log"), "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        JVM.append(p)
        try:
            rc = p.wait(timeout=max(10, timeout))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            stop_jvm(p)
            JVM.remove(p)
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"benchmark JVM failed ({rc}):\n{tail}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def wd_data_dir(seed):
    return os.path.join(BUILD, "data", f"wd-n{ENTITIES}-seed{seed}")


def check_seeds(cp, seed):
    """Seed determinism: one seed twice gives byte-identical dumps; another
    seed gives a different dump with the same statements-per-entity rate
    (within 3 %)."""
    base = os.path.join(BUILD, "seedcheck")
    shutil.rmtree(base, ignore_errors=True)
    metas = []
    for i, s in enumerate([seed, seed, seed + 1]):
        d = os.path.join(base, f"gen{i}")
        run_dir = os.path.join(base, f"run{i}")
        os.makedirs(os.path.join(run_dir, "tmp"))
        run_jvm(java_cmd(cp, run_dir, [
            "--workload", "gen", "--seed", str(s), "--seconds", "0",
            "--trace", "0", "--cpus", str(CPUS), "--run-dir", run_dir,
            "--data-dir", d, "--entities", str(ENTITIES)]), run_dir, 170)
        meta = {}
        with open(os.path.join(d, "meta.properties")) as f:
            for line in f:
                if "=" in line and not line.startswith("#"):
                    k, v = line.strip().split("=", 1)
                    meta[k] = v
        metas.append(meta)
    shutil.rmtree(base, ignore_errors=True)
    rate = [int(m["statements"]) / int(m["entities"]) for m in metas]
    same = all(metas[0][k] == metas[1][k]
               for k in ("plain_sha256", "bz2_sha256", "statements_digest"))
    differ = metas[0]["plain_sha256"] != metas[2]["plain_sha256"]
    close = abs(rate[2] - rate[0]) / rate[0] <= 0.03
    print(json.dumps({"same_seed_identical": same, "other_seed_differs": differ,
                      "statements_per_entity": rate,
                      "rate_within_3pct": close,
                      "sha256": [m["plain_sha256"] for m in metas]}))
    sys.exit(0 if same and differ and close else 1)


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--trace-out")
    ap.add_argument("--check-seeds", action="store_true")
    a = ap.parse_args()
    if not a.check_seeds and not a.workload:
        ap.error("--workload is required")
    if a.seed < 0:
        ap.error("--seed must be >= 0")

    cp = build()
    build_s = time.time() - t_start
    if a.check_seeds:
        check_seeds(cp, a.seed)

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    pg = Postgres() if a.workload == "wd_load" else None

    def on_signal(signum, _frame):
        for p in JVM:
            stop_jvm(p)
        if pg:
            pg.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    excluded = build_s
    try:
        jvm_args = ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--cpus", str(CPUS), "--run-dir", run_dir]
        jvm_args += ["--data-dir", wd_data_dir(a.seed),
                     "--entities", str(ENTITIES)]
        if a.workload == "query_suite":
            jvm_args += ["--fixture", FIXTURE, "--keys", ",".join(QUERY_KEYS)]
        if pg:
            excluded += pg.init()
            pg.start()
            jvm_args += ["--pg-host", pg.host, "--pg-port", str(pg.port)]
        elapsed = time.time() - t_start - build_s
        res = run_jvm(java_cmd(cp, run_dir, jvm_args), run_dir, 170 - elapsed)
        if pg:
            pg.stop()
        bad = check_outputs(res)
    finally:
        if pg:
            pg.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    ops = res["ops"]
    # a key whose output failed its check fails every timed run of it
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in bad)
    log("op seconds: " + " ".join(f"{o['s']:.2f}" for o in ops))
    for o in ops:
        if not o["ok"]:
            log(f"{o['name']} failed: {o['error']}")
    excluded += res["excluded_s"]
    e2e = {
        "setup_s": res["first_op_epoch_s"] - t_start - excluded,
        "op_s": res["op_s"],
        "rows_per_s": res["rows_per_op"] / res["op_s"],
        "retained_heap_mb": res["retained_heap_mb"],
    }
    units = dict(END_TO_END + PER_LAYER)
    if a.trace:
        layers = dict(res["layers"], **{"jvm.peak_rss_mb": res["peak_rss_mb"],
                                        "jvm.first_op_s": res["first_op_s"]})
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER}
        out = a.trace_out or os.path.join(
            BUILD, "trace", f"{a.workload}-seed{a.seed}.json")
        os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
        with open(out, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "seconds": a.seconds, "cpus": CPUS,
                       "end_to_end": {k: {"value": v, "unit": units[k]}
                                      for k, v in e2e.items()},
                       "per_layer": metrics, "spans": res["spans"],
                       "ops": ops,
                       **{k: res[k] for k in ("dump", "passes",
                                              "per_key_warm_s", "per_key_cold_s")
                          if k in res}}, f, indent=1)
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
