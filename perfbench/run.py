#!/usr/bin/env python3
"""graft's benchmark: one closed-loop run of one workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload season --seed 1 --seconds 20 --trace 0

Builds the program and the harness from source with sbt when the sources
changed since the last build, runs one JVM (Spark `local[N]`, N = min(4,
nproc)), checks the outputs, prints a per-metric summary and, as the last
line of stdout, one JSON object:

    {"correct": true, "attempted": 12, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones. Workload sizes and the query list are in
perfbench/workloads.json; the season mix is in SeasonGen.scala. Everything
the run writes stays under perfbench/.work (inputs and outputs are deleted
at the end; the run record is kept in perfbench/.work/records) and the sbt
build directories.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# the JVM's share of the 180 s a run may take once built; DuckDB's check
# of the loops outputs and the set-up of this script take the rest
JVM_LIMIT_S = 165
BUILD_LIMIT_S = 850
# Spark runs as local[N], N = min(CORES_MAX, nproc)
CORES_MAX = 4
# a fixed heap and young generation, so the resident set does not depend
# on how far the collector chose to grow the heap; the heap is touched at
# start, so the first touches of fresh memory (slow page faults in a VM)
# fall in set-up and not in whichever timed pass first reached a region
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:ReservedCodeCacheSize=512m",
             "-XX:+UseCodeCacheFlushing", "-XX:-UsePerfData", "-XX:+AlwaysPreTouch"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the program's sources and build, and the harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no sbt server (it opens a socket under the temp dir), temp files
    # and JVM perf data kept out of the system temp dir
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(src_hash):
    """Compiles the program and the harness unless this source tree is already built."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == src_hash:
        return open(cp_file).read().strip()
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                         HERE, sbt_env(), out, BUILD_LIMIT_S)
    if code != 0 or not os.path.exists(cp_file):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {code}); log in {log}")
    with open(stamp, "w") as fh:
        fh.write(src_hash)
    return open(cp_file).read().strip()


def run_child(cmd, cwd, env, out, limit_s):
    """Runs cmd in its own process group; kills the group on timeout and waits."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


# ---------------------------------------------------------------------------
# loops: compare each query's rows with its DuckDB twin
# ---------------------------------------------------------------------------

def canon_value(v):
    """One value as text, so Spark's and DuckDB's rows compare by content."""
    if v is None:
        return "null"
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_value(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "null" if math.isnan(v) else repr(v)
    if isinstance(v, int):
        return str(v)
    return str(v)


def table_digest(con, sql):
    """(row count, order-insensitive hash) of a query's result, columns by name."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("\x1f".join(canon_value(r[i]) for i in order) for r in cur.fetchall())
    h = hashlib.sha256()
    h.update("\x1f".join(cols[i] for i in order).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return len(rows), h.hexdigest()


def oracle_con(input_dir):
    import duckdb
    con = duckdb.connect(config={"threads": 2, "autoinstall_known_extensions": False})
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet/*.parquet')")
    return con


def verify_loops(check_dir, input_dir, names, corrupt_expected=False):
    """Per query: None if Spark's rows match the DuckDB twin, else the reason.
    `corrupt_expected` flips the expected hash (the self-test's red case)."""
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    con = oracle_con(input_dir)
    out = {}
    for q in names:
        path = os.path.join(check_dir, q)
        if q not in oracle:
            out[q] = "no DuckDB twin"
            continue
        if not os.path.isdir(path):
            out[q] = "no Spark output"
            continue
        try:
            expected = table_digest(con, oracle[q])
            got = table_digest(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")
        except Exception as e:  # a broken twin or unreadable output is a failed check
            out[q] = f"compare error: {e}"[:300]
            continue
        if corrupt_expected:
            expected = (expected[0], "0" * 64)
        out[q] = None if got == expected else f"rows/hash {got[0]}/{got[1][:12]} != twin {expected[0]}/{expected[1][:12]}"
    con.close()
    return out


# ---------------------------------------------------------------------------

def commit_id():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "not a git checkout"
    except (OSError, subprocess.TimeoutExpired):
        return "not a git checkout"


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's small inputs")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test only: corrupt every expected loops hash")
    args = ap.parse_args()

    bench = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(bench))
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload!r}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.exists(os.path.join(ROOT, "build.sbt")):
        fail("the program's sources (src/main/scala, build.sbt) are not in this checkout")
    cfg = json.load(open(os.path.join(HERE, "workloads.json")))
    wcfg = dict(cfg["workloads"][args.workload])
    if args.size == "tiny":
        wcfg.update(cfg["tiny"][args.workload])

    src_hash = source_hash()
    classpath = build(src_hash)
    t_built = time.time()

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(WORK, run_id)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    result_file = os.path.join(work, "result.json")
    cores = max(1, min(CORES_MAX, os.cpu_count() or 1))
    jargs = ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace), "--work", work, "--cores", str(cores), "--out", result_file,
             "--check-dir", os.path.join(work, "check")]
    for k in ("plays", "sample", "corrupt", "docs", "vecs"):
        if k in wcfg:
            jargs += [f"--{k}", str(wcfg[k])]
    if "queries" in wcfg:
        jargs += ["--queries", ",".join(wcfg["queries"])]

    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    for var, sub in (("SPARK_GRAFT_VOCAB_DIR", "vocab"), ("SPARK_GRAFT_DEDUP_DIR", "dedup"),
                     ("SPARK_GRAFT_IVF_DIR", "ivf"), ("SPARK_GRAFT_MV_DIR", "mv"),
                     ("SPARK_GRAFT_SNAP_DIR", "snap")):
        env[var] = os.path.join(work, sub)
    jvm = ["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += ["-cp", classpath, "graft.perfbench.Main"] + jargs
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        code = run_child(jvm, ROOT, env, out, JVM_LIMIT_S)
    if code != 0 or not os.path.exists(result_file):
        sys.stderr.write(open(log).read()[-6000:])
        fail(f"benchmark JVM failed (exit {code}); log in {log}")
    res = json.load(open(result_file))

    errors = list(res["errors"])
    attempted, failed = res["attempted"], res["failed"]
    if args.workload == "loops":
        names = wcfg["queries"]
        twin = verify_loops(os.path.join(work, "check"), os.path.join(work, "inputs"), names,
                            corrupt_expected=args.corrupt_expected)
        for q, err in twin.items():
            if err is not None and not any(e.startswith(f"check {q}:") for e in errors):
                failed += 1
                errors.append(f"check {q}: {err}")
    correct = failed == 0

    group = "per_layer" if args.trace else "end_to_end"
    measured = res[group]
    metrics = {}
    for m in spec[group]:
        if m["name"] not in measured:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": measured[m["name"]], "unit": m["unit"]}

    record = dict(res, commit=commit_id(), source_sha256=src_hash, correct=correct,
                  failed=failed, errors=errors, failed_ratio=failed / max(1, attempted),
                  build_s=t_built - t_start, total_s=time.time() - t_start)
    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1)
    shutil.move(log, rec_path[:-len(".json")] + ".log")
    shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"cores {res['spark_cores']}/{res['nproc']}  heap {res['heap_max_mb']} MB  "
          f"passes {len(res['passes'])}  size {json.dumps(res['size'], sort_keys=True)}")
    for name, v in metrics.items():
        print(f"  {name:40s} {v['value']:14.6g} {v['unit']}")
    print(f"  {'failed_ratio':40s} {record['failed_ratio']:14.6g} ratio ({failed}/{attempted})")
    if not args.trace:
        print(f"  op_tail_s is p{res['op_tail_percentile']:.1f} of n={res['op_samples']} ops")
    for k, v in sorted(res.get("extra", {}).items()):
        print(f"  {k:40s} {v:14.6g}")
    for f in res.get("plan_flips", []):
        print(f"  plan flip: {f['op']} jobs {f['jobs']} shuffle bytes {f['shuffle_bytes']}")
    for e in errors:
        print(f"  FAILED {e}")
    print(f"  run record: {os.path.relpath(rec_path, ROOT)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
