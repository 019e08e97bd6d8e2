#!/usr/bin/env python3
"""graft benchmark: one seeded workload, timed, then checked against DuckDB.

    python3 perfbench/run.py --workload om_requests --seed 1 --seconds 10 --trace 0

Run from the root of a graft source tree. The first run compiles graft's
sources together with the harness in perfbench/ (sbt); later runs reuse the
build while the sources are unchanged. The harness (graftbench.Main) makes
the inputs from the seed, runs the untimed set-up and warm-up, then a timed
closed loop with one client thread, and writes its run record
(perfbench/work/<run>/run.json: seed, environment, every operation with its
parameters, latency and failure cause, metrics). This script then checks
every checked output against DuckDB and prints, as its last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones of the
traced run. The exit code is 0 only when every operation ran and matched.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["om_requests", "recon_x10", "curate_x10", "ingest"]
E2E = ["setup_s", "live_heap_mb", "op_p50_ms", "op_p90_ms", "ops_per_s",
       "pass_s", "write_mb_per_s"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JVM_HEAP = "2g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation found (set SPARK_HOME)")
    return home


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True))
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return [f for f in files if os.path.isfile(f)]


def build(env):
    """Compiles graft and the harness unless the sources are unchanged."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.isdir(classes) and os.path.exists(stamp) \
            and open(stamp).read() == digest.hexdigest():
        return classes
    sbt = shutil.which("sbt")
    if not sbt:
        die("sbt not found on PATH")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    log = os.path.join(HERE, "target", "build.log")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    env.setdefault("COURSIER_MODE", "offline")
    with open(log, "w") as out:
        try:
            tmp = os.path.join(HERE, "target", "tmp")
            os.makedirs(tmp, exist_ok=True)
            rc = subprocess.run([sbt, "-batch", "-Dsbt.log.noformat=true",
                                 "-Dsbt.server.forcestart=false",
                                 "-J-XX:-UsePerfData", f"-J-Djava.io.tmpdir={tmp}",
                                 "compile"],
                                cwd=HERE, env=env, stdout=out,
                                stderr=subprocess.STDOUT, timeout=840).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (exit {rc}); full log in {log}")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classes


def java_command(classes, home, work, main):
    """The JVM command line for `main` of the harness, temp files in work."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap keeps the collector's heap sizing out of the timings. It is
    # not pre-touched: memory is measured as the live heap (live_heap_mb).
    cmd = [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classes + os.pathsep + os.path.join(home, "jars", "*"), main]


def run_jvm(args, classes, home, work, env, start_ms):
    cmd = java_command(classes, home, work, "graftbench.Main") + [
        args.workload, str(args.seed), str(args.seconds), str(args.trace), work,
        str(start_ms)]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=args.seconds + 140)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    record = os.path.join(work, "run.json")
    if rc != 0 or not os.path.exists(record):
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        die(f"{args.workload}: harness exited with {rc}; log in {log}")
    with open(record) as fh:
        return json.load(fh)


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown (not a git checkout)"
    out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                         capture_output=True, text=True)
    return out.stdout.strip() or "unknown"


# ---- output check -------------------------------------------------------

def canon(df):
    import numpy as np
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def same_rows(got, want):
    """Exact compare after sorting columns and rows (floats bit-exact)."""
    import numpy as np
    import pandas as pd
    s, d = canon(got), canon(want)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} != {list(d.columns)}"
    if len(s) != len(d):
        return f"{len(s)} rows != {len(d)} rows"
    for c in s.columns:
        sv, dv = s[c], d[c]
        both = ~sv.isna() & ~dv.isna()
        if pd.api.types.is_float_dtype(sv) and pd.api.types.is_float_dtype(dv):
            eq = (both & np.isclose(sv.where(both), dv.where(both), rtol=0, atol=0)) \
                | (sv.isna() & dv.isna())
        else:
            eq = (both & (sv.astype(str) == dv.astype(str))) | (sv.isna() & dv.isna())
        if not eq.all():
            i = int(np.argmin(eq.values))
            return f"{c} row {i}: {sv.iloc[i]!r} != {dv.iloc[i]!r}"
    return None


def same_listing(got, want):
    """listKeys orders by key alone, so rows of one duplicated key may cut
    the maxKeys limit differently: the key sequences must agree, and the
    full rows must agree below the last key."""
    g = list(got["key"])
    if g != sorted(g):
        return "keys out of order"
    if g != list(want.sort_values("key")["key"]):
        return "key sequence differs"
    if not g:
        return None
    return same_rows(got[got["key"] < g[-1]], want[want["key"] < g[-1]])


def row_hash(con, relation, columns):
    cols = ", ".join(f'"{c}"' for c in columns)
    return con.execute(f"SELECT count(*), sum(hash({cols})) FROM ({relation})").fetchone()


def check(record, work):
    """Checks every output the run kept; returns {seq: failure cause}."""
    import duckdb
    import pandas as pd
    data = os.path.join(work, "data")
    con = duckdb.connect()
    con.execute(f"SET threads = {os.cpu_count() or 1}")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'tmp')}'")
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    # Tables the parameterised oracles share (the namespace views).
    if os.path.exists(os.path.join(data, "lineitem.parquet")):
        for name, sql in record["prelude"].items():
            con.execute(f"CREATE TABLE {name} AS {sql}")
    bad = {}
    last_write = {}
    for op in record["ops"]:
        if op["error"]:
            continue
        if op["write"]:
            last_write[op["kind"]] = op
            continue
        if not op["result"]:
            continue
        try:
            files = glob.glob(os.path.join(op["result"], "*.parquet"))
            got = pd.concat([pd.read_parquet(f) for f in files]) if files else None
            want = con.execute(op["oracle"]).df()
            if got is None:
                got = want.iloc[0:0]
            why = same_listing(got, want) if op["kind"] == "listKeys" \
                else same_rows(got, want)
        except Exception as e:  # an oracle or read error is a failed check
            why = f"check error: {type(e).__name__}: {str(e)[:300]}"
        if why:
            bad[op["seq"]] = why
    # Written tables: only the last write of each layout is still on disk;
    # its row hash must equal the source slice's.
    for op in last_write.values():
        try:
            columns = [r[0] for r in con.execute(f"DESCRIBE {op['oracle']}").fetchall()]
            path = op["written_path"]
            written = f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning=false)"
            a, b = row_hash(con, written, columns), row_hash(con, op["oracle"], columns)
            if a != b:
                bad[op["seq"]] = f"written rows (count, hash) {a} != source slice {b}"
        except Exception as e:
            bad[op["seq"]] = f"check error: {type(e).__name__}: {str(e)[:300]}"
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no graft sources under {ROOT}; run from a graft source tree")
    env = dict(os.environ)
    home = spark_home()
    env["SPARK_HOME"] = home
    classes = build(env)
    # Set-up is timed from here: compiling the tree is not part of it.
    start_ms = int(time.time() * 1000)

    work = os.path.join(HERE, "work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record = run_jvm(args, classes, home, work, env, start_ms)
    if record.get("fatal"):
        die(f"{args.workload}: {record['fatal']}")
    record["env"]["git_commit"] = git_commit()
    bad = check(record, work)
    ops = record["ops"]
    errors = {o["seq"]: o["error"] for o in ops if o["error"]}
    failed = {**errors, **bad}
    for seq, why in sorted(failed.items()):
        o = ops[seq]
        print(f"FAILED {args.workload} op{seq} {o['phase']} {o['kind']} "
              f"{json.dumps(o['params'], sort_keys=True)}: {why}")
    attempted = len(ops)
    record["check"] = {"failed": {str(k): v for k, v in failed.items()},
                       "attempted": attempted,
                       "fail_frac": len(failed) / attempted if attempted else 1.0}
    with open(os.path.join(work, "run.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    n = record["samples"]
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} record={os.path.relpath(work, ROOT)}/run.json")
    for k in E2E:
        m = record["metrics"][k]
        note = {"op_p50_ms": f" (n={n['latency']})", "op_p90_ms": f" (n={n['latency']})",
                "pass_s": f" (n={n['passes']})",
                "write_mb_per_s": f" ({record['write_mb_per_s_source']})"}.get(k, "")
        print(f"  {k:<16} {m['value']:.4f} {m['unit']}{note}")
    print(f"  {'fail_frac':<16} {record['check']['fail_frac']:.4f} "
          f"({len(failed)}/{attempted})")
    if args.trace:
        for k, m in record["layers"].items():
            print(f"  {k:<26} {m['value']:.4f} {m['unit']}")
        metrics = record["layers"]
    else:
        metrics = {k: record["metrics"][k] for k in E2E}
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))
    sys.exit(0 if not failed else 1)


if __name__ == "__main__":
    main()
