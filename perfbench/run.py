#!/usr/bin/env python3
"""Pipeline benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--record FILE]

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt) and caches the build
under .bench_build/; later runs rebuild only when a source changed. The
query_surface workload also generates its dataset and the DuckDB-derived
expected results there once.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. --record appends the full run
record (metrics, run info and the quiet-box record) to FILE as one JSON
line, for perfbench/compare.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["sync_steady", "query_surface", "curation_day", "sync_backfill"]
# query_surface's dataset: tools/gen_sf.py at this scale factor
QUERY_SF = "0.01"
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(r)
            for f in files if "target" not in d.split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building program and benchmark with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "bench/compile", "export bench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        stdin=subprocess.DEVNULL)
    lines = [l.strip() for l in p.stdout.splitlines()]
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-5000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"build done in {time.time() - t0:.0f} s")
    return cps[-1]


def java_cmd(cp, main, args, work):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        # a heap of fixed size: one that grows during the run slows the
        # operations while it grows
        f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        "-Dderby.locks.escalationThreshold=2000000000",
        "-cp", cp, main] + args)


def run_proc(cmd, log_path, timeout):
    """Run cmd in its own process group; kill the group on timeout."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


# ---- query_surface: dataset, oracle and result digests -------------------

def norm(v):
    if isinstance(v, float):
        return "NaN" if v != v else f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    if isinstance(v, dict):
        return {k: norm(x) for k, x in sorted(v.items())}
    return str(v) if v is not None else None


def digest(rel):
    """(column names, row count, order-free content hash) of a relation."""
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = rel.fetchall()
    lines = sorted(json.dumps([norm(r[i]) for i in order]) for r in rows)
    return ([cols[i] for i in order], len(rows),
            hashlib.sha256("\n".join(lines).encode()).hexdigest())


def query_data(cp, work):
    """Generate the dataset and expected results once per build."""
    import duckdb
    prefix = f"data_sf{QUERY_SF}-"
    data = os.path.join(BUILD, prefix + source_stamp()[:16])
    if os.path.exists(os.path.join(data, "expected.json")):
        return data
    for old in os.listdir(BUILD):
        if old.startswith(prefix):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    tmp = data + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    log(f"generating the query dataset at sf{QUERY_SF}")
    subprocess.run([sys.executable, os.path.join(ROOT, "tools", "gen_sf.py"),
                    QUERY_SF, tmp], cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    oracle = os.path.join(tmp, "oracle_sql.json")
    rc = run_proc(java_cmd(cp, "perfbench.QuerySurface", [oracle], work),
                  os.path.join(work, "oracle.log"), RUN_TIMEOUT_S)
    if rc != 0:
        raise SystemExit("could not dump the oracle SQL")
    con = duckdb.connect()
    for f in sorted(os.listdir(tmp)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(tmp, f)}')")
    exp = {}
    for name, sql in json.load(open(oracle)).items():
        cols, n, h = digest(con.sql(sql))
        exp[name] = {"columns": cols, "rows": n, "hash": h}
    with open(os.path.join(tmp, "expected.tsv"), "w") as fh:
        for name, e in sorted(exp.items()):
            fh.write(f"{name}\t{e['rows']}\n")
    with open(os.path.join(tmp, "expected.json"), "w") as fh:
        json.dump(exp, fh, indent=1, sort_keys=True)
    os.replace(tmp, data)
    return data


def check_queries(data, work):
    """Failed operations: every run of a query whose dump differs."""
    import duckdb
    exp = json.load(open(os.path.join(data, "expected.json")))
    ops = dict(l.split("\t") for l in
               open(os.path.join(work, "query_ops.tsv")).read().splitlines() if l)
    con = duckdb.connect()
    failed = 0
    for name, n in ops.items():
        got = digest(con.sql("SELECT * FROM read_parquet("
                             f"'{os.path.join(work, 'dumps', name)}/*.parquet')"))
        want = exp[name]
        if list(got) != [want["columns"], want["rows"], want["hash"]]:
            log(f"check: {name} differs from the oracle: rows {got[1]} vs "
                f"{want['rows']}, columns {got[0]} vs {want['columns']}")
            failed += int(n)
    return failed


# ---- quiet-box record ------------------------------------------------------

def other_jvms():
    """Java processes not started by this run."""
    mine = {os.getpid()}
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) in mine:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv = fh.read().split(b"\0")
        except OSError:
            continue
        if argv and os.path.basename(argv[0]) == b"java":
            found.append(int(pid))
    return found


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise SystemExit("perfbench: run from a checkout of the repository "
                         "(build.sbt and src/main not found)")
    os.chdir(ROOT)
    quiet = {"load_start": os.getloadavg(), "jvms_start": len(other_jvms())}
    cp = build()
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--out", os.path.join(work, "result.json")]
        data = None
        if a.workload == "query_surface":
            data = query_data(cp, work)
            args += ["--data", data]
        t0 = time.time()
        rc = run_proc(java_cmd(cp, "perfbench.Main", args, work),
                      os.path.join(work, "run.log"), RUN_TIMEOUT_S)
        if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
            with open(os.path.join(work, "run.log")) as fh:
                sys.stderr.write(fh.read()[-8000:])
            raise SystemExit(f"perfbench: run failed (exit {rc})")
        with open(os.path.join(work, "run.log")) as fh:
            for line in fh:
                if line.startswith("[perfbench]"):
                    sys.stderr.write(line)
        res = json.load(open(os.path.join(work, "result.json")))
        log(f"info: {json.dumps(res.get('info'))}")
        if data is not None:
            res["failed"] += check_queries(data, work)
            res["correct"] = res["failed"] == 0
        quiet.update(load_end=os.getloadavg(), jvms_end=len(other_jvms()),
                     jvm_s=round(time.time() - t0, 2))
        log(f"quiet-box: {json.dumps(quiet)}")
        if a.record:
            rec = dict(res, quiet_box=quiet, trace=a.trace)
            with open(a.record, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
        if a.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(BUILD, f"spans-{a.workload}.jsonl"))
        out = {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
