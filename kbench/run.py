#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as the last stdout line.

    python3 kbench/run.py --workload sparql_lookup --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run for a given code identity
builds the engine and the harness (sbt, offline), generates the tables and
saves the persisted store; later runs reuse them. Everything is written
under $CARGO_TARGET_DIR (default `.bench_build`). See kbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

DEADLINE_S = 170
FIRST_RUN_DEADLINE_S = 850
HEAP = "3g"
SETUPS = 3


def die(msg):
    print(f"kbench: {msg}", file=sys.stderr)
    sys.exit(2)


def code_identity(root):
    """Hash of every file that decides the engine, the harness and the data."""
    h = hashlib.sha256()
    files = [os.path.join(d, "build.sbt") for d in (root, HERE)] + \
        [os.path.join(d, "project", "build.properties") for d in (root, HERE)] + \
        [os.path.join(HERE, "gen_data.py")]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, dirs, names in os.walk(top):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def sbt_env(build_dir):
    """Offline sbt (the dependency caches are read, never fetched) whose
    temporary files, server socket included, stay under `build_dir`. sbt
    still takes its usual locks in the user's sbt and ivy homes."""
    tmp = os.path.join(build_dir, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp)
    opts = env.get("SBT_OPTS")
    if opts is None:
        opts = "-Dsbt.offline=true -Xmx2g"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = (f"{opts} -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp} -XX:-UsePerfData"
                       " -Dsbt.server.forcestart=false")
    return env


def build(cid, build_dir, log):
    """Compile engine and harness once per code identity; returns the launch spec."""
    spec = os.path.join(build_dir, f"launch-{cid}.txt")
    if not os.path.exists(spec):
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                           cwd=HERE, env=sbt_env(build_dir), stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=600)
        if r.returncode != 0:
            die(f"build failed (exit {r.returncode}); see {log.name}")
        shutil.copy(os.path.join(HERE, "target", "launch.txt"), spec)
    with open(spec) as f:
        lines = f.read().splitlines()
    return lines[0], [x for x in lines[1:] if x]


def java(cp, opts, work, args, log, timeout):
    """Run a JVM whose scratch files all stay under `work` (no perf-data
    file under the system temp dir either)."""
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData"] + opts +
           ["-cp", cp] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    try:
        return subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                              stdin=subprocess.DEVNULL, env=env, timeout=timeout).returncode
    except subprocess.TimeoutExpired:  # run() has killed and reaped the JVM
        return f"timeout after {timeout:.0f} s"


def prepare(cid, build_dir, cp, opts, cores, log):
    """Tables and persisted store for this code identity (paid by the first
    run in a checkout; never part of any timed or set-up figure)."""
    base = os.path.join(build_dir, "data", cid)
    data, store = os.path.join(base, "tables"), os.path.join(base, "store")
    if not os.path.exists(os.path.join(base, "ready")):
        shutil.rmtree(base, ignore_errors=True)
        gen_data.tables(data, gen_data.SCALE, gen_data.DATA_SEED)
        work = os.path.join(base, "work")
        rc = java(cp, opts, work, ["kbench.Prepare", data, store, work, str(cores)], log, 600)
        if rc != 0:
            die(f"store preparation failed ({rc}); see {log.name}")
        shutil.rmtree(work, ignore_errors=True)
        open(os.path.join(base, "ready"), "w").close()
    return base, data, store


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat; (0, 0) elsewhere."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def write_spec(path, conf, canary, ops):
    def line(tag, op):
        fields = [tag, op[0], op[1], op[2], op[3]]
        assert not any("\t" in x or "\n" in x for x in fields), op
        return "\t".join(fields)
    with open(path, "w") as f:
        for k, v in conf.items():
            f.write(f"conf\t{k}\t{v}\n")
        f.write(line("canary", canary) + "\n")
        for op in ops:
            f.write(line("op", op) + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "GraftEngine.scala")):
        if not os.path.exists(os.path.join(root, need)):
            die(f"run from the repository root: {need} is missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    load_before = os.getloadavg()[0]
    cores = len(os.sched_getaffinity(0))
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cid = code_identity(root)
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    log = open(os.path.join(run_dir, "log.txt"), "w")

    cp, opts = build(cid, build_dir, log)
    base, data, store = prepare(cid, build_dir, cp, opts, cores, log)
    t_ready = time.time()

    work = os.path.join(run_dir, "work")
    os.makedirs(work)
    canary, ops = workloads.plan(a.workload, a.seed, work)
    expected_cache = os.path.join(base, "expected")
    if a.workload == "pipeline_mix":  # reads only parquet: its tables come from the seed
        data, expected_cache = os.path.join(work, "tables"), None
        gen_data.tables(data, gen_data.SCALE, a.seed)
    conf = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace, "cores": cores,
            "data": data, "store": store, "work": work, "out": run_dir, "setups": SETUPS,
            "warmup": int(workloads.WARMUP_PASS[a.workload]),
            "passes": workloads.PASSES[a.workload]}
    spec = os.path.join(run_dir, "spec.tsv")
    write_spec(spec, conf, canary, ops)
    # the run that paid the build and store preparation may take longer
    limit = DEADLINE_S if t_ready - t_start < 20 else FIRST_RUN_DEADLINE_S
    steal0, total0 = cpu_ticks()
    rc = java(cp, opts, work, ["kbench.Harness", spec], log,
              limit - (time.time() - t_start))
    steal1, total1 = cpu_ticks()
    if rc != 0:
        shutil.rmtree(work, ignore_errors=True)
        die(f"harness failed ({rc}); see {log.name}")

    with open(os.path.join(run_dir, "run.json")) as f:
        run = json.load(f)
    with open(os.path.join(base, "oracle_sql.json")) as f:
        orc = oracle.Oracle(data, json.load(f), expected_cache)
    bad = {}
    for name, kind, _fam, _arg, expect in ops:
        res = os.path.join(run_dir, "results", f"{name}.json")
        if not os.path.exists(res):
            continue  # the op raised in the first pass; its error is already recorded
        try:
            err = orc.check(kind, expect, res)
        except Exception as e:  # an oracle that cannot run is a failed check
            err = f"oracle error: {e}"
        if err:
            bad[name] = err

    spans = []
    if a.trace:
        with open(os.path.join(run_dir, "spans.jsonl")) as f:
            spans = [json.loads(x) for x in f]
    sizes = metrics.sizes(base, data)
    shutil.rmtree(work, ignore_errors=True)
    res = metrics.summarise(a.workload, run, canary, ops, bad, spans, cores, a.trace)
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "code_identity": cid, "nproc": cores, "jdk": run["jdk"], "spark": run["spark"],
        "load_before": load_before, "contaminated": load_before > cores / 16,
        "steal_share": round((steal1 - steal0) / max(1, total1 - total0), 4),
        "sizes": sizes, "errors": res.pop("errors"), "detail": res.pop("detail"),
        "prepare_s": round(t_ready - t_start, 3),
    }
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump(dict(record, result=res), f, indent=1)
    for e in record["errors"]:
        print(f"FAILED {e['op']} (pass {e['pass']}): {e['error']}", file=sys.stderr)
    print(json.dumps({"record": record}))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
