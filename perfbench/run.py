#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one JSON line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The first run in a checkout builds everything under ``.bench_build/``:
the program (compiled from ``src/main`` with the Scala compiler that ships
with Spark), the harness in ``perfbench/harness``, the seeded input tables
and the engine's derived fixture caches. Later runs reuse that build while
the sources are unchanged.

A run starts one JVM (``local[n]``, n = min(3, cores - 1)) with one client
thread, sets the engine up ``SETUP_REPS`` times, makes an untimed warm-up
pass (which also writes every op's output for the check), then runs a
fixed number of ops closed-loop: ``--seconds`` times the workload's
``timed_ops_per_s``, rounded up to whole passes (maintenance cycles for the
ingest workload). The count depends on ``--seconds`` alone, never on how
fast the program runs, so every run times the same work. No op starts
after ``DEADLINE_S``; ops left then are reported as failed.
The last line of stdout is the result: with ``--trace 0`` the end-to-end
metrics, with ``--trace 1`` the per-layer metrics from a run with a Spark
listener, a streaming listener and spans around every call.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import ingest  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
# one core is left to the driver, JIT and GC threads: with all cores given
# to tasks, run-to-run figures spread wider
CPUS = max(1, min(3, (os.cpu_count() or 1) - 1))
HEAP = "2g"          # -Xmx only: the heap grows with the program's demand
# the serial collector sizes the heap from its occupancy after each
# collection, not from GC-time goals, so peak RSS follows what the program
# keeps live rather than timing (G1: 0.16-0.32 run-to-run spread, serial: 0.03)
GC = "-XX:+UseSerialGC"
SF = 0.01            # input scale (sf0.01: 60k lineitem rows, 10k events)
DATA_SEED = 42       # the input tables are fixed; --seed drives the ops
SETUP_REPS = 3       # set-ups per run; setup_s is their median
WARM_CYCLES = 1      # ingest cycles of another seed run before timing
DEADLINE_S = 150     # after set-up starts, no op starts later than this
JVM_TIMEOUT_S = 172  # the JVM is killed this long after set-up starts
# the engine keeps its scratch tables under an absolute <repo>/target path;
# the build points it into .bench_build so a run writes only in its checkout
SCRATCH_RE = re.compile(r'"/[^"]*/target/graft-scratch"')
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def fingerprint():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), HERE):
        for dp, dns, fns in os.walk(base):
            dns[:] = sorted(d for d in dns if d != "__pycache__")
            for fn in sorted(fns):
                p = os.path.join(dp, fn)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def scalac(jars, out, sources, extra_cp=()):
    os.makedirs(out, exist_ok=True)
    listing = out + ".sources"
    with open(listing, "w") as f:
        f.write("\n".join(sources))
    cp = os.pathsep.join(list(extra_cp) + jars)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
                        "scala.tools.nsc.Main", "-nowarn", "-d", out,
                        "-classpath", cp, "@" + listing],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail(f"compile failed:\n{r.stdout[-4000:]}")


def scala_files(base):
    return sorted(os.path.join(dp, f) for dp, _, fs in os.walk(base)
                  for f in fs if f.endswith(".scala"))


def build():
    """Compile program and harness, generate inputs, build fixture caches.
    Skipped when ``.bench_build/stamp`` matches the sources."""
    stamp = os.path.join(BUILD, "stamp")
    fp = fingerprint()
    if os.path.exists(stamp) and open(stamp).read() == fp:
        return
    for d in ("src", "classes", "harness", "data", "scratch", "work", "tmp", "runs"):
        shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
    jars = spark_jars()
    src_root = os.path.join(ROOT, "src", "main", "scala")
    scratch = os.path.join(BUILD, "scratch")
    copied = []
    for p in scala_files(src_root):
        dst = os.path.join(BUILD, "src", os.path.relpath(p, src_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        with open(p) as f:
            text = SCRATCH_RE.sub(json.dumps(scratch), f.read())
        with open(dst, "w") as f:
            f.write(text)
        copied.append(dst)
    scalac(jars, os.path.join(BUILD, "classes"), copied)
    scalac(jars, os.path.join(BUILD, "harness"),
           scala_files(os.path.join(HERE, "harness")),
           [os.path.join(BUILD, "classes")])
    gen_data.write(data_dir(), SF, DATA_SEED)
    # the engine caches derived fixtures (partitioned events, media files)
    # on first use; one untimed pass per workload builds them here so that
    # no run pays for them
    prep = os.path.join(BUILD, "runs", "prepare")
    ops = sorted({op for wl in load_json("workloads.json").values()
                  for op in wl.get("ops", [])})
    jvm(run_config("prepare", {"ops": ops}, 0, 0, 0, prep, prepare=True), prep)
    shutil.rmtree(prep, ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(fp)


def data_dir():
    return os.path.join(BUILD, "data", f"sf{SF}")


def run_config(name, wl, seed, seconds, trace, run_dir, prepare=False, deadline_ms=0):
    unit = len(wl["ops"]) if "ops" in wl else ingest.CYCLE_OPS
    cfg = {"mode": "run", "workload": name, "seed": seed,
           "timed_ops": stats.timed_ops(seconds, wl.get("timed_ops_per_s", 0), unit),
           "deadline_ms": deadline_ms,
           "trace": bool(trace), "cpus": CPUS, "data": data_dir(),
           "out": run_dir, "local_dir": os.path.join(BUILD, "tmp"),
           "setup_reps": 1 if prepare else SETUP_REPS, "prepare": prepare}
    if "ops" in wl:
        cfg["ops"] = wl["ops"]
    else:
        ops_path = os.path.join(run_dir, "ops.jsonl")
        warm_path = os.path.join(run_dir, "warm_ops.jsonl")
        with open(ops_path, "w") as f:
            f.write(ingest.dumps(ingest.sequence(seed, cfg["timed_ops"] // unit)))
        with open(warm_path, "w") as f:
            f.write(ingest.dumps(ingest.sequence(seed + 1, WARM_CYCLES)))
        cfg["ingest"] = {"ops": ops_path, "warm_ops": warm_path,
                         "table_root": os.path.join(BUILD, "scratch", "perfbench-ingest")}
    return cfg


def jvm(cfg, run_dir, timeout=None):
    """Run the harness on ``cfg`` and return its result.json (None when
    only preparing)."""
    os.makedirs(run_dir, exist_ok=True)
    for d in ("work", "tmp"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    cp = os.pathsep.join([os.path.join(BUILD, "harness"), os.path.join(BUILD, "classes"),
                          os.path.join(ROOT, "src", "main", "resources")] + spark_jars())
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    cmd = ["java", *ADD_OPENS, f"-Xmx{HEAP}", GC, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
           "-cp", cp, "perfbench.Harness", cfg_path]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, cwd=os.path.join(BUILD, "work"), env=env,
                               stdout=log, stderr=subprocess.STDOUT,
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"harness timed out after {timeout:.0f} s (log: {log_path})")
    if r.returncode != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"harness exited {r.returncode}:\n{tail}")
    if cfg["prepare"]:
        return None
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--explain", metavar="OP,OP",
                    help="print the operators the timed plan keeps and the "
                         "groupBy().count() plan drops for these ops, then exit")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources under src/main/scala; run from the root of a checkout")
    if a.explain:
        build()
        out = os.path.join(BUILD, "runs", "explain")
        jvm({"mode": "explain", "ops": a.explain.split(","), "cpus": CPUS,
             "data": data_dir(), "out": out, "local_dir": os.path.join(BUILD, "tmp"),
             "prepare": True}, out)
        with open(os.path.join(out, "explain.json")) as f:
            print(f.read())
        return
    if None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")
    workloads = load_json("workloads.json")
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; one of {sorted(workloads)}")
    wl = workloads[a.workload]
    build()

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    start = time.time()
    cfg = run_config(a.workload, wl, a.seed, a.seconds, a.trace, run_dir,
                     deadline_ms=int((start + DEADLINE_S) * 1000))
    res = jvm(cfg, run_dir, timeout=JVM_TIMEOUT_S)

    failures = [f"{s['op']} (pass or op index {s['pass']}): {s['err']}"
                for s in res["samples"] if not s["ok"]]
    failures += [f"timed op not run: the run's {DEADLINE_S} s deadline had passed"] * \
        res["not_run"]
    attempted = len(res["samples"]) + res["not_run"]
    if not res["samples"]:
        fail("no timed op ran before the run's deadline")
    if "ops" in wl:
        found = oracle.check(ROOT, data_dir(), os.path.join(run_dir, "check"),
                             wl["ops"], res["oracle_sql"])
        for c in res["checks"]:
            err = c["err"] or found.get(c["op"])
            if err:
                failures.append(f"{c['op']} (check): {err}")
        attempted += len(res["checks"])
        shutil.rmtree(os.path.join(run_dir, "check"), ignore_errors=True)

    metrics = stats.per_layer(res) if a.trace else stats.end_to_end(res)
    for line in failures:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "cpus": CPUS, "sf": SF,
                      "ops": len(res["samples"]), "not_run": res["not_run"],
                      "passes": res.get("passes"),
                      "warm_up_s": res["warm_up_s"], "timed_wall_s": res["timed_wall_s"],
                      "timed_steal_s": res["timed_steal_s"],
                      "alloc_mb_per_op": res["timed_alloc_bytes"] / 2**20 / len(res["samples"]),
                      "conf": res["conf"], "jvm_flags": res["jvm_flags"]}))
    if a.trace:
        per_op = {}
        for r in res["op_records"]:
            per_op.setdefault(r["op_name"], []).append(r.get("construct_jobs", 0))
        print(json.dumps({
            "construction_jobs": {k: max(v) for k, v in sorted(per_op.items())
                                  if max(v) > 0},
            "Bench.constructionActions": res["construction_actions"],
            "self_ms": {k: round(v, 3) for k, v in sorted(stats.self_times(res).items())}}))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
