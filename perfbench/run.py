#!/usr/bin/env python3
"""agrospark benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark harness from source (the Scala compiler of the Spark distribution
the program runs on; no build tool, no network) and generates the base tables;
later runs reuse both. Every run gets a fresh scratch root under
perfbench/.bench/ (Spark local dir, java.io.tmpdir, warehouse, TxStore
tables, generated inputs) that is deleted when the run ends. The last line
of stdout is the result JSON: correct, attempted, failed and the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).

Other modes:
    --steady N [--workload W]   N seeds per workload; median, quartiles and
                                spread of every end-to-end metric vs its bound
    --pin                       re-pin the registry rows' results (pinned.tsv)
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".bench")
BUILD = os.path.join(STATE, "build")
CLASSPATH = os.path.join(BUILD, "classpath")
STAMP = os.path.join(BUILD, "stamp")
DATA = os.path.join(STATE, "data")
PINNED = os.path.join(HERE, "pinned.tsv")
SETTINGS = os.path.join(HERE, "settings.json")
WORKLOADS = ("read_mix", "store_write")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def heap():
    """The heap formula of the tier-1 test command: half of RAM in GiB,
    clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def spark_jars():
    """The Spark distribution's jars: the program's only dependencies, and
    the Scala compiler that builds it. Looked for under $SPARK_HOME, then
    beside the spark-submit on PATH, then in the directory the root build
    takes its jars from (its unmanagedBase)."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        dirs.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    try:
        with open(os.path.join(CHECKOUT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            dirs.append(m.group(1))
    except OSError:
        pass
    for d in dirs:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
            return jars
    die("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources():
    """Every Scala source of the program and of the harness, sorted."""
    return sorted(os.path.join(d, f)
                  for base in (os.path.join(CHECKOUT, "src", "main", "scala"), os.path.join(HERE, "src"))
                  for d, _, fs in os.walk(base) for f in fs if f.endswith(".scala"))


def sources_digest(jars):
    h = hashlib.sha256()
    for j in jars:
        h.update(os.path.basename(j).encode())
    res = os.path.join(CHECKOUT, "src", "main", "resources")
    for p in sources() + sorted(os.path.join(d, f) for d, _, fs in os.walk(res) for f in fs):
        h.update(p[len(CHECKOUT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles program + harness when the sources changed: one run of the
    Scala compiler from the Spark distribution, output under .bench/build."""
    if not os.path.isdir(os.path.join(CHECKOUT, "src", "main", "scala", "graft")):
        die("program sources (src/main/scala/graft) not found next to perfbench/")
    jars = spark_jars()
    digest = sources_digest(jars)
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(BUILD, "classes")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(classes)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(f'"{p}"' for p in sources()) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}", "-cp", ":".join(jars),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-Ybackend-parallelism", "4",
           "-d", classes, "@" + argfile]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=BUILD, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        die(f"build failed (log: {log})")
    resources = os.path.join(CHECKOUT, "src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(CLASSPATH, "w") as f:
        f.write(":".join([classes] + jars))
    with open(STAMP, "w") as f:
        f.write(digest)


def data_version():
    with open(os.path.join(HERE, "src", "main", "scala", "perfbench", "DataGen.scala")) as f:
        return re.search(r'val Version = "([^"]+)"', f.read()).group(1)


def java(args, root, timeout, log):
    """Runs the benchmark JVM in its own process group; kills it on timeout."""
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    # -Xms2g: the heap starts large enough that G1's growth decisions,
    # which otherwise differ from run to run, do not shape the timings
    cmd = ["java", f"-Xmx{heap()}", "-Xms2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={root}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    os.makedirs(os.path.join(root, "tmp"), exist_ok=True)
    os.makedirs(os.path.dirname(log), exist_ok=True)
    # Spark binds to the loopback address whatever the host's name resolves to
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"benchmark JVM timed out after {timeout}s (log: {log})")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    return p.returncode, out


def ensure_data():
    stamp = os.path.join(DATA, "_GENERATED")
    if os.path.exists(stamp) and open(stamp).read().strip() == data_version():
        return
    root = os.path.join(STATE, f"gen-{os.getpid()}")
    try:
        rc, _ = java(["--mode", "datagen", "--data", DATA, "--root", root], root, 600,
                     os.path.join(STATE, "datagen.log"))
        if rc != 0:
            die(f"data generation failed (log: {STATE}/datagen.log)")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def declared_metrics(trace):
    path = os.path.join(CHECKOUT, "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}, spec


def run_once(workload, seed, seconds, trace):
    """One run; returns the result dict (also writes the detail report)."""
    declared, _ = declared_metrics(trace)
    root = os.path.join(STATE, f"run-{os.getpid()}-{time.time_ns()}")
    reports = os.path.join(STATE, "reports")
    os.makedirs(reports, exist_ok=True)
    report = os.path.join(reports, f"{workload}-{seed}-t{trace}.json")
    log = os.path.join(STATE, "logs", f"{workload}-{seed}-t{trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    try:
        rc, out = java(["--mode", "run", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace), "--data", DATA,
                        "--root", root, "--pinned", PINNED, "--report", report],
                       root, RUN_TIMEOUT_S, log)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    line = next((l for l in reversed(out.splitlines()) if l.startswith("PERFBENCH_RESULT ")), None)
    if rc != 0 or line is None:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"benchmark JVM failed (rc={rc}, log: {log})")
    res = json.loads(line[len("PERFBENCH_RESULT "):])
    metrics = {}
    for name, unit in declared.items():
        if name not in res["metrics"]:
            die(f"metric {name} declared in BENCHMARK.json but not measured")
        metrics[name] = {"value": res["metrics"][name], "unit": unit}
    return {"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
            "metrics": metrics}


def steady(n, workloads, seconds):
    """Runs each workload on n seeds and prints the spread of every
    end-to-end metric against its bound (the acceptance rule)."""
    _, spec = declared_metrics(0)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    unsteady = []
    for w in workloads:
        vals = {k: [] for k in bounds}
        for seed in range(1, n + 1):
            r = run_once(w, seed, seconds, 0)
            if not r["correct"]:
                unsteady.append(f"{w}: seed {seed} incorrect")
            for k in bounds:
                vals[k].append(r["metrics"][k]["value"])
            print(f"[steady] {w} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), file=sys.stderr)
        for k, xs in vals.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            flag = "ok" if spread < bounds[k] / 3 else ("WIDE" if spread < bounds[k] else "UNSTEADY")
            if flag != "ok" and k != "setup_s":
                unsteady.append(f"{w}/{k}: spread {spread:.3f} vs bound {bounds[k]}")
            print(f"{w:15s} {k:16s} median={med:10.4f} q1={q1:10.4f} q3={q3:10.4f} "
                  f"spread={spread:.4f} bound={bounds[k]} {flag}")
    for u in unsteady:
        print(f"cannot hold steady: {u}")
    return 1 if unsteady else 0


def pin():
    """Re-pins the registry rows' row counts and hashes at this commit:
    two runs in separate JVMs; a row whose hash differs between them is
    pinned rows-only ("*")."""
    got = []
    for attempt in range(2):
        rows = {}
        root = os.path.join(STATE, f"pin-{os.getpid()}-{attempt}")
        try:
            rc, out = java(["--mode", "pin", "--data", DATA, "--root", root], root, 900,
                           os.path.join(STATE, "logs", "pin.log"))
        finally:
            shutil.rmtree(root, ignore_errors=True)
        if rc != 0:
            die("pin run failed")
        for l in out.splitlines():
            if l.startswith("PIN\t"):
                _, name, n, h, _, ms = l.split("\t")
                rows[name] = (n, h)
                print(f"{name:32s} rows={n:>8s} {float(ms):8.0f} ms", file=sys.stderr)
        got.append(rows)
    with open(PINNED, "w") as f:
        f.write("# registry row -> rows, order-insensitive hash (* = rows only); "
                "regenerate with: python3 perfbench/run.py --pin\n")
        for name in sorted(got[0]):
            n, h = got[0][name]
            if got[1].get(name, (None,))[0] != n:
                die(f"{name}: row count differs between two runs")
            f.write(f"{name}\t{n}\t{h if got[1][name][1] == h else '*'}\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, metavar="N")
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()
    with open(SETTINGS) as f:
        settings = json.load(f)
    seconds = a.seconds if a.seconds is not None else declared_metrics(0)[1]["run_seconds"]
    os.makedirs(STATE, exist_ok=True)
    build()
    ensure_data()
    if a.pin:
        pin()
        return 0
    if a.steady:
        return steady(a.steady, [a.workload] if a.workload else list(WORKLOADS), seconds)
    if a.workload is None:
        ap.error("--workload is required")
    seed = a.seed if a.seed is not None else settings["default_seed"]
    print(json.dumps(run_once(a.workload, seed, seconds, a.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
