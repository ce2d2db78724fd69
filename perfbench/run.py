#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload tpcds --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run in a checkout compiles the
program (sbt) and the harness (scalac), builds the write-once TPC-DS tables
and derives golden result digests from the DuckDB oracle; later runs reuse
them while the sources are unchanged. Each run starts one JVM at
local[nproc], sets up (seeded inputs, fixture builds, an untimed warm pass),
runs whole passes over the workload's queries in seeded orders for
--seconds, checks every result, and prints the metrics; the last stdout
line is one JSON object. --trace 1 adds Spark listeners to alternate passes
and prints per-layer metrics instead. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import selectors
import shutil
import subprocess
import sys
import time

import inputs
import measure
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build")
SCALA = "2.13.17"

# Query lists are sized so that set-up plus a few passes fit the run length;
# README.md records why each workload was chosen.
WORKLOADS = {
    "tpcds": {
        "queries": ["q_tpcdsr_q3", "q_tpcdsr_q7", "q_tpcdsr_q19", "q_tpcdsr_q42",
                    "q_tpcdsr_q52", "q_tpcdsr_q55", "q_tpcdsr_q96", "q_tpcdsr_q98"],
        "prep": ["tpcds_ensure"],
    },
    "stream_state": {
        "queries": ["q_stream_over_range_b_ooo"],
        "prep": ["ooo_replay"],
    },
    "llm_kernels": {
        "queries": ["q_dedup_span", "q_sketch_kmv", "q_dedup_minhash_lsh"],
        "prep": [],
    },
}
FORBIDDEN_ENV = ("GRAFT_STREAM_SHUFFLE", "GRAFT_STREAM_PROGRESS", "GRAFT_ONLY")
RUN_TIMEOUT_S = 155
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------- build

def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def stamped(stamp_file, stamp, build):
    """Run `build` unless `stamp_file` already records `stamp`."""
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    build()
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def spark_jars():
    """The Spark jars the program compiles against: build.sbt's unmanagedBase."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    if not m:
        raise BenchError("build.sbt declares no unmanagedBase")
    return m.group(1)


def build_program():
    """sbt compile of the program in this checkout (offline)."""
    sources = ["build.sbt", "src/main", "project/build.properties"]
    sources += [os.path.join("project", f) for f in sorted(os.listdir("project"))
                if f.endswith(".sbt")] if os.path.isdir("project") else []
    missing = [p for p in ("build.sbt", "src/main/scala") if not os.path.exists(p)]
    if missing:
        raise BenchError(f"no program to build here (missing {', '.join(missing)})")
    classes = os.path.join(ROOT, "target", "scala-2.13", "classes")

    def sbt():
        log("compiling the program with sbt")
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=700)
        if r.returncode != 0 or not os.path.isdir(classes):
            raise BenchError("sbt compile failed")

    stamp = tree_hash([p for p in sources if os.path.exists(p)])
    program_stamp = os.path.join(WORK, "program.stamp")
    if not os.path.isdir(classes) and os.path.exists(program_stamp):
        os.remove(program_stamp)
    stamped(program_stamp, stamp, sbt)
    if not os.path.isdir(classes):
        raise BenchError("program classes missing after build")

    jars_dir = spark_jars()
    harness_src = os.path.join(HERE, "harness", "Harness.scala")
    harness = os.path.join(WORK, "harness")

    def scalac():
        log("compiling the harness")
        shutil.rmtree(harness, ignore_errors=True)
        os.makedirs(harness)
        jars = [os.path.join(jars_dir, f"scala-{n}-{SCALA}.jar")
                for n in ("compiler", "library", "reflect")]
        r = subprocess.run(["java", "-Xmx1g", "-cp", ":".join(jars), "scala.tools.nsc.Main",
                            "-nowarn", "-classpath", f"{classes}:{jars_dir}/*",
                            "-d", harness, harness_src],
                           stdout=sys.stderr, stderr=sys.stderr, timeout=300)
        if r.returncode != 0:
            raise BenchError("harness compile failed")

    stamped(os.path.join(WORK, "harness.stamp"), stamp + tree_hash([harness_src]), scalac)
    return f"{harness}:{classes}:{jars_dir}/*"


# ----------------------------------------------------------------- sandbox

class Jvm:
    """The harness JVM. Where the host allows a private mount namespace, the
    JVM sees `.bench_build/tmp` as /tmp and a private tmpfs as /dev/shm, so
    everything the program writes to its fixed /tmp and /dev/shm paths stays
    inside the checkout or dies with the run."""

    def __init__(self, classpath):
        self.classpath = classpath
        self.tmp = os.path.join(WORK, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.isolated = self._can_isolate()
        if not self.isolated:
            self.tmp = "/tmp"
        # host view of /dev/shm outside a run; an isolated run's is private
        self.shm = None if self.isolated else "/dev/shm"
        self.proc = None

    def _sandboxed(self, cmd):
        script = ('mount --bind "$0" /tmp && mount -t tmpfs -o size=4g perfbench /dev/shm'
                  ' && exec "$@"')
        return self._unshare() + ["sh", "-c", script, self.tmp] + cmd

    def _can_isolate(self):
        try:
            return subprocess.run(self._sandboxed(["true"]), capture_output=True,
                                  timeout=20).returncode == 0
        except (OSError, subprocess.TimeoutExpired):
            return False

    @staticmethod
    def _unshare():
        cmd = ["unshare", "--mount", "--propagation", "private"]
        return cmd if os.geteuid() == 0 else cmd + ["--map-root-user"]

    def start(self, args, stderr):
        java = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        java += ["-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                 "-cp", self.classpath, "perfbench.Harness", *args]
        cmd = self._sandboxed(java) if self.isolated else java
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=stderr, env=env, cwd=ROOT, text=True)

    def view(self, path):
        """Host path of `path` as the JVM sees it, while it is alive."""
        return f"/proc/{self.proc.pid}/root{path}" if self.isolated else path

    def wait_ready(self, deadline):
        """Block until the harness reports its record written; it then waits
        on stdin so memory and residue can be read from outside."""
        sel = selectors.DefaultSelector()
        sel.register(self.proc.stdout, selectors.EVENT_READ)
        while time.time() < deadline:
            if sel.select(timeout=max(0.1, deadline - time.time())):
                line = self.proc.stdout.readline()
                if not line:
                    return False
                if line.strip() == "perfbench-ready":
                    return True
        return False

    def vm_hwm_mib(self):
        with open(f"/proc/{self.proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise BenchError("VmHWM missing")

    def finish(self, timeout=60):
        """Release the JVM and wait for it; kill it if it does not exit."""
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        return self.proc.returncode


# ----------------------------------------------------------------- prepare

def prepare(classpath):
    """Once per program version: TPC-DS tables and golden digests of every
    listed query, on the canonical inputs. Returns the digests and a
    snapshot of the fixture files the program wrote."""
    names = [q for w in WORKLOADS.values() for q in w["queries"]]
    out = os.path.join(WORK, "prepare")
    golden_file = os.path.join(out, "golden.json")
    stamp = hashlib.sha256((open(os.path.join(WORK, "harness.stamp")).read()
                            + ",".join(names)).encode()).hexdigest()
    if os.path.exists(golden_file):
        g = json.load(open(golden_file))
        if g.get("stamp") == stamp:
            return g["digests"], g["fixtures"]
    log("preparing TPC-DS tables and golden digests")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jvm = Jvm(classpath)
    if jvm.isolated:
        # fixtures start from nothing, so the snapshot below holds only them
        shutil.rmtree(jvm.tmp)
        os.makedirs(jvm.tmp)
    with open(os.path.join(out, "jvm.log"), "w") as err:
        jvm.start(["reference", inputs.SOURCE, out, ",".join(names)], err)
        rc = jvm.finish(timeout=800)
    if rc != 0:
        raise BenchError(f"prepare JVM failed ({rc}), see {out}/jvm.log")
    sql = json.load(open(os.path.join(out, "oracle_sql.json")))
    tpcds_root = os.path.join(jvm.tmp, "graft-tpcds", "v10-sf0.1")
    digests = oracle.goldens(sql, out, tpcds_root, names)
    # what the program wrote here is write-once fixture state; a run deletes
    # anything beyond it, including what an interrupted run left
    fixtures = measure.snapshot(sum(residue_roots(jvm.tmp, jvm.shm), []))
    with open(golden_file, "w") as fh:
        json.dump({"stamp": stamp, "digests": digests, "fixtures": fixtures,
                   "oracle": sorted(n for n in names if n in sql)}, fh, indent=1)
    return digests, fixtures


# --------------------------------------------------------------------- run

def residue_roots(tmp, shm):
    """Checkpoint roots and the other /tmp/graft-* roots, as host paths."""
    ckpt = [os.path.join(tmp, "graft-ckpt")] + ([os.path.join(shm, "graft-ckpt")] if shm else [])
    return ckpt, [g for g in sorted(glob.glob(os.path.join(tmp, "graft-*"))) if g not in ckpt]


def remove_left(left, bases):
    """Delete the files a run left, then the directories that emptied below
    `bases`."""
    for p in left:
        try:
            os.remove(p)
        except FileNotFoundError:
            pass
    for d in sorted({os.path.dirname(p) for p in left}, key=len, reverse=True):
        while (any(d.startswith(b + "/") for b in bases if b)
               and os.path.isdir(d) and not os.listdir(d)):
            os.rmdir(d)
            d = os.path.dirname(d)


CPU_FIELDS = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")


def cpu_times():
    with open("/proc/stat") as fh:
        return dict(zip(CPU_FIELDS, map(int, fh.readline().split()[1:9])))


def cpu_share(a, b, fields):
    """Share of all CPU time between two /proc/stat samples spent in `fields`."""
    total = sum(b[f] - a[f] for f in CPU_FIELDS) or 1
    return sum(b[f] - a[f] for f in fields) / total


def run(args):
    wl = WORKLOADS[args.workload]
    os.makedirs(WORK, exist_ok=True)
    classpath = build_program()
    golden, fixtures = prepare(classpath)
    t_ready = time.time()

    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    # the 1-minute load still counts the previous run, so busy means CPU
    # used by others in the half second before this run starts
    cpu0 = cpu_times()
    time.sleep(0.5)
    busy_share = cpu_share(cpu0, cpu_times(), ("user", "nice", "system", "irq", "softirq", "steal"))
    busy = busy_share > 0.5

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    jvm = Jvm(classpath)
    roots = sum(residue_roots(jvm.tmp, jvm.shm), [])
    # residue is deleted only where the run is isolated: in the shared /tmp
    # other processes' files are indistinguishable from this run's
    stale = measure.residue(fixtures, measure.snapshot(roots)) if jvm.isolated else {}
    remove_left(stale, [jvm.tmp])
    before = measure.snapshot(roots)

    # set-up starts here: seeded inputs, then the JVM
    t_setup = time.time()
    sf_dir = os.path.join(WORK, "inputs", f"seed-{args.seed}", "sf0.1")
    inputs.write_seeded(sf_dir, args.seed)
    rng = random.Random(f"{args.workload}:{args.seed}")
    with open(os.path.join(run_dir, "orders.txt"), "w") as fh:
        for _ in range(200):
            fh.write(",".join(rng.sample(wl["queries"], len(wl["queries"]))) + "\n")

    deadline = t_ready + RUN_TIMEOUT_S
    cpu_run = cpu_times()
    with open(os.path.join(run_dir, "jvm.log"), "w") as err:
        jvm.start(["run", sf_dir, run_dir, os.path.join(run_dir, "orders.txt"),
                   str(args.seconds), str(args.trace), ",".join(wl["prep"])], err)
        try:
            if not jvm.wait_ready(deadline):
                raise BenchError(f"harness did not finish in time, see {run_dir}/jvm.log")
            rss = jvm.vm_hwm_mib()
            steal_share = cpu_share(cpu_run, cpu_times(), ("steal",))
            ckpt_roots, tmp_roots = residue_roots(jvm.tmp, jvm.view("/dev/shm"))
            left = measure.residue(before, measure.snapshot(ckpt_roots + tmp_roots))
            fs = measure.residue_metrics(left, ckpt_roots, tmp_roots)
            if jvm.isolated:
                remove_left(left, [jvm.tmp, jvm.view("/dev/shm")])
        finally:
            jvm.finish(timeout=10)
    if jvm.proc.returncode != 0:
        raise BenchError(f"harness exited {jvm.proc.returncode}, see {run_dir}/jvm.log")

    h = json.load(open(os.path.join(run_dir, "harness.json")))
    setup_s = h["first_timed_ms"] / 1e3 - t_setup

    # correctness: every timed execution must succeed and match the first
    # timed result of its query, which must match the golden digest
    failures, first = [], {}
    for p in h["passes"]:
        for e in p["execs"]:
            first.setdefault(e["name"], e["digest"])
    got = {}
    for n in first:
        path = os.path.join(run_dir, "results", n)
        got[n] = measure.digest(oracle.read_result(path)) if os.path.isdir(path) else "0:"
    shutil.rmtree(os.path.join(run_dir, "results"), ignore_errors=True)
    execs = [e for p in h["passes"] for e in p["execs"]]
    for e in execs:
        why = (e["error"] if not e["ok"]
               else "result differs between executions" if e["digest"] != first[e["name"]]
               else "result differs from golden" if got[e["name"]] != golden[e["name"]]
               else None)
        if why:
            failures.append((e["name"], why))
    bad_inputs = inputs.self_check(sf_dir)
    shutil.rmtree(os.path.dirname(sf_dir), ignore_errors=True)

    attempted = len(execs)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "isolated": jvm.isolated, "loadavg": load, "host_busy_share": busy_share,
        "host_busy": busy, "steal_share": steal_share,
        "cores": h["cores"], "session_s": h["session_s"], "warm_pass_s": h["warm_s"],
        "prep_s": h["prep"], "stale_residue_mib": sum(stale.values()) / measure.MIB,
        "failures": failures[:20], "input_self_check_failed": bad_inputs,
    }
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    gated = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in gated}
    if args.trace:
        metrics = measure.per_layer(h)
        for k in ("tpcds_ensure", "ooo_replay"):
            metrics[f"prep.{k}_s"] = h["prep"].get(k, 0.0)
        metrics.update({k: v for k, v in fs.items() if k.startswith("fs.")})
        shown = {k: (v, units[k], None) for k, v in metrics.items()}
    else:
        e2e = measure.end_to_end(h)
        e2e["setup_s"] = (setup_s, "s", 1)
        e2e["rss_peak_mib"] = (rss, "MiB", 1)
        e2e["residue_mib"] = (fs["residue_mib"], "MiB", 1)
        e2e["fail_share"] = (len(failures) / attempted, "ratio", attempted)
        shown = e2e
    report["metrics"] = {k: dict(zip(("value", "unit", "samples", "percentile", "beyond"), v))
                         for k, v in shown.items()}
    with open(os.path.join(run_dir, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1)

    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"cores={h['cores']} isolated={jvm.isolated} loadavg={load[0]:.2f} "
          f"host_busy_share={busy_share:.2f} steal_share={steal_share:.3f}"
          f"{' BUSY-HOST' if busy else ''}")
    for k, v in shown.items():
        extra = f" n={v[2]}" if v[2] is not None else ""
        if len(v) > 3:
            extra += f" p{v[3]:g} ({v[4]} beyond)"
        print(f"  {k:28s} {v[0]:12.4f} {v[1]}{extra}")
    for n, why in failures[:20]:
        print(f"  FAIL {n}: {why}")
    print(json.dumps({"detail": report}))
    print(json.dumps({
        "correct": not failures and not bad_inputs,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {m["name"]: {"value": shown[m["name"]][0], "unit": m["unit"]} for m in gated},
    }))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    bad = [v for v in FORBIDDEN_ENV if v in os.environ]
    if bad:
        log(f"refusing to run with {', '.join(bad)} set: they change what the program does")
        return 2
    try:
        run(args)
    except (BenchError, subprocess.TimeoutExpired) as e:
        log(f"error: {e}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
