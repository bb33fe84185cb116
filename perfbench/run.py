#!/usr/bin/env python3
"""Benchmark of the graft engine: two workloads, end-to-end and per-layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke          # both workloads end to end at sf0.001

Run from the repository root. The first run builds the engine and the
benchmark with sbt and stages the generated input tables under
`.perfbench/`; later runs skip sbt while the sources are the ones it last
built, and reuse the staged tables.
The last line of stdout is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}; the line
before it carries the session fingerprint and the workload detail. The exit
code is nonzero if any operation failed or any output check did not hold.
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
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ["point_query", "query_suite"]
# dataset name -> scale factor; see Stage.scala for the recipe
DATASETS = {"bench": 0.02, "smoke": 0.001}
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_hash(paths):
    """Content hash of every regular file under `paths`, by relative name."""
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def source_hash():
    return tree_hash([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
                      os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")])


def build():
    """Compiles engine + benchmark with sbt unless the sources are the ones
    the last successful build compiled (the classpath points at sbt's one
    set of class directories, so any other source tree is rebuilt);
    returns (classpath, jvm flags)."""
    spec = os.path.join(WORK, "launch.txt")
    stamp = os.path.join(WORK, "built-sources.txt")
    want = source_hash()
    if not (os.path.exists(spec) and os.path.exists(stamp) and open(stamp).read() == want):
        os.makedirs(WORK, exist_ok=True)
        if os.path.exists(stamp):
            os.remove(stamp)
        log = os.path.join(WORK, "build.log")
        with open(log, "w") as out:
            r = subprocess.run(["sbt", "-batch", "launchSpec"], cwd=HERE, stdout=out,
                               stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            fail(f"build failed, see {log}", 1)
        shutil.copy(os.path.join(HERE, "target", "launch.txt"), spec)
        with open(stamp, "w") as f:
            f.write(want)
    lines = open(spec).read().splitlines()
    # the engine build's heap flag is replaced by the benchmark's own
    return lines[0], [f for f in lines[1:] if not f.startswith("-Xmx")]


def java_cmd(cp, flags, args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap size keeps the collector's sizing the same from run to run
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
             f"-Dderby.system.home={tmp}"] + flags + ["-cp", cp] + args)


def java_env():
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "tmp")
    return env


def run_java(cmd, log, timeout):
    """Runs the JVM in its own process group; kills the group on timeout or
    when this script is terminated, and waits for it to end either way."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=java_env(),
                             cwd=WORK, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            for s, h in old.items():
                signal.signal(s, h)


def data_manifest(d):
    return {os.path.relpath(os.path.join(r, f), d): tree_hash([os.path.join(r, f)])
            for r, _, fs in os.walk(d) for f in fs
            if not f.startswith(".") and f != "MANIFEST.json"}


def stage(name, cp, flags):
    """Stages dataset `name` once; refuses to run if its digests are not the pinned ones.
    Returns the seconds spent staging in this call (0 when already staged)."""
    d = os.path.join(WORK, "data", name)
    man = os.path.join(d, "MANIFEST.json")
    if os.path.exists(man):
        if json.load(open(man)) != data_manifest(d):
            fail(f"staged dataset {name} changed on disk; delete {d} to restage", 1)
        return 0.0
    t0 = time.time()
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    log = os.path.join(WORK, f"stage-{name}.log")
    if run_java(java_cmd(cp, flags, ["perfbench.Main", "stage", str(DATASETS[name]), d]), log, 900) != 0:
        fail(f"staging {name} failed, see {log}", 1)
    got = json.loads(open(log).read().strip().splitlines()[-1])
    want = json.load(open(os.path.join(HERE, "inputs.json"))).get(name)
    if want is not None and got != want:
        fail(f"staged dataset {name} differs from the pinned digests: {got}", 1)
    json.dump(data_manifest(d), open(man, "w"), indent=1, sort_keys=True)
    return time.time() - t0


def nproc():
    return len(os.sched_getaffinity(0))


def host_sample():
    """Load average (1 min) and the host's cumulative CPU tick counters."""
    la = float(open("/proc/loadavg").read().split()[0])
    return la, [int(x) for x in open("/proc/stat").readline().split()[1:]]


def steal_share(a, b):
    """Share of CPU ticks stolen by the hypervisor between two samples."""
    d = [y - x for x, y in zip(a[1], b[1])]
    return d[7] / max(1, sum(d)) if len(d) > 7 else 0.0


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return None


def spec_names(trace):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def next_run_no(workload):
    """Counts the workload's runs in this checkout: 0, 1, 2, ..."""
    path = os.path.join(WORK, f"runs-{workload}.txt")
    n = int(open(path).read()) if os.path.exists(path) else 0
    with open(path, "w") as f:
        f.write(str(n + 1))
    return n


def run_one(workload, seed, seconds, trace, dataset, cp, flags):
    """One benchmark process; returns (result dict, detail dict, exit code)."""
    staging_s = stage(dataset, cp, flags)
    pins = os.path.join(WORK, f"pins-{dataset}.json")
    json.dump(json.load(open(os.path.join(HERE, "pins.json"))).get(dataset, {}), open(pins, "w"))
    res_path = os.path.join(WORK, f"result-{workload}-{seed}-{trace}.json")
    if os.path.exists(res_path):
        os.remove(res_path)
    start = host_sample()
    log = os.path.join(WORK, f"run-{workload}-{seed}-{trace}.log")
    code = run_java(java_cmd(cp, flags, [
        "perfbench.Main", "run", workload, str(seed), str(seconds), str(trace),
        str(next_run_no(workload)), os.path.join(WORK, "data", dataset), WORK, pins, res_path]), log, RUN_TIMEOUT_S)
    end = host_sample()
    if code is None:
        fail(f"{workload} exceeded {RUN_TIMEOUT_S} s; killed (log {log})", 1)
    if not os.path.exists(res_path):
        fail(f"{workload} wrote no result (exit {code}, log {log})", 1)
    res = json.load(open(res_path))
    detail = res.pop("detail")
    for m in res["metrics"].values():
        # a latency that failed operations pushed to infinity has no JSON number
        if not math.isfinite(m["value"]):
            m["value"] = None
    detail.update({
        "dataset": dataset, "sf": DATASETS[dataset], "staging_s": staging_s,
        "fingerprint": {
            "nproc": nproc(), "SPARK_GRAFT_CPUS": nproc(), "heap": HEAP,
            "commit": commit(), "source_hash": source_hash(),
            "load1_start": start[0], "load1_end": end[0], "steal_share": steal_share(start, end),
            "loaded_at_start": start[0] > nproc()}})
    return res, detail, code


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found next to perfbench/; run from a full checkout")
    cp, flags = build()

    if a.smoke:
        # every workload end to end, untraced then traced; the two runs are
        # consecutive, so together they check every query_suite entry
        bad = 0
        for w in WORKLOADS:
            for trace in (0, 1):
                res, detail, code = run_one(w, a.seed + trace, 1, trace, "smoke", cp, flags)
                ok = code == 0 and res["correct"] and set(res["metrics"]) == set(spec_names(trace))
                bad += not ok
                print(f"smoke {w} trace={trace}: {'ok' if ok else 'FAILED'} "
                      f"attempted={res['attempted']} failed={res['failed']} "
                      f"{detail['failures'][:3]}", flush=True)
        sys.exit(1 if bad else 0)

    if a.workload is None:
        fail("--workload is required")
    res, detail, code = run_one(a.workload, a.seed, a.seconds, a.trace, "bench", cp, flags)
    missing = set(spec_names(a.trace)) ^ set(res["metrics"])
    if missing:
        fail(f"metric names differ from BENCHMARK.json: {sorted(missing)}", 1)
    print(json.dumps(detail))
    print(json.dumps(res))
    sys.exit(0 if code == 0 and res["correct"] else 1)


if __name__ == "__main__":
    main()
