#!/usr/bin/env python3
"""Replay-drain and surface-mix benchmark.

    python3 replaybench/run.py --workload replay_gz_drain --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds the program from source on first
use (replaybench/build.py), runs one workload in a fresh JVM with a fresh
scratch root, and prints a record line followed, as the last line, by
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. See README.md.
"""
import argparse
import json
import os
import pwd
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("replay_gz_drain", "surface_mix")
DEADLINE_S = 170
STORE_FLOOR = 16 << 30  # the program puts scratch and its index store on /dev/shm above this
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def medium(path):
    """Filesystem type of the mount holding `path`."""
    best, fstype = "", "unknown"
    path = os.path.realpath(path)
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mnt = parts[1]
                if path == mnt or path.startswith(mnt.rstrip("/") + "/"):
                    if len(mnt) >= len(best):
                        best, fstype = mnt, parts[2]
    except OSError:
        pass
    return "%s:%s" % (fstype, best)


def shm_free():
    try:
        st = os.statvfs("/dev/shm")
        return st.f_bavail * st.f_frsize
    except OSError:
        return 0


def declared(root):
    """Metric names BENCHMARK.json declares, or None when absent."""
    p = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        b = json.load(f)
    return {m["name"] for m in b["end_to_end"]}, {m["name"] for m in b["per_layer"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-hashes", action="store_true",
                    help="store surface_mix result hashes instead of checking them")
    a = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    cp = build.build(root)
    build_s = time.time() - t_start

    base = os.path.join(root, ".bench_build", "replaybench")
    run = os.path.join(base, "runs", "%d-%d" % (os.getpid(), int(t_start * 1000)))
    tmp, scratch, local = (os.path.join(run, d) for d in ("tmp", "graft", "local"))
    for d in (tmp, scratch, local, os.path.join(base, "data")):
        os.makedirs(d, exist_ok=True)
    shm_store = shm_free() > STORE_FLOOR
    store = ("/dev/shm" if shm_store else tmp) + "/graft-index-store-" + pwd.getpwuid(os.getuid()).pw_name
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": len(os.sched_getaffinity(0)), "loadavg_start": loadavg(),
        "scratch_medium": medium(scratch),
        "index_store": "/dev/shm (outside the run root)" if shm_store else "run root tmpdir",
        "index_store_entries_at_start": len(os.listdir(store)) if os.path.isdir(store) else 0,
        "build_s": round(build_s, 3),
    }
    out = os.path.join(run, "result.json")
    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Xms3g", "-Xmx3g", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", ":".join(cp), "replaybench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", os.path.join(base, "data"), "--out", out,
            "--hashes", os.path.join(HERE, "surface_hashes.json"),
            "--record-hashes", "1" if a.record_hashes else "0"])
    env = dict(os.environ, SPARK_GRAFT_TMP=scratch, SPARK_LOCAL_DIRS=local)
    log_path = os.path.join(run, "jvm.log")
    rc = None
    # a terminated runner still stops and reaps its JVM (see finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, cwd=run, env=env, stdout=log, stderr=log,
                                 start_new_session=True)
            try:
                rc = p.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start) + build_s))
            except subprocess.TimeoutExpired:
                pass
            finally:
                if p.poll() is None:
                    os.killpg(p.pid, signal.SIGKILL)
                    p.wait()
        with open(log_path, errors="replace") as f:
            tail = f.readlines()[-40:]
        if rc != 0 or not os.path.isfile(out):
            sys.stderr.write("".join(tail))
            sys.exit("replaybench: run failed (%s)" % ("timeout" if rc is None else "exit %d" % rc))
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run, ignore_errors=True)

    record["loadavg_end"] = loadavg()
    record.update(res.get("info", {}))
    names = declared(root)
    if names is not None:
        want = names[1] if a.trace else names[0]
        if set(res["metrics"]) != want:
            sys.exit("replaybench: metrics %s differ from BENCHMARK.json"
                     % sorted(set(res["metrics"]) ^ want))
    print(json.dumps({"record": record}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
