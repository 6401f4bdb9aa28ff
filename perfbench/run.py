#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload {serve,pipeline,stream} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. On first use it builds the engine and
the benchmark package with sbt (perfbench/build.sbt), then generates
the benchmark data set with graft.tools.ScaleGen from the vendored base
tables in perfbench/data/base, verifies its row counts and exports the
rows the workloads send (perfbench.PrepData). Both are cached under
perfbench/.work and rebuilt when their inputs change.

Each run starts one JVM (perfbench.Main), which prints a full artifact
line; this script adds the host-noise stamp, saves the artifact under
perfbench/.work/runs/, and prints the result line as the last line of
standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Other entry points:
    run.py --report [--seed N] [--seconds S]
        runs every workload untraced and traced, prints each metric with
        its unit, the checks, and the tracing overhead.
    run.py --write-pins
        re-pins the pipeline digests (perfbench/pins/pipeline.txt).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
DATA = WORK / "data" / "x10"
BASE = BENCH / "data" / "base"
PINS = BENCH / "pins" / "pipeline.txt"
SCALE = 10
WORKLOADS = ("serve", "pipeline", "stream")
HEAP = "-Xmx3g"
# rows each generated table must hold: ScaleGen copies the two
# dimensions once and replicates everything else SCALE times
BASE_ROWS = {"region": 5, "nation": 25, "customer": 1500, "supplier": 100,
             "part": 2000, "orders": 15000, "lineitem": 60000,
             "events": 10000, "documents": 500, "embeddings": 500}
DIMENSIONS = {"region", "nation"}
ORDERS_HEAD = 20000  # PrepData.OrdersHead


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def sbt_env():
    env = dict(os.environ)
    repos = Path.home() / ".sbt" / "repositories"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    env["COURSIER_MODE"] = "offline"
    return env


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(
            p for p in base.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def run_checked(cmd, cwd, env=None, timeout=None):
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"{cmd[0]} timed out after {timeout} s")
    if proc.returncode != 0:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"{' '.join(cmd[:3])} failed with {proc.returncode}")
    return out


def build():
    """Compile the engine and the benchmark; return the java command
    prefix. Skipped when no source or build file changed."""
    sources = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
               ROOT / "src" / "main", BENCH / "build.sbt",
               BENCH / "project" / "build.properties", BENCH / "src" / "main"]
    for p in sources:
        if not p.exists():
            raise SystemExit(f"not a graft checkout: {p} is missing")
    stamp = WORK / "build.stamp"
    launch = BENCH / "target" / "launch.txt"
    key = tree_hash(sources)
    if not (stamp.exists() and stamp.read_text() == key and launch.exists()):
        log("building engine and benchmark with sbt")
        t0 = time.time()
        run_checked(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                    cwd=BENCH, env=sbt_env(), timeout=1200)
        WORK.mkdir(parents=True, exist_ok=True)
        stamp.write_text(key)
        log(f"built in {time.time() - t0:.1f} s")
    lines = launch.read_text().splitlines()
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return ["java", HEAP, "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={WORK}", *lines[1:], "-cp", lines[0]]


def prepare_data(java):
    """Generate the data set once with ScaleGen, export the workloads'
    input rows and verify both. A run refuses to start on a partial
    directory: the marker is written only after every table and export
    has its expected row count."""
    marker = DATA / "_VERIFIED"
    key = tree_hash([BASE, BENCH / "src" / "main" / "scala" / "perfbench" / "PrepData.scala"]) + f" x{SCALE}"
    if marker.exists() and marker.read_text().splitlines()[0] == key:
        return
    if DATA.exists():
        shutil.rmtree(DATA)
    DATA.parent.mkdir(parents=True, exist_ok=True)
    log(f"generating data: ScaleGen x{SCALE}")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    run_checked(java + ["graft.tools.ScaleGen", str(BASE), str(DATA), str(SCALE)],
                cwd=WORK, env=env, timeout=900)
    out = run_checked(java + ["perfbench.PrepData", str(DATA)], cwd=WORK, timeout=600)
    counts = json.loads(out.strip().splitlines()[-1])
    want = {t: n if t in DIMENSIONS else n * SCALE for t, n in BASE_ROWS.items()}
    if counts != want:
        raise SystemExit(f"generated data has wrong row counts: {counts}, want {want}")
    for name, rows in (("orders_head.csv", ORDERS_HEAD + 1),
                       ("documents.jsonl", want["documents"]),
                       ("events.jsonl", want["events"])):
        with open(DATA / name, "rb") as f:
            got = sum(1 for _ in f)
        if got != rows:
            raise SystemExit(f"export {name} has {got} lines, want {rows}")
    marker.write_text(key + "\n" + json.dumps(counts) + "\n")


def read_cpu():
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    return [int(x) for x in fields[:8]]


def host_noise(cpu0, cpu1):
    """CPU-steal fraction over the run, 1-minute loadavg and the other
    live JVMs, read from /proc. Recorded, never used to drop a run."""
    d = [b - a for a, b in zip(cpu0, cpu1)]
    total = sum(d)
    steal = d[7] / total if total > 0 else None
    try:
        with open("/proc/loadavg") as f:
            load = float(f.read().split()[0])
    except OSError:
        load = None
    me = os.getpid()
    jvms = []
    for p in Path("/proc").iterdir():
        if not p.name.isdigit() or int(p.name) == me:
            continue
        try:
            cmd = (p / "cmdline").read_bytes().split(b"\0")
        except OSError:
            continue
        if cmd and cmd[0].decode(errors="replace").endswith("java"):
            args = [c.decode(errors="replace") for c in cmd[1:] if c and not c.startswith(b"-")]
            jvms.append(f"{p.name}:{(args[0] if args else 'java')[-80:]}")
    return {"steal_frac": steal, "loadavg1": load, "other_jvms": len(jvms),
            "other_jvm_cmds": sorted(jvms)}


def run_once(java, workload, seed, seconds, trace, write_pins=False):
    """One benchmark process; returns its artifact dict."""
    cmd = java + ["perfbench.Main", "--workload", workload, "--seed", str(seed),
                  "--seconds", str(seconds), "--trace", str(trace),
                  "--data", str(DATA), "--work", str(WORK / "run"),
                  "--pins", str(PINS), "--write-pins", "1" if write_pins else "0"]
    run_dir = WORK / "run"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    run_dir.mkdir(parents=True)
    cpu0 = read_cpu()
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)
    # a measured run must end within 170 s; re-pinning runs all 91
    # queries twice (timed pass and digest pass) and may take longer
    limit = 900 if write_pins else 170
    try:
        out, err = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"{workload} run exceeded {limit} s")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(err[-6000:])
        raise SystemExit(f"{workload} run failed with exit code {proc.returncode}")
    art = json.loads(lines[-1])
    art["wall_s"] = time.time() - t0
    art["host_noise"] = host_noise(cpu0, read_cpu())
    runs = WORK / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    spans = art.get("spans_file")
    if spans:
        kept = runs / f"spans-{workload}-{seed}.jsonl"
        shutil.move(spans, kept)
        art["spans_file"] = str(kept.relative_to(ROOT))
    (runs / f"{workload}-seed{seed}-trace{trace}.json").write_text(json.dumps(art, indent=1))
    return art


def result_line(art):
    return json.dumps({k: art[k] for k in ("correct", "attempted", "failed", "metrics")})


def report(java, seed, seconds):
    for w in WORKLOADS:
        plain = run_once(java, w, seed, seconds, 0)
        traced = run_once(java, w, seed, seconds, 1)
        print(f"== {w} (seed {seed})")
        for k, m in plain["metrics"].items():
            print(f"  {k:<34} {m['value']:>14.4f} {m['unit']}")
        print("  -- named")
        for k, m in plain["named"].items():
            print(f"  {k:<34} {m['value']:>14.4f} {m['unit']}")
        print("  -- per layer (traced run)")
        for k, m in traced["metrics"].items():
            print(f"  {k:<34} {m['value']:>14.4f} {m['unit']}")
        over = traced["timed_s"] / plain["timed_s"] - 1 if plain["timed_s"] else float("nan")
        print(f"  tracing overhead (timed phase)     {over * 100:>13.1f} %")
        print(f"  spans: {traced['spans_file']}")
        for a in (plain, traced):
            state = "ok" if a["correct"] else "FAILED"
            print(f"  checks ({'traced' if a is traced else 'untraced'}): {state}, "
                  f"{a['failed']}/{a['attempted']} failed")
            for f in a["failures"]:
                print(f"    {f}")
        print(f"  host noise: {plain['host_noise']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", action="store_true")
    ap.add_argument("--write-pins", action="store_true")
    a = ap.parse_args()
    java = build()
    prepare_data(java)
    if a.report:
        report(java, a.seed, a.seconds)
    elif a.write_pins:
        PINS.parent.mkdir(parents=True, exist_ok=True)
        art = run_once(java, "pipeline", a.seed, a.seconds, 0, write_pins=True)
        print(f"pinned {art['attempted'] - art['failed']} queries in {PINS}")
    elif a.workload:
        print(result_line(run_once(java, a.workload, a.seed, a.seconds, a.trace)))
    else:
        ap.error("--workload, --report or --write-pins is required")


if __name__ == "__main__":
    main()
