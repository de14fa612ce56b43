#!/usr/bin/env python3
"""graft benchmark: one seeded workload, measured for --seconds, checked
for correctness, reported as one JSON line (the last line of stdout).

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload keyspace --seed 1 --seconds 10 --trace 0

--trace 0 reports the end-to-end metrics; --trace 1 records spans and
Spark listener totals and reports the per-layer metrics instead, after
a table of each layer's self time. The program is compiled from the
checkout's sources into $CARGO_TARGET_DIR (default .bench_build); every
file a run writes lives in a per-run directory under it, removed at
exit. A run that leaves any other file of the checkout changed fails.
See perfbench/README.md.
"""
import time

T0 = time.time()

import sys  # noqa: E402

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, os.path.join(HERE, "harness")]

import build  # noqa: E402

WORKLOADS = ("keyspace", "query_mix", "llm_pipeline", "stream_ingest")
SF_DIR = "/root/testdata/sf0.1"   # the sf0.1 tables of TESTDATA.md, as graft.Bench reads them
# local[2]: on a 4-vCPU host, four task threads beside the driver, GC and
# JIT threads oversubscribe the vCPUs; measured with four, rounds took
# 1.3-1.7x longer and the hypervisor stole 10-30 % of CPU time (1-7 % with two)
CORES = min(2, os.cpu_count() or 1)
HEAP = "3g"
# untimed rounds before timing: with two, CPU per round still fell by 10-20 %
# through the timed rounds (the JIT was still compiling), so runs that fit more
# rounds read lower; with four, rounds read within a few per cent of each other
WARMUP_ROUNDS = 4
JVM_TIMEOUT_S = 160   # from the process's start, build excluded


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.abspath(os.path.join(ROOT, d))


def listing(root, skip):
    """Every path under the checkout with its size and mtime, except the
    build directory."""
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if os.path.join(d, x) != skip]
        for f in dirs + files:
            p = os.path.join(d, f)
            st = os.lstat(p)
            out[os.path.relpath(p, root)] = (st.st_size if f in files else -1, st.st_mtime_ns)
    return out


def bench_config():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def start_jvm(bdir, work, args, inputs):
    """Start the harness JVM; it waits for inputs/READY after its session
    is up, so input generation overlaps JVM start-up."""
    jwork = os.path.join(work, "jvm")
    os.makedirs(os.path.join(jwork, "tmp"))
    cmd = ["java", "-XX:-UsePerfData", f"-XX:SharedArchiveFile={build.cds_archive(bdir)}",
           f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={jwork}/tmp"]
    cmd += build.jvm_opens()
    cmd += ["-cp", build.classpath(bdir), "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--warmup", str(WARMUP_ROUNDS),
            "--trace", str(args.trace), "--inputs", inputs, "--work", jwork,
            "--sf", SF_DIR, "--cores", str(CORES)]
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=jwork, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    log.close()
    return proc, jwork


def stop_jvm(proc):
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()


def wait_jvm(proc, work, jwork, deadline):
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        rc = "killed after timeout"
    stop_jvm(proc)
    if rc != 0:
        tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-3000:]
        raise RuntimeError(f"harness JVM exited {rc}:\n{tail}")
    with open(os.path.join(jwork, "result.json")) as fh:
        return json.load(fh)


def layer_table(res):
    lines = [f"[trace] {res['workload']}: layer self time per run "
             f"({res['rounds']} rounds in {res['loop_s']:.2f} s)"]
    for r in sorted(res["self_times"], key=lambda r: -r["self_s"]):
        lines.append(f"[trace]   {r['layer']:<32} {r['self_s']:10.4f} s  {r['spans']:6d} spans")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep-spans", metavar="PATH",
                    help="copy the traced run's spans (JSON lines) to PATH")
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its files (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cfg = bench_config()
    bdir = build_dir()
    before = listing(ROOT, bdir)
    _, build_s = build.ensure(ROOT, bdir)
    if args.workload == "query_mix" and not os.path.isdir(SF_DIR):
        raise SystemExit(f"query_mix needs the sf0.1 tables at {SF_DIR}")

    work = os.path.join(bdir, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    proc = None
    try:
        proc, jwork = start_jvm(bdir, work, args, inputs)
        t = time.time()
        import gen
        truth = gen.GENERATORS[args.workload](inputs, args.seed)
        open(os.path.join(inputs, "READY"), "w").close()
        gen_s = time.time() - t
        res = wait_jvm(proc, work, jwork, T0 + build_s + JVM_TIMEOUT_S)
        import checks
        setup_s = res["setup_done_ms"] / 1000.0 - T0 - build_s
        fails = checks.run_checks(args.workload, res["outputs"], truth, SF_DIR)
        if args.trace and args.keep_spans:
            shutil.copyfile(os.path.join(jwork, "spans.jsonl"), args.keep_spans)
    finally:
        if proc is not None:
            stop_jvm(proc)
        shutil.rmtree(work, ignore_errors=True)
        runs = os.path.join(bdir, "runs")
        if os.path.isdir(runs) and not os.listdir(runs):
            os.rmdir(runs)

    after = listing(ROOT, bdir)
    changed = sorted(k for k in set(before) | set(after) if before.get(k) != after.get(k))
    if changed:
        raise SystemExit(f"the run changed the checkout outside {bdir}: {changed[:10]}")

    for f in fails:
        print(f"[check] FAIL {f}", file=sys.stderr)
    for f in res["failures"]:
        print(f"[op] FAILED {f}", file=sys.stderr)
    print(f"[host] before: {res['host_load_before']}")
    print(f"[host] after:  {res['host_load_after']}")
    print(f"[rounds] wall s {res['round_wall_s']}, cpu s {res['round_cpu_s']}")
    for kind, key in (("wall", "samples"), ("cpu", "cpu_samples")):
        print(f"[ops] median {kind} s: " + json.dumps(
            {k: round(statistics.median(v), 4) for k, v in res[key].items() if v}))
    print("[e2e] " + json.dumps(res["e2e"]))
    print("[detail] " + json.dumps(res["detail"]))
    ms = lambda k: res[k] / 1000.0 - T0 - build_s  # noqa: E731
    print(f"[setup] build {build_s:.2f} s (excluded); inputs {gen_s:.2f} s; JVM main at "
          f"{ms('main_ms'):.2f} s, session at {ms('session_ms'):.2f} s, warm-up from "
          f"{ms('warmup_ms'):.2f} s, timing from {setup_s:.2f} s to {ms('loop_done_ms'):.2f} s; "
          f"checked at {time.time() - T0 - build_s:.2f} s")
    if args.trace:
        print(layer_table(res))
        names = [m["name"] for m in cfg["per_layer"]]
        units = {m["name"]: m["unit"] for m in cfg["per_layer"]}
        values = res["layers"]
    else:
        names = [m["name"] for m in cfg["end_to_end"]]
        units = {m["name"]: m["unit"] for m in cfg["end_to_end"]}
        values = dict(res["e2e"], setup_s=setup_s)
    missing = [n for n in names if values.get(n) is None]
    if missing:
        raise SystemExit(f"metrics not measured: {missing}")
    print(json.dumps({
        "correct": not fails,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in names}}))


if __name__ == "__main__":
    try:
        main()
    except RuntimeError as e:       # a failed build or harness run: no result line
        sys.exit(f"perfbench: {e}")
