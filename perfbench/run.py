"""graft CDC engine benchmark: drain, tail and backfill workloads.

    python3 perfbench/run.py --workload drain --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Builds the engine from source (perfbench/build.py), makes the workload's
inputs from --seed, runs it in one Spark JVM pinned to the visible cores and
prints, as the last line of standard output, one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. See
perfbench/README.md for what each workload and metric means.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("drain", "tail", "backfill")
DEADLINE_S = 170  # the whole run, build excluded


def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def host_sample():
    total, steal = cpu_times()
    return {"t": time.time(), "load": os.getloadavg(), "total": total,
            "steal": steal}


def host_record(before, after, cores):
    dt = max(1, after["total"] - before["total"])
    return {"nproc": cores, "load_before": before["load"],
            "load_after": after["load"],
            "steal_share": (after["steal"] - before["steal"]) / dt}


def benchmark_spec():
    path = ROOT / "BENCHMARK.json"
    if not path.exists():
        raise SystemExit(f"missing {path}")
    return json.loads(path.read_text())


def reap_stale_work(work_root: Path):
    if not work_root.is_dir():
        return
    for d in work_root.iterdir():
        try:
            os.kill(int(d.name.split("-")[-1]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass


def run_jvm(build_dir, args, cores, work, timeout_s):
    """Run perfbench.Main pinned to the first `cores` visible cores; return
    (exit code, parsed PERFBENCH record)."""
    cpus = sorted(os.sched_getaffinity(0))[:cores]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = build.java_cmd(build_dir, cores, work, args)
    proc = subprocess.Popen(
        cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, start_new_session=True,
        preexec_fn=lambda: os.sched_setaffinity(0, cpus))
    try:
        out, err = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        print(f"benchmark JVM exceeded {timeout_s:.0f} s", file=sys.stderr)
        return -1, None
    for line in err.splitlines():
        if "[perfbench]" in line or "[selftest]" in line or "Exception" in line:
            print(line, file=sys.stderr)
    rec = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH "):
            rec = json.loads(line[len("PERFBENCH "):])
        elif line.startswith("[selftest]"):
            print(line)
    if proc.returncode != 0:
        print(f"benchmark JVM failed (exit {proc.returncode})\n{err[-3000:]}",
              file=sys.stderr)
    return proc.returncode, rec


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        ap.error("--workload is required")
    start = time.time()
    spec = benchmark_spec()
    try:
        build_dir = build.ensure_built()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    state = HERE / ".state"
    cache, out_dir, work_root = state / "cache", state / "out", state / "work"
    for d in (cache, out_dir, work_root):
        d.mkdir(parents=True, exist_ok=True)
    reap_stale_work(work_root)
    work = work_root / f"run-{os.getpid()}"
    cores = len(os.sched_getaffinity(0))
    common = ["--cache", str(cache)]
    try:
        if a.self_test:
            rc, _ = run_jvm(build_dir, ["--mode", "selftest", *common], cores,
                            work, DEADLINE_S)
            return 0 if rc == 0 else 1

        before = host_sample()
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), *common,
                "--trace-out",
                str(out_dir / f"trace-{a.workload}-seed{a.seed}.json")]
        rc, rec = run_jvm(build_dir, args, cores, work, DEADLINE_S)
        if rc != 0 or rec is None:
            return 3
        after = host_sample()
        extra = rec["extra"]
        names = spec["per_layer"] if a.trace else spec["end_to_end"]
        # the read-side scan is measured on every run but declared per layer:
        # on a shared host its run-to-run spread exceeds any allowed bound
        source = ({**extra, "lake.scan_ms": rec["e2e"]["scan_ms"]}
                  if a.trace else rec["e2e"])
        metrics, problems = {}, []
        for m in names:
            v = source.get(m["name"])
            if not isinstance(v, (int, float)) or not math.isfinite(v):
                problems.append(f"metric {m['name']} missing or not finite: {v}")
                continue
            if not a.trace and v <= 0:
                problems.append(f"metric {m['name']} is not positive: {v}")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        host = host_record(before, after, cores)
        host.update({k: extra.get(k) for k in (
            "gc_count", "gc_ms", "heap_max_mb", "gen_late_ms", "rounds",
            "round_ms", "scan_ms_all", "session_s", "warmup_s",
            "binlog.gen_s") if k in extra})
        for p in problems:
            print(f"[perfbench] {p}", file=sys.stderr)
        result = {"correct": rec["correct"] and not problems,
                  "attempted": int(rec["attempted"]),
                  "failed": int(rec["failed"]), "metrics": metrics}
        with open(out_dir / "runs.jsonl", "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": a.seed,
                                "seconds": a.seconds, "trace": a.trace,
                                "wall_s": time.time() - start, "host": host,
                                **result}) + "\n")
        print("# host " + json.dumps(host))
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
