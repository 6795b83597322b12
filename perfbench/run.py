#!/usr/bin/env python3
"""Run one benchmark workload for one seed and print its metrics.

    python3 perfbench/run.py --workload q13_trickle --seed 1 --seconds 8 --trace 0

Run from the repository root. Builds first (perfbench/build.py), then runs
the benchmark JVM. Its info lines (prefixed '# ') are passed through, and
the last line printed is one JSON object with the keys correct, attempted,
failed and metrics. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer metrics and writes the run's spans to
<target>/perfbench/spans/<workload>-seed<seed>.json.

Extra flags go to the JVM: --warmup N and --steady N override the batch
counts, --series FILE writes the per-batch series, --small uses the
self-test sizes.

`run.py --selftest` runs the self-tests instead: the store wrapper forwards
every method, the oracle passes clean streams and reports a corrupted
batch, and, per workload, a run that records every refresh reports the same
per-batch job and fast-path counts as a run without the store wrapper.
Exits non-zero, printing no result, when the build, the run or the output
check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

TIMEOUT_S = 170
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


COUNTS = ["jobs", "replays", "template_hits", "inline_runs", "key_prunes"]


def trace_check(base_cmd, work, workload):
    """Same seed twice: no wrapper and no spans, then every refresh traced.
    The per-batch job and fast-path counts must be identical."""
    series = {}
    for record in ("none", "all"):
        path = os.path.join(work, f"series-{workload}-{record}.json")
        cmd = base_cmd + ["--workload", workload, "--seed", "3", "--small", "--trace", "1",
                          "--record", record, "--warmup", "2", "--steady", "6",
                          "--series", path]
        r = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                           timeout=TIMEOUT_S)
        if r.returncode != 0 or not os.path.exists(path):
            print(f"# selftest: {workload} trace check run failed (record={record})")
            return False
        with open(path) as fh:
            series[record] = [[b[k] for k in COUNTS] for b in json.load(fh)["batches"]]
    same = series["none"] == series["all"]
    print(f"# selftest: {workload} per-batch {'/'.join(COUNTS)} with and without "
          f"tracing: {series['all']} vs {series['none']}: {'PASS' if same else 'FAIL'}")
    return same


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    args, extra = ap.parse_known_args()
    if not args.selftest and not args.workload:
        ap.error("--workload is required")

    root = os.getcwd()
    try:
        classes = build.build(root)
    except Exception as e:  # noqa: BLE001 - report and fail
        sys.stderr.write(f"build failed: {e}\n")
        return 2

    tgt = build.target_dir(root)
    tag = "selftest" if args.selftest else f"{args.workload}-seed{args.seed}"
    work = os.path.join(tgt, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(tgt, "logs", f"{tag}-trace{args.trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)

    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", work]
    if args.selftest:
        base_cmd = list(cmd)
        cmd += ["--selftest"]
    else:
        spans = os.path.join(tgt, "spans", f"{tag}.json")
        cmd += ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace), "--spans", spans]
    cmd += extra

    lines = []
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        def pump():
            for line in proc.stdout:
                line = line.rstrip("\n")
                lines.append(line)
                if line.startswith("# "):
                    print(line, flush=True)

        reader = threading.Thread(target=pump, daemon=True)
        reader.start()
        try:
            proc.wait(timeout=TIMEOUT_S)
        except (subprocess.TimeoutExpired, KeyboardInterrupt):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.stderr.write(f"benchmark run timed out after {TIMEOUT_S} s; log: {log_path}\n")
            shutil.rmtree(work, ignore_errors=True)
            return 3
        reader.join()
    if proc.returncode == 0 and args.selftest:
        ok = all([trace_check(base_cmd, work, w) for w in ("q13_trickle", "dedup_cascade")])
        shutil.rmtree(work, ignore_errors=True)
        return 0 if ok else 1
    shutil.rmtree(work, ignore_errors=True)

    if proc.returncode != 0:
        sys.stderr.write(f"benchmark JVM exited with {proc.returncode}; log: {log_path}\n")
        return proc.returncode if 0 < proc.returncode < 256 else 1
    result = None
    for line in reversed(lines):
        if line.startswith("{"):
            result = json.loads(line)
            break
    if (not result or set(result) != {"correct", "attempted", "failed", "metrics"}
            or any(v.get("value") is None for v in result["metrics"].values())):
        sys.stderr.write(f"benchmark printed no valid result; log: {log_path}\n")
        return 4
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
