#!/usr/bin/env python3
"""graft's end-to-end benchmark: one run of one workload.

    python3 perfbench/run.py --workload etl_feeds --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/NOTES.md for why each exists and its sizes):
  etl_feeds        Pipeline.run through all 13 extractors (extract-bound)
  registry_sample  five fixed SparkEntry.queries at sf0.01 (job-bound)

One closed-loop client, the driver thread, submits one unit at a time to
`local[<cores>]` in a single JVM. The run builds the program from source
(first run only), launches short set-up-only JVMs to sample `setup_s`,
then one JVM that generates the seeded inputs, times a cold unit and warm
units for `--seconds`, and checks every unit's output. `--trace 1` adds a
traced pass and reports the per-layer metrics instead of the end-to-end
ones. Human-readable lines go first; the last stdout line is the JSON
result.

`--record` re-records perfbench/expected/registry_sf0.01.tsv from the
current code (every registered query, cold pass then warm pass).
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("etl_feeds", "registry_sample")
# set-ups per run: this many set-up-only JVMs, plus the measuring JVM's own
SETUP_PROBES = 1
RUN_LIMIT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


def heap_mb():
    """A quarter of the machine's memory, between 2 and 6 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(2048, min(6144, kb // 4096))


def jvm(cp, work, mode, deadline, extra=()):
    """Runs perfbench.Main once; returns its JSON output, or exits on failure."""
    out = work / f"{mode}-{time.monotonic_ns()}.json"
    log = work / "jvm.log"
    # a fixed-size heap, so GC timing does not depend on how the heap grew
    cmd = (["java", f"-Xms{heap_mb()}m", f"-Xmx{heap_mb()}m", f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--mode", mode, "--root", str(ROOT),
              "--work", str(work), "--out", str(out), "--cores", str(cores()),
              "--t0", str(time.monotonic_ns())] + list(extra))
    env = dict(os.environ, GRAFT_FIXTURES_DIR=str(ROOT / "fixtures" / "payloads"))
    with open(log, "a") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            # also on SIGTERM (see main): never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code is None:
        fail(work, f"{mode} JVM exceeded the run's time limit")
    if code != 0 or not out.exists():
        fail(work, f"{mode} JVM exited with code {code}")
    return json.loads(out.read_text())


def fail(work, why):
    log = work / "jvm.log"
    if log.exists():
        sys.stderr.write(log.read_text()[-6000:])
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(f"perfbench: {why}")


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not a.record and not a.workload:
        ap.error("--workload is required")

    cp = build.build()
    work = build.OUT / "work" / f"{a.workload or 'record'}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)

    if a.record:
        jvm(cp, work, "record", time.monotonic() + 3600)
        shutil.rmtree(work, ignore_errors=True)
        return

    deadline = time.monotonic() + RUN_LIMIT_S
    probes = 0 if a.trace else SETUP_PROBES
    setups = [jvm(cp, work, "setup", deadline)["setup_s"] for _ in range(probes)]
    r = jvm(cp, work, "run", deadline, ["--workload", a.workload, "--seed", str(a.seed),
                                        "--seconds", str(a.seconds), "--trace", str(a.trace)])
    setups.append(r["metrics"]["setup_s"]["value"])
    trace = work / "trace.jsonl"
    if trace.exists():
        shutil.copy(trace, build.OUT / f"trace-{a.workload}-{a.seed}.jsonl")
    shutil.rmtree(work, ignore_errors=True)

    metrics = r["metrics"]
    if a.trace:
        del metrics["setup_s"]
    else:
        metrics["setup_s"]["value"] = statistics.median(setups)
    attempted, failed = r["attempted"], r["failed"]
    print(f"workload {a.workload}  seed {a.seed}  local[{cores()}]  heap {heap_mb()} MiB  "
          f"trace {a.trace}  seconds {a.seconds:g}")
    if not a.trace:
        print(f"setup_s samples: {', '.join(f'{s:.3f}' for s in setups)} (median reported)")
    for k, v in r["info"].items():
        print(f"{k}: {json.dumps(v)}")
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(f"failed_ratio {failed / attempted:.4g} ({failed} of {attempted} units failed or wrong)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
