"""sparkfts benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run from the repository root. The engine (`lucene_spark/`) is imported
from the directory above this file; everything the run writes goes to
`.perfbench_work/` (removed at exit) and `.perfbench_out/` (the run
record) under that root. Workloads and metric names are listed in
BENCHMARK.json; what each workload measures is described in
perfbench/workloads.py.

With --trace 0 the last stdout line carries the end-to-end metrics,
with --trace 1 the per-layer metrics of the traced run. Lines before it
print the workload's named figures with their units. The exit status is
0 when a result was printed, non-zero otherwise (engine missing, a
crash, or the 170 s watchdog).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WATCHDOG_S = 170
PROCESS_T0 = time.time()


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-test uses a tiny one)")
    ap.add_argument("--level", type=int, default=None, help=argparse.SUPPRESS)
    ap.add_argument("--work", default=None, help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def engine_importable() -> str | None:
    sys.path.insert(0, ROOT)
    try:
        import lucene_spark.corpus  # noqa: F401
        import pyspark  # noqa: F401
    except Exception as e:
        return repr(e)
    return None


def prepare_env(work: str) -> None:
    """Scratch locations under the run's work dir, engine on PYTHONPATH
    (the Python workers import it too)."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


class Level:
    """A build level running in its own process and JVM; JSON lines over
    stdin/stdout, replies prefixed with '@@'."""

    def __init__(self, args, cores: int, work: str):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", "build",
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", str(args.scale),
               "--level", str(cores), "--work", os.path.join(work, f"level{cores}")]
        self.p = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                  text=True, bufsize=1, cwd=ROOT)

    def recv(self) -> dict:
        for line in self.p.stdout:
            if line.startswith("@@"):
                return json.loads(line[2:])
        raise RuntimeError(f"build level exited with status {self.p.wait()}")

    def send(self, cmd: dict) -> None:
        self.p.stdin.write(json.dumps(cmd) + "\n")
        self.p.stdin.flush()

    def ask(self, cmd: dict) -> dict:
        self.send(cmd)
        return self.recv()

    def close(self) -> None:
        try:
            self.p.stdin.close()
        except Exception:
            pass
        try:
            self.p.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.p.kill()
            self.p.wait()


def level_main(args) -> int:
    """Child side of a build level."""
    from perfbench.workloads import Run, build_level

    def reply(obj) -> None:
        sys.stdout.write("@@" + json.dumps(obj) + "\n")
        sys.stdout.flush()

    run = Run("build", args.seed, args.seconds, bool(args.trace), args.work, args.scale)
    commands = (json.loads(line) for line in sys.stdin if line.strip())
    try:
        build_level(run, args.level, commands, reply)
    finally:
        run.stop()
    return 0


def result_line(run, names: list[dict]) -> dict:
    got = run.layer if run.trace else run.e2e
    missing = [m["name"] for m in names if m["name"] not in got]
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    metrics = {m["name"]: {"value": got[m["name"]][0], "unit": m["unit"]} for m in names}
    bad_units = [n for n, (v, u) in ((m["name"], got[m["name"]]) for m in names)
                 if u != metrics[n]["unit"]]
    if bad_units:
        raise RuntimeError(f"unit mismatch: {bad_units}")
    return {"correct": run.failed == 0 and all(c["ok"] for c in run.checks),
            "attempted": int(max(1, run.attempted)), "failed": int(run.failed),
            "metrics": metrics}


def write_record(run, result: dict) -> str:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{run.workload}-seed{run.seed}-trace{int(run.trace)}.json")
    rec = dict(run.record, result=result, details=run.details, e2e=run.e2e,
               layer=run.layer, checks=run.checks)
    if run.trace:
        rec["spans"] = run.tracer.spans
    with open(path, "w") as fh:
        json.dump(rec, fh, indent=1, default=str)
    return path


def main(argv=None) -> int:
    args = parse_args(argv)
    err = engine_importable()
    if err is not None:
        print(f"perfbench: the engine is not importable from {ROOT}: {err}",
              file=sys.stderr)
        return 3
    if args.level is not None:
        prepare_env(args.work)
        return level_main(args)

    spec = load_spec()
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    def on_alarm(signum, frame):
        raise TimeoutError(f"watchdog: run exceeded {WATCHDOG_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(WATCHDOG_S)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    prepare_env(work)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work, args.scale)
    t0 = time.perf_counter()
    run.record["env_s"]["python_start"] = time.time() - PROCESS_T0
    try:
        if args.workload == "build":
            WORKLOADS["build"](run, lambda cores: Level(args, cores, work))
        else:
            WORKLOADS[args.workload](run)
    finally:
        t_stop = time.perf_counter()
        run.stop()
        run.record["env_s"]["stop"] = time.perf_counter() - t_stop
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    run.record["wall_s"] = time.perf_counter() - t0
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    result = result_line(run, names)
    path = write_record(run, result)
    print(f"{args.workload} seed={args.seed} trace={args.trace} "
          f"wall={run.record['wall_s']:.1f}s record={os.path.relpath(path, ROOT)}")
    for title, group in (("workload figures", run.details), ("end-to-end", run.e2e),
                         ("per-layer", run.layer)):
        for name, (v, unit) in sorted(group.items()):
            print(f"  {title:16s} {name:42s} {v:14.4f} {unit}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    if __package__ in (None, ""):
        sys.path.insert(0, ROOT)
    sys.exit(main())
