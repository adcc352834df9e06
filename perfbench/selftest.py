"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py            # everything (a few minutes)
    python3 perfbench/selftest.py --quick    # checker and spec only, no Spark

1. The correctness checker accepts an oracle result and flags perturbed
   ones: two ranks swapped, a document dropped, a score off by one
   float32 ulp.
2. BENCHMARK.json has the shape the result lines are built from.
3. Every workload, untraced and traced, at a tiny input scale, prints a
   last line with exactly the keys correct/attempted/failed/metrics,
   every listed metric with its unit, and a correct result.
4. A directory holding only BENCHMARK.json and perfbench/ makes the
   command fail without printing a result.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

FAILURES: list[str] = []


def expect(cond: bool, what: str) -> None:
    print(("ok    " if cond else "FAIL  ") + what)
    if not cond:
        FAILURES.append(what)


def test_checker() -> None:
    import numpy as np

    from lucene_spark.corpus import make_corpus_rows
    from lucene_spark.search.qparser import parse_query
    from lucene_spark.analysis import get_analyzer
    from perfbench.checker import Checker, Oracle, damerau

    pdf = make_corpus_rows(range(120), seed=5)
    oracle = Oracle("content")
    oracle.add((i * 7 + 3, c) for i, c in enumerate(pdf["content"]))
    an = get_analyzer("code")
    checker = Checker(oracle, lambda q: parse_query(q, an))
    for q in ("index OR writer", "zw1* AND license", "merge~1", "[zw10 TO zw12]"):
        want = checker.expect(q, 10)
        expect(len(want) >= 3, f"oracle answers {q!r} with >= 3 hits")
        expect(checker.compare("exact", q, list(want), want), f"exact result of {q!r} accepted")
        swapped = list(want)
        swapped[0], swapped[1] = swapped[1], swapped[0]
        expect(not checker.compare("swap", q, swapped, want), f"swapped ranks of {q!r} flagged")
        expect(not checker.compare("drop", q, want[:1] + want[2:], want),
               f"dropped doc of {q!r} flagged")
        nudged = [(d, float(np.nextafter(np.float32(s), np.float32(0)))) if i == 0 else (d, s)
                  for i, (d, s) in enumerate(want)]
        expect(not checker.compare("ulp", q, nudged, want), f"1-ulp score change of {q!r} flagged")
    expect(len(checker.mismatches) == 12, "every perturbation recorded as a mismatch")
    expect(damerau("ca", "abc") == 2 and damerau("abcd", "acbd") == 1
           and damerau("index", "indx") == 1, "Damerau-Levenshtein distances")


def test_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    expect(set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}, "BENCHMARK.json keys")
    expect(2 <= len(spec["workloads"]) <= 8, "2-8 workloads")
    expect(all(set(w) == {"name", "why"} and len(w["why"]) <= 200
               for w in spec["workloads"]), "workload entries")
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    expect("setup_s" in e2e and e2e["setup_s"]["unit"] == "s"
           and e2e["setup_s"]["better"] == "lower", "setup_s present")
    expect(all(0 < m["bound"] <= 0.25 for m in e2e.values()), "bounds within (0, 0.25]")
    expect(e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values()),
           "setup_s has the largest bound")
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    expect(len(names) == len(set(names)), "metric names unique")
    from perfbench.workloads import WORKLOADS

    expect(all(w["name"] in WORKLOADS for w in spec["workloads"]), "workloads implemented")
    return spec


def last_json(out: str) -> dict | None:
    lines = [ln for ln in out.strip().splitlines() if ln.strip()]
    if not lines:
        return None
    try:
        return json.loads(lines[-1])
    except ValueError:
        return None


def test_runs(spec: dict) -> None:
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = spec["command"] + ["--workload", w["name"], "--seed", "3",
                                     "--seconds", "1", "--trace", str(trace),
                                     "--scale", "0.05"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            res = last_json(p.stdout)
            tag = f"{w['name']} trace={trace}"
            expect(p.returncode == 0 and res is not None, f"{tag}: exit 0 with a result line")
            if res is None:
                print(p.stderr[-2000:])
                continue
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{tag}: result keys")
            want = spec["per_layer"] if trace else spec["end_to_end"]
            expect(set(res["metrics"]) == {m["name"] for m in want},
                   f"{tag}: every {'per-layer' if trace else 'end-to-end'} metric emitted")
            expect(all(res["metrics"][m["name"]]["unit"] == m["unit"] for m in want
                       if m["name"] in res["metrics"]), f"{tag}: units")
            expect(all(isinstance(v["value"], (int, float)) and math.isfinite(v["value"])
                       for v in res["metrics"].values()), f"{tag}: finite values")
            expect(res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{tag}: correct, attempted {res['attempted']}, failed {res['failed']}")


def test_bare_dir(spec: dict) -> None:
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    cmd = spec["command"] + ["--workload", spec["workloads"][0]["name"], "--seed", "1",
                             "--seconds", "1", "--trace", "0"]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(cmd, cwd=bare, capture_output=True, text=True, timeout=180, env=env)
    expect(p.returncode != 0 and last_json(p.stdout) is None,
           f"bare directory: exit {p.returncode}, no result line")
    shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    test_checker()
    spec = test_spec()
    if "--quick" not in sys.argv:
        test_bare_dir(spec)
        test_runs(spec)
    print(f"{len(FAILURES)} failure(s)")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
