"""Smoke self-test of the benchmark itself, on tiny inputs.

    python3 perfbench/selftest.py

Run from the repository root (a few minutes on 4 vCPU). It checks the
benchmark, not the engine:

1. every workload runs untraced and traced, and prints a number for every
   metric that BENCHMARK.json names;
2. ``--corrupt-check`` (one output check fed a corrupted input: the cdc
   fingerprint oracle loses the last bulk event) makes the run fail with
   exit status 1 and ``"correct": false``;
3. two traced runs of each workload with the same seed give identical
   job, stage and task counts for every span;
4. in a directory holding only BENCHMARK.json and perfbench/, the command
   exits non-zero without printing a result.

A workload whose own output check fails (an engine defect) is reported but
does not fail the self-test.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# its own output directory, so no full run compares itself with a tiny one
TINY = ["--seconds", "2", "--scale", "0.25", "--out", ".perfbench/selftest"]
OUT = os.path.join(ROOT, ".perfbench", "selftest")


def run(workload: str, seed: int, trace: int, *extra: str, cwd: str = ROOT):
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--trace", str(trace), *TINY, *extra,
    ]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600, env=env)
    lines = p.stdout.strip().splitlines()
    result = detail = None
    if len(lines) >= 2:
        try:
            detail, result = json.loads(lines[-2]), json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    return p.returncode, result, detail, p.stderr


def span_counts(path: str) -> set:
    with open(path) as fh:
        spans = json.load(fh)["spans"]
    return {
        (str(s["step"]), str(s["batch"]), s["name"], s["jobs"], s["stages"], s["tasks"])
        for s in spans
    }


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {
        0: {m["name"] for m in bench["end_to_end"]},
        1: {m["name"] for m in bench["per_layer"]},
    }
    failures: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    signatures: dict[str, list] = {}
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            code, result, detail, err = run(w, 7, trace)
            expect(result is not None, f"{w} trace={trace}: result line printed")
            if result is None:
                print(err[-3000:])
                continue
            numeric = {
                k for k, v in result["metrics"].items()
                if isinstance(v["value"], (int, float)) and not isinstance(v["value"], bool)
            }
            expect(numeric == want[trace], f"{w} trace={trace}: every metric, as a number")
            expect(code == (0 if result["correct"] else 1), f"{w} trace={trace}: exit status")
            if not result["correct"]:
                print(f"     note: {w} trace={trace} output checks failed: "
                      + json.dumps({k: v for k, v in detail["checks"].items() if not v["ok"]}))
            if trace == 1:
                signatures[w] = [detail["detail"]["span_signature_sha256"]]
                shutil.copy(os.path.join(ROOT, detail["detail"]["spans_file"]),
                            os.path.join(OUT, f"first-{w}-spans.json"))

    code, result, _, _ = run("cdc", 7, 0, "--corrupt-check")
    expect(
        code == 1 and result is not None and not result["correct"] and result["failed"] >= 1,
        "cdc --corrupt-check: the fingerprint check fails the run",
    )

    for w, sigs in signatures.items():
        _, _, detail, _ = run(w, 7, 1)
        sigs.append(detail["detail"]["span_signature_sha256"] if detail else None)
        same = sigs[0] == sigs[1]
        expect(same, f"{w} traced twice, same seed: identical per-span job/stage/task counts")
        if not same and detail:
            first = span_counts(os.path.join(OUT, f"first-{w}-spans.json"))
            second = span_counts(os.path.join(ROOT, detail["detail"]["spans_file"]))
            for x in sorted(first ^ second)[:10]:
                print("     " + ("first  " if x in first else "second ") + str(x))

    bare = os.path.join(OUT, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, result, _, _ = run("cdc", 7, 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and result is None, "benchmark files alone: non-zero exit, no result")

    print(f"\n{'ALL OK' if not failures else f'{len(failures)} FAILED'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
