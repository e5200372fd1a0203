#!/usr/bin/env python3
"""The service benchmark's own tests, at smoke size (seconds per run).

    python3 servicebench/smoke_test.py

For each workload, an untraced and a traced run at smoke size must run
the same correctness checks as a full run and pass them (replay: the
HTTP count equals the generated quads, nothing goes to the DLQ and the
offset state equals the event count; live: the final count equals the
model's count after adds and deletes; query mix: every shape's answer
equals the model's), and must report exactly the metrics BENCHMARK.json
names. Then layer_diff.py must read the records, and run.py must fail
without a result where the engine sources are missing.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args, cwd=ROOT, timeout=900):
    return subprocess.run([sys.executable] + args, cwd=cwd, capture_output=True,
                          text=True, timeout=timeout)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"] for m in bench["end_to_end"]},
            1: {m["name"] for m in bench["per_layer"]}}
    failures = []
    records = []
    for w in ("replay_backlog", "live_freshness", "query_mix"):
        for trace in (0, 1):
            p = run([os.path.join(HERE, "run.py"), "--workload", w, "--seed", "7",
                     "--seconds", "2", "--trace", str(trace), "--smoke"])
            tag = f"{w} trace={trace}"
            if p.returncode != 0:
                failures.append(f"{tag}: exit {p.returncode}: {p.stderr[-800:]}")
                continue
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
                failures.append(f"{tag}: {result['failed']} of {result['attempted']} checks failed")
            if set(result["metrics"]) != want[trace]:
                failures.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"{sorted(set(result['metrics']) ^ want[trace])}")
            rec = next(l.split(": ", 1)[1] for l in lines if l.startswith("record: "))
            records.append(os.path.join(ROOT, rec))
            print(f"ok  {tag}: {result['attempted']} checks")

    if len(records) >= 2:
        p = run([os.path.join(HERE, "layer_diff.py"), records[0], records[1]])
        if p.returncode != 0 or "==" not in p.stdout:
            failures.append(f"layer_diff: {p.stderr[-400:]}")
        else:
            print("ok  layer_diff")

    bare = tempfile.mkdtemp(dir=os.path.join(HERE, "records"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "servicebench"),
                        ignore=shutil.ignore_patterns(".build", "records", "work", "target"))
        p = run(["servicebench/run.py", "--workload", "query_mix", "--seed", "1",
                 "--seconds", "1", "--trace", "0"], cwd=bare, timeout=180)
        if p.returncode == 0 or p.stdout.strip():
            failures.append("run.py without engine sources did not fail cleanly")
        else:
            print("ok  no sources: exit", p.returncode)
    finally:
        shutil.rmtree(bare)

    for f in failures:
        print("FAIL " + f)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
