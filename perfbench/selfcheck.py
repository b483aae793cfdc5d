"""Smoke-size self-check of the benchmark.

    python3 perfbench/selfcheck.py            # from the repository root

For every workload it runs the benchmark at smoke size (tiny inputs, 2 s)
with --trace 0 and --trace 1 and asserts that:
  - the last stdout line is the result object, with correct=true and no
    failed operation;
  - the metrics are exactly BENCHMARK.json's end_to_end (trace 0) or
    per_layer (trace 1) names, each with the unit declared there;
  - every span of the written trace has a positive self time, and the self
    times of each root span's subtree add up to the root's duration;
  - every per-layer rows/pairs count is non-zero on some workload.
It also runs the benchmark in a directory holding only BENCHMARK.json and
perfbench/, where it must fail without printing a result.
"""
import collections
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

SEED = 7


def run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + args,
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    failures = []
    counts = collections.defaultdict(float)

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    # fwd_requests is not in BENCHMARK.json (too slow for the scheduled
    # runs' time budget) but stays runnable, so it is checked here too
    for w in [x["name"] for x in spec["workloads"]] + ["fwd_requests"]:
        for trace in (0, 1):
            rc, lines, err = run(["--workload", w, "--seed", str(SEED), "--seconds", "2",
                                  "--trace", str(trace), "--scale", "smoke"])
            tag = "%s trace=%d" % (w, trace)
            try:
                res = json.loads(lines[-1])
            except (IndexError, ValueError):
                expect(False, "%s prints a result line (rc %d): %s" % (tag, rc, err[-1500:]))
                continue
            expect(rc == 0 and res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   "%s is correct (rc %d, %d failed of %d)" % (tag, rc, res["failed"], res["attempted"]))
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want[trace], "%s prints every metric with its unit" % tag)
            expect(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                   "%s gives every metric a number" % tag)
            if trace == 0:
                continue
            for k, v in res["metrics"].items():
                if k.endswith((".rows", ".pairs")):
                    counts[k] += v["value"]
            path = os.path.join(build.build_dir(), "logs", "trace-%s-%d.jsonl" % (w, SEED))
            spans = [json.loads(x) for x in open(path)] if os.path.exists(path) else []
            expect(bool(spans), "%s wrote its trace" % tag)
            by_id = {s["id"]: s for s in spans}
            kids = collections.defaultdict(list)
            for s in spans:
                kids[s["parent"]].append(s)

            def subtree_self(s):
                return s["self_s"] + sum(subtree_self(c) for c in kids[s["id"]])
            for r in kids[-1]:
                dur = (r["end_ns"] - r["start_ns"]) / 1e9
                expect(abs(subtree_self(r) - dur) < 1e-3,
                       "%s: self times account for root span %s" % (tag, r["name"]))
            for name in sorted({s["name"] for s in spans}):
                total = sum(s["self_s"] for s in spans if s["name"] == name)
                expect(total > 0, "%s: span %s has self time (%.4f s)" % (tag, name, total))
            del by_id
    for k, v in sorted(counts.items()):
        expect(v > 0, "per-layer count %s is non-zero on some workload" % k)

    # without the program's sources the benchmark must fail and print no result
    bare = os.path.join(ROOT, ".bench_work", "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines, _ = run(["--workload", spec["workloads"][0]["name"], "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=bare)
    expect(rc != 0 and not any(x.startswith("{") for x in lines),
           "with only BENCHMARK.json and perfbench/ it fails without a result (rc %d)" % rc)
    shutil.rmtree(bare, ignore_errors=True)

    print("selfcheck: %s" % ("FAILED (%d)" % len(failures) if failures else "passed"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
