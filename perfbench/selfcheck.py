"""Self-checks of the benchmark itself, at toy sizes (a few minutes).

From the repository root::

    python3 perfbench/selfcheck.py

Checks that:

- the in-process document generator reproduces ``synthesize_corpus``;
- two seeds give different inputs for every workload;
- every workload, untraced and traced, emits exactly the metrics that
  ``BENCHMARK.json`` names, each with its unit, and passes its output
  checks.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

TOY = {
    "serve-mixed": {"batch_files": 6, "questions": 2, "top_k": 3, "max_cycles": 1},
    "graph-analytics": {"files": 24, "min_sym_edges": 0, "max_cycles": 1},
}


def fail(msg: str) -> None:
    print(f"FAIL {msg}")
    sys.exit(1)


def check_generator() -> None:
    from hipporag_spark.corpus import synthesize_corpus
    from workloads import synthesize_docs

    spark, _ = run.start_spark(run.WORK, None)
    try:
        for seed in (1, 2):
            ours = synthesize_docs(12, seed).sort_values("path").reset_index(drop=True)
            theirs = (synthesize_corpus(spark, 12, seed=seed).toPandas()[list(ours.columns)]
                      .sort_values("path").reset_index(drop=True))
            if not ours.equals(theirs):
                fail(f"synthesize_docs(seed={seed}) differs from synthesize_corpus")
    finally:
        run.stop_spark(spark)
    print("ok   synthesize_docs matches synthesize_corpus")


def check_seeds_differ() -> None:
    from workloads import WORKLOADS

    for name, cls in WORKLOADS.items():
        seen = []
        for seed in (1, 2):
            wl = cls(seed, run.WORK, sizes=TOY[name])
            wl.make_inputs()
            seen.append(json.dumps([getattr(wl, a, None) for a in ("batches", "questions")])
                        + (wl.pdf.to_json() if hasattr(wl, "pdf") else ""))
        if seen[0] == seen[1]:
            fail(f"{name}: seeds 1 and 2 gave the same inputs")
    print("ok   two seeds give different inputs")


def check_metrics() -> None:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for w in bench["workloads"]:
        for trace in (0, 1):
            args = argparse.Namespace(workload=w["name"], seed=3, seconds=0.0, trace=trace)
            result, detail = run.run(args, sizes=TOY[w["name"]])
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want[trace]:
                fail(f"{w['name']} trace={trace}: metrics {sorted(set(got) ^ set(want[trace]))} "
                     "differ from BENCHMARK.json")
            if not result["correct"] or result["failed"]:
                errs = [e for o in detail["ops"] for e in o["errors"]]
                fail(f"{w['name']} trace={trace}: output checks failed: {errs}")
            bad = [k for k, v in result["metrics"].items()
                   if not isinstance(v["value"], (int, float))]
            if bad:
                fail(f"{w['name']} trace={trace}: non-numeric {bad}")
            print(f"ok   {w['name']} trace={trace}: {len(got)} metrics with units, outputs correct")


def main() -> int:
    run.require_program()
    check_seeds_differ()
    check_generator()
    check_metrics()
    return 0


if __name__ == "__main__":
    sys.exit(main())
