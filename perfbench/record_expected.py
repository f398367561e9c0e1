#!/usr/bin/env python3
"""Records the expected triple digest of each workload and seed.

    python3 perfbench/record_expected.py --seeds 0-20

Run from the repository root. One Spark session generates each seeded
corpus, runs ``run_pipeline`` + ``write_triples`` once, checks the
output as run.py does, and stores the triple count and digest in
perfbench/expected_digests.json. run.py then checks every pass, traced
or not, against that record. Re-record only when a change is meant to
alter the triples, and say so in the change.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run as R
from workloads import WORKLOADS, write_corpus


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="0-20", help="inclusive range a-b")
    ap.add_argument("--workload", action="append",
                    help="default: every workload")
    args = ap.parse_args()

    work = os.path.join(R.ROOT, ".perfbench_work", f"record-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    table = R.load_expected() if os.path.exists(R.EXPECTED_PATH) else {}
    spark = R._session(work, trace=False)
    failed = 0
    try:
        for name in args.workload or sorted(WORKLOADS):
            for seed in _seeds(args.seeds):
                corpus = write_corpus(spark, WORKLOADS[name], seed,
                                      os.path.join(work, "corpus"))
                runner = R.Runner(spark, corpus, work, expected=None)
                runner.pipeline_pass()
                if runner.failed:
                    print(f"{name} seed {seed}: {runner.problems}")
                    failed += 1
                    continue
                table.setdefault(name, {})[str(seed)] = runner.digest
                print(f"{name} seed {seed}: {runner.digest}", flush=True)
    finally:
        R.shutdown_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    table = {name: dict(sorted(table[name].items(), key=lambda kv: int(kv[0])))
             for name in sorted(table)}
    with open(R.EXPECTED_PATH, "w", encoding="utf-8") as fh:
        json.dump(table, fh, indent=1)
        fh.write("\n")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
