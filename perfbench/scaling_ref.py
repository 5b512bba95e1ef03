"""Single-core reference run of extract_bulk, in its own JVM at local[1].

    python3 perfbench/scaling_ref.py --input <clustered table> \
        --out <dir> --seconds 5 --work <work dir>

Runs extract_bulk's warm-up jobs and then its job back to back for
--seconds (at least once), with the same job and measuring loop as run.py,
and prints {"turns_per_s": ...} from the median job time as its last
stdout line. run.py starts it from a traced extract_bulk run to compute
session.scaling_eff_1to4.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--work", required=True)
    args = p.parse_args()
    from sparkenv import prepare_env, start_session, stop_jvm
    prepare_env(ROOT, args.work)
    from probes import median
    from run import Bench
    from workloads import WORKLOADS
    b = Bench(WORKLOADS["extract_bulk"], seed=0, seconds=args.seconds,
              trace=False, cores=1)
    b.inp, b.out = args.input, args.out
    b.spark = start_session(b.master, args.work, b.cores)
    try:
        b.n_turns = b.spark.read.parquet(b.inp).count()
        b.warm_up()
        runs = b.measure()
    finally:
        stop_jvm(b.spark)
    if b.failed:
        sys.exit(f"{b.failed} of {b.attempted} local[1] jobs failed")
    print(json.dumps({"turns_per_s": b.n_turns
                      / median([r["job_s"] for r in runs]),
                      "jobs": len(runs)}))


if __name__ == "__main__":
    main()
