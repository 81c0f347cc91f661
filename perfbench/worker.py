"""One benchmark process: set up Spark, run one workload, print a JSON line.

Started by ``run.py`` (never directly by a user): the launcher generates
the inputs, exports the environment and samples this process tree's RSS.

    worker.py --workload NAME --seed N --trace 0|1 --work DIR --spawned-at T

The workload's inputs and (for ``a911_ingest``) the loopback servers are
set up by the launcher in ``--work``. ``--spawned-at`` is the launcher's wall clock just before it started this
process, so ``setup_s`` runs from process start to a warmed-up session.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def setup(spawned_at: float) -> tuple[object, dict]:
    """Session up, registry loaded, one untimed global warm-up job done."""
    from common import noop, now

    t0 = now()
    from etl_active911_spark.plans import registry
    from etl_active911_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = now()
    registry.load_all()
    t2 = now()
    noop(
        spark.range(0, 200_000, numPartitions=os.cpu_count() or 1)
        .selectExpr("id % 97 AS k", "id")
        .groupBy("k")
        .sum("id")
    )
    t3 = now()
    return spark, {
        "setup_s": time.time() - spawned_at,
        "session.start_s": t1 - t0,
        "plans.registry_load_s": t2 - t1,
        "session.warmup_s": t3 - t2,
    }


def main() -> int:
    from common import RESULT_PREFIX, phase

    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("a911_ingest", "corpus_curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    args = ap.parse_args()

    spark, setup_info = setup(args.spawned_at)
    try:
        if args.workload == "a911_ingest":
            from wl_a911 import run
        else:
            from wl_curation import run
        result = run(spark, args)
        result["setup"] = setup_info
        phase(args.work, "harness")
        # the launcher kills this process group once it has read this line
        print(f"{RESULT_PREFIX}{json.dumps(result)}", flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
