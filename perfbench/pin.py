"""Recompute ``perfbench/pinned.json``: the ingest workload's reference
digests for the default seed, one per number of delivered tail commits,
each from a single-epoch ingest of the same events.

    python3 perfbench/pin.py

Run it from the repository root after changing ``gen.INGEST`` or the
generators; a pinned digest that no longer matches the engine's output
fails the ingest correctness check.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))


def main() -> int:
    import pandas as pd

    from linked_maps_spark.changelog import to_spark
    from perfbench import checks, gen, workloads
    from perfbench import run as cli

    h = cli.host()
    work = os.path.join(cli.WORK, f"pin-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cli.size_for_host(h, os.path.join(work, "tmp"))
    r = workloads.Run("ingest", cli.DEFAULT_SEED, 0, False, work, h["nproc"])
    try:
        spark = workloads.start_session(r, "perfbench-pin")
        backfill, tail = gen.ingest_plan(r.seed, gen.INGEST)
        digests = {}
        for n in range(1, len(tail) + 1):
            events = to_spark(spark, pd.concat([backfill, *tail[:n]], ignore_index=True))
            digests[str(n)] = checks.single_epoch_digest(
                spark, r.path(f"ref-{n}"), events, gen.INGEST["backfill_commits"] + n
            )
            print(f"{n} tail commits: {digests[str(n)]}", flush=True)
        spark.stop()
    finally:
        cli.stop_all()
        shutil.rmtree(work, ignore_errors=True)
    with open(checks.PINNED, "w") as fh:
        json.dump({
            "seed": r.seed, "config": checks.config_key(gen.INGEST), "digests": digests,
        }, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
