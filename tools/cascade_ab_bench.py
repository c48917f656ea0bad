"""A/B micro-bench for the cascade dataflow (VERDICT r4 item 8).

Times the two cascade-family driver queries — ``doc_cascade`` (5,000 docs
at sf0.1, SF-proportional) and ``cascade_assignments`` (31 fixture
entities, pure fixed cost) — in a fresh JVM on ``local[$SPARK_GRAFT_CPUS]``:
one warm-up, best of two timed runs each, with the core count and the
load average recorded next to the times. Run it once per checkout from
the checkout's root, interleaving the two, then record both in
BENCH/CASCADE.md.

    SPARK_GRAFT_CPUS=$(nproc) python tools/cascade_ab_bench.py <label>
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main():
    label = sys.argv[1] if len(sys.argv) > 1 else "unlabeled"
    with open("/proc/loadavg") as f:
        load_before = f.read().split()[:3]

    from bfokg.session import get_spark

    import __spark_entry__ as entry

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark = get_spark(app_name=f"cascade-ab-{label}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    out = {}
    for name in ("doc_cascade", "cascade_assignments"):
        times = []
        for i in range(3):  # first run = warm-up
            t0 = time.time()
            n = qs[name](spark, SF_DIR).count()
            dt = time.time() - t0
            if i > 0:
                times.append(dt)
        out[name] = {"sec": round(min(times), 3), "rows": n}
    with open("/proc/loadavg") as f:
        load_after = f.read().split()[:3]
    print("RESULT " + json.dumps({"label": label, "cpus": cpus, "queries": out,
                                  "loadavg_before": load_before,
                                  "loadavg_after": load_after}))


if __name__ == "__main__":
    main()
