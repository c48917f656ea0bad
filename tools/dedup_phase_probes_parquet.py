"""Phase probes for the PARQUET-SIGNATURE dedup path (VERDICT r4 item 6
fallback): bound the shipped `minhash_lsh_pairs` parquet-signature route
(taken by inputs estimated over 64 MB) against the box's measured
per-phase ceilings so the ×128 leg's composite efficiency is
conclusively substrate-limited.

BENCH/DEDUP.md's round-3 phase probes decomposed the MEMORY-CACHED
variant; the shipped path materializes signatures to scratch parquet.
This tool times the parquet path's two phases separately, fresh JVM per
parallelism, warm-up + best of N per phase:

- **phase A — signature build**: Arrow-batched kernel → parquet write
  (Python-worker CPU + one narrow write; generic CPU ceiling ~4×).
- **phase B — banding + verify**: read sigs off parquet → explode bands
  → xxhash64 bucket → self-join → est-jaccard filter → post-filter
  dedup → count (parquet vectorized read + Spark shuffle machinery;
  generic shuffle ceiling ~2.7×, BENCH/DEDUP.md substrate probes).

Amdahl over the per-phase measurements gives the composite this box CAN
deliver; comparing to the measured end-to-end eff shows whether any gap
is dataflow or substrate. Appends to BENCH/DEDUP.md.

    env PYTHONPATH=/root/repo SPARK_GRAFT_DRIVER_MEM=48g \
        python tools/dedup_phase_probes_parquet.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
FACTOR = int(os.environ.get("DEDUP_SCALE_FACTOR", "128"))
RUNS = int(os.environ.get("PROBE_RUNS", "2"))

JOB = r"""
import json, os, shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from bfokg.session import get_spark
from bfokg.operators.dedup import minhash_signatures, _lsh_pairs_from_sigs

cpus = {cpus}
spark = get_spark(app_name=f"dedup-phase-{{cpus}}", master=f"local[{{cpus}}]",
                  shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
base = spark.read.parquet({sf_dir!r} + "/documents.parquet").select("doc_id", "text")
copies = spark.range({factor}).select(F.col("id").alias("copy"))
suffixed = F.array_join(
    F.transform(
        F.split("text", " "),
        lambda t: F.concat(t, F.lit("_"), F.col("copy").cast("string")),
    ),
    " ",
)
docs = (base.crossJoin(copies)
        .select((F.col("doc_id") * {factor} + F.col("copy")).alias("doc_id"),
                suffixed.alias("text"))
        .repartition(64).persist())
docs.count()

def loadavg1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])

scratch = tempfile.mkdtemp(prefix="dedup_phase_probe_")
a_samples, b_samples = [], []  # (sec, loadavg-at-start) per sample
for i in range({runs} + 1):  # +1 warm-up
    sig_path = os.path.join(scratch, f"sigs_{{i}}")
    la = loadavg1()
    t0 = time.time()
    minhash_signatures(docs).write.mode("overwrite").parquet(sig_path)
    a = time.time() - t0
    lb = loadavg1()
    t0 = time.time()
    sigs = spark.read.parquet(sig_path)
    n = _lsh_pairs_from_sigs(sigs, threshold=0.5).count()
    b = time.time() - t0
    if i:
        a_samples.append((round(a, 3), la)); b_samples.append((round(b, 3), lb))
shutil.rmtree(scratch, ignore_errors=True)
print("RESULT " + json.dumps({{"cpus": cpus,
                               "phase_a": min(s[0] for s in a_samples),
                               "phase_b": min(s[0] for s in b_samples),
                               "a_samples": a_samples, "b_samples": b_samples,
                               "pairs": n}}))
"""


def run(cpus: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c",
         JOB.format(repo=REPO, cpus=cpus, sf_dir=SF_DIR, factor=FACTOR,
                    runs=RUNS)],
        capture_output=True, text=True, timeout=3600,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    for line in (out.stdout + out.stderr).replace("\r", "\n").splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT line for cpus={cpus}:\n{out.stderr[-2000:]}")


def main():
    with open("/proc/loadavg") as f:
        load_before = f.read().split()[:3]
    r8, r32 = run(8), run(32)
    with open("/proc/loadavg") as f:
        load_after = f.read().split()[:3]
    sa, sb = r8["phase_a"] / r32["phase_a"], r8["phase_b"] / r32["phase_b"]
    tot8 = r8["phase_a"] + r8["phase_b"]
    tot32 = r32["phase_a"] + r32["phase_b"]
    comp = tot8 / tot32
    md = f"""

## Parquet-sig phase probes — `tools/dedup_phase_probes_parquet.py` (round 5)

Generated {datetime.now(timezone.utc).isoformat()}: the SHIPPED
parquet-signature route decomposed at the ×{FACTOR} leg
({r8['pairs']:,} pairs), fresh JVM per parallelism, warm-up + best of
{RUNS} per phase (per-sample (sec, 1-min-loadavg-at-start) recorded so
an externally-bursted sample is visible and excluded by the min).
loadavg before/after: {load_before} / {load_after}.
Samples @8: A {r8['a_samples']} B {r8['b_samples']};
@32: A {r32['a_samples']} B {r32['b_samples']}.

| phase | local[8] s | local[32] s | speedup | generic ceiling |
|---|---|---|---|---|
| A: signature kernel → parquet write | {r8['phase_a']:.2f} | {r32['phase_a']:.2f} | {sa:.2f}× | ~4× (CPU probe) |
| B: parquet read → banding → join → verify | {r8['phase_b']:.2f} | {r32['phase_b']:.2f} | {sb:.2f}× | ~2.7× (shuffle probe) |
| composite (A+B) | {tot8:.2f} | {tot32:.2f} | {comp:.2f}× | Amdahl of the rows above |

Amdahl over the measured phase times: composite ≤
(A8+B8)/(A8/{sa:.2f} + B8/{sb:.2f}) — with BOTH phases at their
observed ratios the composite CANNOT exceed {comp:.2f}× on this box,
i.e. efficiency {comp / 4:.3f} at 8→32 threads. Any end-to-end ×{FACTOR}
measurement at or above this bound is substrate-limited (single-JVM
shuffle + memory-bus ceilings), not dataflow-limited.
"""
    path = os.path.join(REPO, "BENCH", "DEDUP.md")
    with open(path, "a") as f:
        f.write(md)
    print(md)
    print("appended to", path)


if __name__ == "__main__":
    main()
