"""Aho-vs-regex crossover for mention detection (VERDICT r4 item 4).

``extract_mentions`` has two routes: ``_mentions_sql`` (JVM
``regexp_extract_all`` over one compiled alternation — codegen, no
Python) and ``_mentions_aho`` (Arrow-batched Aho-Corasick — O(|text|)
per row regardless of dictionary size). The reference's real alias dict is
millions of surfaces (SURVEY.md §2.3); this bench measures WHERE the
alternation stops being the right default.

Method: the sf1 transcripts table (600,000 turns). Each dictionary size
keeps the SAME hit set (the fixture aliases, which genuinely occur in
the corpus) and pads to size with synthetic never-matching surfaces
("qq<i>xz" — word-boundary-safe, absent from the corpus), so the OUTPUT
is identical across sizes and the measured delta is purely
dictionary-size scan cost. One subprocess per (size, impl) leg — fresh
JVM, warm-up run, best of two timed runs, per-leg timeout so a
pathological alternation dies without killing the bench (recorded DNF).

Appends the crossover table to BENCH/MENTIONS.md; the measured crossover
feeds ``extract_mentions``' size threshold
(``AUTO_SQL_MAX_SURFACES`` in bfokg/operators/linking.py).

    env PYTHONPATH=/root/repo python tools/mention_crossover_bench.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(REPO, "data", "transcripts", "sf1")
SIZES = [100, 1_000, 10_000, 100_000]
LEG_TIMEOUT = int(os.environ.get("MENTION_LEG_TIMEOUT", "900"))

JOB = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from bfokg.session import get_spark
from bfokg.operators import linking

size, impl = {size}, {impl!r}
real = sorted({{r[0] for r in linking.alias_rows()}})
pad = [f"qq{{i}}xz" for i in range(max(0, size - len(real)))]
surfaces = (real + pad)[:size]

spark = get_spark(app_name=f"mention-xover-{{impl}}-{{size}}",
                  master="local[32]", shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
turns = spark.read.parquet({data!r}).select(
    "conv_id", "turn_idx", "role", "ts", "text").persist()
n_turns = turns.count()

t0 = time.time()
df = getattr(linking, f"_mentions_{{impl}}")(turns, surfaces)
build_sec = time.time() - t0  # driver-side automaton/pattern build

times, n = [], 0
for i in range(3):  # first run = warm-up
    t0 = time.time()
    n = df.count()
    if i:
        times.append(time.time() - t0)
print("RESULT " + json.dumps({{"size": size, "impl": impl, "turns": n_turns,
                               "mentions": n, "build_sec": round(build_sec, 3),
                               "scan_sec": round(min(times), 3)}}))
"""


def run(size: int, impl: str) -> dict:
    try:
        out = subprocess.run(
            [sys.executable, "-c",
             JOB.format(repo=REPO, size=size, impl=impl, data=DATA)],
            capture_output=True, text=True, timeout=LEG_TIMEOUT,
            env={**os.environ, "PYTHONPATH": REPO},
        )
    except subprocess.TimeoutExpired:
        return {"size": size, "impl": impl, "dnf": f">{LEG_TIMEOUT}s timeout"}
    for line in (out.stdout + out.stderr).replace("\r", "\n").splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    return {"size": size, "impl": impl,
            "dnf": (out.stderr or out.stdout)[-300:].replace("\n", " ")}


def main():
    with open("/proc/loadavg") as f:
        load_before = f.read().split()[:3]
    rows = []
    for size in SIZES:
        for impl in ("sql", "aho"):
            r = run(size, impl)
            rows.append(r)
            print(json.dumps(r), flush=True)
    with open("/proc/loadavg") as f:
        load_after = f.read().split()[:3]

    def fmt(r):
        if "dnf" in r:
            return f"| {r['size']:,} | {r['impl']} | DNF ({r['dnf']}) | — | — |"
        per_m = r["scan_sec"] / r["turns"] * 1_000_000
        return (f"| {r['size']:,} | {r['impl']} | {r['scan_sec']:.2f} "
                f"| {per_m:.2f} | {r['build_sec']:.2f} |")

    lines = "\n".join(fmt(r) for r in rows)
    md = f"""# Mention-detection crossover — `tools/mention_crossover_bench.py`

Generated {datetime.now(timezone.utc).isoformat()}: sf1 transcripts
(600,000 turns, local[32]), identical hit set per size (fixture aliases
+ never-matching pad surfaces → identical output, pure dict-size cost).
Fresh JVM per leg, warm-up, best of two. build = driver-side
pattern/automaton construction (one-time); scan = the distributed pass.
loadavg before/after: {load_before} / {load_after}.

| dict size | impl | scan sec | sec / 1M turns | build sec |
|---|---|---|---|---|
{lines}
"""
    path = os.path.join(REPO, "BENCH", "MENTIONS.md")
    with open(path, "w") as f:
        f.write(md)
    print(md)
    print("written to", path)


if __name__ == "__main__":
    main()
