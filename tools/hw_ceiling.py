"""Hardware scaling ceiling probe (no Spark).

Runs the pipeline's per-document Python kernel (fused langid+perplexity
scoring, scrub, heuristics — the exact code the pandas UDF executes) in K
INDEPENDENT single-core-pinned processes and reports aggregate docs/sec.
Zero coordination, zero I/O, zero shuffle: this is the embarrassingly-
parallel upper bound of what this box can scale.  The two legs are
K = N = nproc/4 and K = 4N = nproc (``legs()``), so

    hardware_ceiling(N→4N) = agg_docs_per_sec@4N / (4 × agg_docs_per_sec@N)

is the maximum efficiency ANY job of this workload class (memory-bound
string/numpy batch work) can show between local[N] and local[4N] here.
On a real cluster N→4N executors multiplies memory bandwidth and disks by
4× (separate machines), so the ceiling is ~1.0 there; this probe exists to
separate the shared-memory-bus artifact from the plan's own scaling
behavior.

Usage: python tools/hw_ceiling.py [seconds_per_leg]
Prints one JSON line: {"legs": [N, 4N], "agg": {"N": .., "4N": ..}, "ceiling": ..}
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_KERNEL = """
import sys, time, os
sys.path.insert(0, sys.argv[3])
os.environ["MALLOC_MMAP_THRESHOLD_"] = str(1 << 30)
os.environ["MALLOC_TRIM_THRESHOLD_"] = str(1 << 30)
import numpy as np
import pyarrow.parquet as pq
t = pq.read_table(sys.argv[1], columns=["text"]).slice(0, 10000)
texts = t.column("text").to_pylist()
from packs_spark.ml.ngram import LangIdModel, PerplexityModel, fused_predict
from packs_spark.pipeline.scrub import scrub_batch
from packs_spark.pipeline.udfs import _heuristic_batch
from packs_spark.pipeline.rules import STOPWORDS
lid = LangIdModel.train(); pplm = PerplexityModel.train()
stacked = np.concatenate([lid.tables, pplm.table[None, :]], 0)
stop = frozenset(STOPWORDS)
fused_predict(texts, stacked, len(lid.langs)); scrub_batch(texts)
_heuristic_batch(texts, stop)  # warm arenas
budget = float(sys.argv[2])
t0 = time.time(); n = 0
while time.time() - t0 < budget:
    fused_predict(texts, stacked, len(lid.langs))
    scrub_batch(texts)
    _heuristic_batch(texts, stop)
    n += 10000
print(n / (time.time() - t0))
"""


def legs() -> tuple[int, int]:
    """(N, 4N) = (nproc/4, nproc) over the CPUs this process may run on
    (N = 1 below 4 CPUs, so the ratio is then nproc:1)."""
    n = len(os.sched_getaffinity(0))
    return max(1, n // 4), n


def measure(src: str, seconds: float = 8.0) -> dict:
    cpus = sorted(os.sched_getaffinity(0))
    small, large = legs()
    agg = {}
    for k in (small, large):
        procs = [
            subprocess.Popen(
                ["taskset", "-c", str(cpus[i]), sys.executable, "-c", _KERNEL,
                 src, str(seconds), REPO],
                stdout=subprocess.PIPE, text=True,
            )
            for i in range(k)
        ]
        agg[k] = sum(
            float(p.communicate()[0].strip().splitlines()[-1]) for p in procs
        )
    return {
        "legs": [small, large],
        "agg": {str(k): round(v, 1) for k, v in agg.items()},
        "ceiling": round(agg[large] * small / (large * agg[small]), 3),
    }


if __name__ == "__main__":
    secs = float(sys.argv[1]) if len(sys.argv) > 1 else 8.0
    src = os.path.join(REPO, "BENCH", "data", "webpages_1000000.parquet")
    print(json.dumps(measure(src, secs)))
