"""Kernel ceiling: the enrich UDF's three kernels without Spark.

K independent processes, each pinned to its own core, run
``ml.ngram.fused_predict``, ``pipeline.scrub.scrub_batch`` and
``pipeline.udfs._heuristic_batch`` on the same batch of the workload's
texts for a fixed time.  Zero coordination, I/O or shuffle, so the
aggregate docs/s is what the pipeline's per-document work can reach on
these cores: the denominator of ``ceiling_frac``.

Each process is ``python3 perfbench/kernels.py <core> <seconds>`` with
the texts as JSON on stdin and its result as JSON on stdout.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time


def _kernel_worker(core: int, texts: list, seconds: float) -> dict:
    os.sched_setaffinity(0, {core})
    import numpy as np

    from packs_spark.ml.ngram import LangIdModel, PerplexityModel, fused_predict
    from packs_spark.pipeline.rules import STOPWORDS
    from packs_spark.pipeline.scrub import scrub_batch
    from packs_spark.pipeline.udfs import _heuristic_batch

    lid, ppl = LangIdModel.train(), PerplexityModel.train()
    tables = np.concatenate([lid.tables, ppl.table[None, :]], 0).astype(np.float64)
    stop = frozenset(STOPWORDS)
    kernels = {
        "ngram": lambda: fused_predict(texts, tables, len(lid.langs)),
        "scrub": lambda: scrub_batch(texts),
        "heur": lambda: _heuristic_batch(texts, stop),
    }
    for fn in kernels.values():  # warm allocator arenas and caches
        fn()
    busy = dict.fromkeys(kernels, 0.0)
    passes = 0
    t0 = time.perf_counter()
    while passes == 0 or time.perf_counter() - t0 < seconds:
        for name, fn in kernels.items():
            k0 = time.perf_counter()
            fn()
            busy[name] += time.perf_counter() - k0
        passes += 1
    return {"docs_per_s": passes * len(texts) / (time.perf_counter() - t0),
            "ms_per_doc": {k: 1e3 * v / (passes * len(texts)) for k, v in busy.items()}}


def measure(texts: list, k: int, seconds: float) -> dict:
    """Aggregate docs/s of ``k`` pinned kernel processes, plus the
    per-kernel ms per 10k docs averaged over them."""
    cores = sorted(os.sched_getaffinity(0))
    payload = json.dumps(texts)
    procs = [subprocess.Popen([sys.executable, os.path.abspath(__file__),
                               str(cores[i % len(cores)]), str(seconds)],
                              stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
             for i in range(k)]
    try:
        for p in procs:  # each reads all of stdin before it starts timing
            p.stdin.write(payload)
            p.stdin.close()
        outs = [p.stdout.read() for p in procs]
        for p in procs:
            p.wait(timeout=60)
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    for p in procs:
        if p.returncode != 0:
            raise RuntimeError(f"kernel worker exited with {p.returncode}")
    results = [json.loads(o) for o in outs]
    per_10k = {
        name: 1e4 * sum(r["ms_per_doc"][name] for r in results) / k
        for name in results[0]["ms_per_doc"]
    }
    return {"docs_per_s": sum(r["docs_per_s"] for r in results), "ms_per_10k": per_10k}


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    json.dump(_kernel_worker(int(sys.argv[1]), json.load(sys.stdin), float(sys.argv[2])),
              sys.stdout)
