"""Smoke test of the benchmark itself, at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q

* every workload emits exactly the end-to-end metrics of BENCHMARK.json
  with ``--trace 0`` and exactly its per-layer metrics with ``--trace 1``,
  with a correct result;
* no process the benchmark started outlives it;
* a deliberately corrupted output, and a registry query result that
  differs from its DuckDB oracle, are counted as failed checks;
* without the program beside it the benchmark fails without a result.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS, Checks  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
TINY = 1000


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "7", "--seconds", "0",
           "--trace", str(trace), "--docs", str(TINY)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def _orphans() -> set[int]:
    """Processes re-parented to init whose command line names Spark or
    this benchmark."""
    found = set()
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        if ppid == 1 and (b"spark" in cmd or b"perfbench" in cmd):
            found.add(int(name))
    return found


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_emitted(workload, trace):
    before = _orphans()
    out = _run(ROOT, workload, trace)
    assert not _orphans() - before, "a process outlived the benchmark"
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "results", "__pycache__"))
    out = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert out.returncode != 0
    assert not out.stdout.strip()


@pytest.fixture(scope="module")
def spark():
    from packs_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    s = get_spark("perfbench_smoke", master="local[2]")
    yield s
    s.stop()


def _checked(wl, out) -> Checks:
    checks = Checks(lambda msg: None)
    wl.check(out, checks)
    return checks


def test_corrupted_fresh_output_is_counted(spark, tmp_path):
    wl = WORKLOADS["crawl_fresh"](str(tmp_path), seed=3, n_docs=300, n_buckets=4)
    wl.make_inputs()
    out = str(tmp_path / "out")
    wl.run(spark, wl.src, out)
    clean = _checked(wl, out)
    assert clean.attempted > 0 and clean.failed == 0

    # flip one sampled doc's keep label in place, then drop a whole bucket
    victim = next(iter(wl.expected))
    path = next(p for p in wl.out_files(out)
                if victim in pq.read_table(p, columns=["url"]).column(0).to_pylist())
    table = pq.read_table(path)
    keep = [(not k) if u == victim else k for u, k in
            zip(table.column("url").to_pylist(), table.column("keep").to_pylist())]
    idx = table.schema.get_field_index("keep")
    pq.write_table(table.set_column(idx, "keep", [keep]), path)
    assert _checked(wl, out).failed == 1
    os.remove(wl.out_files(out)[-1])
    assert _checked(wl, out).failed >= 3  # file list, row count and labels


def test_corrupted_stream_output_is_counted(spark, tmp_path):
    wl = WORKLOADS["crawl_stream"](str(tmp_path), seed=3, n_docs=300, n_buckets=4)
    wl.make_inputs()
    out = str(tmp_path / "out")
    wl.run(spark, wl.src, out)
    assert _checked(wl, out).failed == 0
    for p in glob.glob(os.path.join(out, "part-*.parquet"))[:1]:
        os.remove(p)
    assert _checked(wl, out).failed >= 1


def test_wrong_query_result_is_counted(spark, tmp_path, monkeypatch):
    from packs_spark import registry
    from packs_spark.pipeline.generate import generate_pages
    from perfbench import queries

    monkeypatch.setattr(queries, "DOC_QUERIES", ("dedup_exact_documents", "pii_scan_documents"))
    pages = generate_pages(200, seed=3)
    checks = Checks(lambda msg: None)
    queries.run(spark, pages, str(tmp_path / "docs"), checks)
    assert (checks.attempted, checks.failed) == (2, 0)

    real = registry.queries()
    broken = {**real, "pii_scan_documents": lambda s, d: real["pii_scan_documents"](s, d).limit(1)}
    monkeypatch.setattr(registry, "queries", lambda: broken)
    checks = Checks(lambda msg: None)
    queries.run(spark, pages, str(tmp_path / "docs"), checks)
    assert (checks.attempted, checks.failed) == (2, 1)
