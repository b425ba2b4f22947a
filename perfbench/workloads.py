"""The benchmark's workloads: seeded inputs, the timed operation, and the
checks on every run's output.

Both workloads read the same seeded page table
(``pipeline.generate.generate_pages``) and run the same fused enrich UDF;
they differ in everything around it:

* ``crawl_fresh`` — ``webtext.run_batch`` into a fresh output root: scan,
  bucket shuffle (``pipeline.partitioning``), one Python task per bucket,
  ``io.lakehouse.CheckpointedWriter`` single-wave write and commit, then
  the per-bucket metrics pass.
* ``crawl_stream`` — ``streaming.pipeline.stream_webtext`` with
  ``available_now=True`` over the same docs split into parquet drops: no
  shuffle, no CheckpointedWriter, few Python tasks, plus the JVM
  ``quality_columns`` pass.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SAMPLE_DOCS = 500  # docs per run compared against the pandas oracle
# The warm-up pays JVM JIT, code generation and Python worker start; one
# task per core starts every worker without paying each bucket's task cost.
WARM_BUCKETS = 4
# Every measured run writes with the same run id, so each builds the same
# plan and reuses the code the first one generated.
RUN_ID = "perfbench"
LABELS = ("keep", "text_scrubbed", "lang_pred")


class Checks:
    """Counts checks attempted and failed; failures are also logged."""

    def __init__(self, log):
        self.attempted = 0
        self.failed = 0
        self._log = log

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self._log(f"CHECK FAILED: {what}")

    def compare_labels(self, got: dict, want: dict, what: str) -> None:
        """One check per expected doc: all of LABELS equal."""
        for url, labels in want.items():
            self.expect(got.get(url) == labels, f"{what} {url}: {got.get(url)} != {labels}")


def _read_labels(files: list[str]) -> pa.Table:
    cols = ["url", *LABELS]
    if not files:
        return pa.table({c: [] for c in cols})
    return pa.concat_tables([pq.read_table(p, columns=cols) for p in files])


def _labels_by_url(table: pa.Table, urls) -> dict:
    cols = table.select(["url", *LABELS]).to_pydict()
    keep = set(urls)
    return {u: tuple(cols[c][i] for c in LABELS)
            for i, u in enumerate(cols["url"]) if u in keep}


class Workload:
    name = ""
    drops = 1

    def __init__(self, work: str, seed: int, n_docs: int, n_buckets: int):
        self.work, self.seed, self.n_docs, self.n_buckets = work, seed, n_docs, n_buckets
        self.src = os.path.join(work, "input")
        self.warm_src = os.path.join(work, "warm")

    # ---- inputs -----------------------------------------------------
    def make_inputs(self) -> None:
        """Writes the seeded input (``drops`` parquet files), a small
        warm-up input of the same shape, and the oracle's expected labels
        for a seeded sample of docs."""
        from packs_spark.pipeline.generate import generate_pages
        from tests.pandas_oracle import pipeline_oracle

        pdf = generate_pages(self.n_docs, seed=self.seed)
        self._write(pdf, self.src)
        self._write(generate_pages(max(self.n_docs // 20, 200), seed=self.seed + 1),
                    self.warm_src)
        pick = np.random.default_rng(self.seed).choice(
            self.n_docs, size=min(SAMPLE_DOCS, self.n_docs), replace=False)
        self.sample = pdf.iloc[np.sort(pick)].reset_index(drop=True)
        oracle = pipeline_oracle(self.sample)
        self.expected = {r.url: (bool(r.keep), r.text_scrubbed, r.lang_pred)
                         for r in oracle.itertuples(index=False)}
        self.pages = pdf
        self.kernel_texts = pdf["text"].iloc[:10_000].tolist()

    def _write(self, pdf, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        for k, part in enumerate(np.array_split(np.arange(len(pdf)), self.drops)):
            table = pa.Table.from_pandas(pdf.iloc[part], preserve_index=False)
            pq.write_table(table, os.path.join(path, f"drop-{k:03d}.parquet"),
                           row_group_size=10_000)

    # ---- operation --------------------------------------------------
    def warm(self, spark, full: bool = False) -> None:
        """One unchecked run on the small warm-up input, or with ``full``
        on the measured input, which also lets the JIT compile the paths
        every run takes as often as one measured run does."""
        out = os.path.join(self.work, "warm-out")
        if full:
            self.run(spark, self.src, out)
        else:
            self.run(spark, self.warm_src, out, WARM_BUCKETS)
        self.cleanup(out)

    def run(self, spark, src: str, out: str, n_buckets: int | None = None) -> dict:
        """The timed operation; ``n_buckets`` overrides the bucket count."""
        raise NotImplementedError

    def check(self, out: str, checks: Checks) -> None:
        raise NotImplementedError

    def out_files(self, out: str) -> list[str]:
        """The committed data files of one run's output."""
        raise NotImplementedError

    def out_bytes(self, out: str) -> int:
        return sum(os.path.getsize(p) for p in self.out_files(out))

    def cleanup(self, out: str) -> None:
        for p in (out, out + "_metrics", out + "_ckpt"):
            shutil.rmtree(p, ignore_errors=True)


class CrawlFresh(Workload):
    name = "crawl_fresh"

    def run(self, spark, src, out, n_buckets=None):
        from packs_spark.pipeline.webtext import run_batch

        return run_batch(spark, src, out, n_buckets=n_buckets or self.n_buckets, run_id=RUN_ID)

    def out_files(self, out):
        return sorted(glob.glob(os.path.join(out, "bucket-*.parquet")))

    def check(self, out, checks):
        """Row count, one file per bucket holding only that bucket, a
        commit marker per bucket, and the oracle sample."""
        files = self.out_files(out)
        stray = [p for p in glob.glob(os.path.join(out, "*.parquet")) if p not in files]
        names = [f"bucket-{b:05d}.parquet" for b in range(self.n_buckets)]
        checks.expect([os.path.basename(p) for p in files] == names and not stray,
                      f"{out}: {len(files)} bucket files, {len(stray)} stray, "
                      f"want {self.n_buckets}")
        buckets_ok = all(
            set(pq.read_table(p, columns=["bucket"]).column(0).to_pylist()) <= {b}
            for b, p in enumerate(files))
        checks.expect(buckets_ok, f"{out}: a bucket file holds rows of another bucket")
        markers = glob.glob(os.path.join(out, "_progress", "bucket-*.json"))
        checks.expect(len(markers) == self.n_buckets,
                      f"{out}: {len(markers)} commit markers, want {self.n_buckets}")
        table = _read_labels(files)
        checks.expect(table.num_rows == self.n_docs,
                      f"{out}: {table.num_rows} rows, want {self.n_docs}")
        checks.compare_labels(_labels_by_url(table, self.expected), self.expected,
                              "batch vs oracle")


class CrawlStream(Workload):
    name = "crawl_stream"
    drops = 8

    def run(self, spark, src, out, n_buckets=None):
        from packs_spark.streaming.pipeline import stream_webtext

        q = stream_webtext(spark, src, out, out + "_ckpt", available_now=True, run_id=RUN_ID)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        self.last_progress = list(q.recentProgress)
        return {}

    def out_files(self, out):
        return sorted(glob.glob(os.path.join(out, "part-*.parquet")))

    def check(self, out, checks):
        """Row count, no duplicate url, and the oracle sample."""
        table = _read_labels(self.out_files(out))
        checks.expect(table.num_rows == self.n_docs,
                      f"{out}: {table.num_rows} rows, want {self.n_docs}")
        urls = table.column("url").to_pylist()
        checks.expect(len(set(urls)) == len(urls), f"{out}: duplicate urls in stream output")
        self.stream_labels = _labels_by_url(table, self.expected)
        checks.compare_labels(self.stream_labels, self.expected, "stream vs oracle")

    def check_against_batch(self, spark, checks: Checks) -> None:
        """The stream's labels on the sample equal ``run_batch``'s on the
        same docs (call after ``check``)."""
        from packs_spark.pipeline.webtext import run_batch

        src = os.path.join(self.work, "sample-input.parquet")
        out = os.path.join(self.work, "sample-batch")
        pq.write_table(pa.Table.from_pandas(self.sample, preserve_index=False), src)
        run_batch(spark, src, out, n_buckets=4, run_id=RUN_ID)
        batch = _labels_by_url(_read_labels(glob.glob(os.path.join(out, "bucket-*.parquet"))),
                               self.expected)
        checks.compare_labels(self.stream_labels, {u: batch.get(u) for u in self.expected},
                              "stream vs batch")
        self.cleanup(out)


WORKLOADS = {w.name: w for w in (CrawlFresh, CrawlStream)}
