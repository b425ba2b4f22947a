"""The operator/registry layer: the headline registry queries that read
only the ``documents`` table, run on a table the benchmark generates.

``bench.HEADLINE`` names 19 queries; the ones below read nothing but
``documents`` (the others need the TPC-H-style tables, which a checkout
does not hold).  The table is built from the workload's own seeded pages
with the ``documents`` schema (``doc_id``, ``text``, ``lang``, ``source``,
``n_chars``).  Each query runs once, as a pack run calls it: its time
includes planning and the code generation of its first call in the
session.  Each result's value hash (``tools/check_oracle.value_hash``)
must equal that of the query's DuckDB oracle on the same parquet file.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_QUERIES = (
    "text_validation_documents",
    "pii_scan_documents",
    "dedup_exact_documents",
    "textstats_documents",
    "webtext_quality_filter",
    "dedup_clusters_documents",
)
QUERY_DOCS = 2_000


def write_documents(pages, table_dir: str) -> None:
    """``documents.parquet`` under ``table_dir`` from a page frame."""
    os.makedirs(table_dir, exist_ok=True)
    n = len(pages)
    pq.write_table(pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pages["text"].tolist(),
        "lang": pages["lang"].tolist(),
        "source": pages["url"].str.extract(r"//([^./]+)")[0].tolist(),
        "n_chars": pages["text"].str.len().astype("int64").to_numpy(),
    }), os.path.join(table_dir, "documents.parquet"))


def run(spark, pages, table_dir: str, checks) -> dict[str, float]:
    """Seconds per query, each from the call to its collected rows; one
    value-hash check per query against its DuckDB oracle."""
    import duckdb

    from packs_spark import registry
    from tools.check_oracle import value_hash

    write_documents(pages.iloc[:QUERY_DOCS], table_dir)
    qs, oracles = registry.queries(), registry.oracle_sql()
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{os.path.join(table_dir, 'documents.parquet')}')")
    times = {}
    try:
        for name in DOC_QUERIES:
            t0 = time.perf_counter()
            df = qs[name](spark, table_dir)
            rows = [tuple(r) for r in df.collect()]
            times[name] = time.perf_counter() - t0
            want = con.execute(oracles[name]).fetchdf()
            got_hash = value_hash(rows, df.columns)
            want_hash = value_hash([tuple(r) for r in want.itertuples(index=False)],
                                   want.columns.tolist())
            same_cols = sorted(c.lower() for c in df.columns) == \
                sorted(c.lower() for c in want.columns)
            checks.expect(same_cols and got_hash == want_hash,
                          f"{name}: columns {df.columns}, value hash {got_hash}; oracle's "
                          f"{want.columns.tolist()}, {want_hash}")
    finally:
        con.close()
    return times
