"""Benchmark inputs.

* ``pages``: a ``datagen.gen_row`` corpus cut into batches of parquet
  files, a pure function of the seed, cached on disk keyed by
  ``(DATAGEN_VERSION, n_pages, fill, seed)`` and the layout. A cache entry
  is written to a temporary directory and renamed into place, so a killed
  run never leaves a half-written entry behind.
* ``SF_DIR``: the ten tables the headline queries read (``region nation
  customer supplier part orders lineitem events documents embeddings``),
  a byte-for-byte copy of the repository's fixed scale-factor-0.1 test
  data (seed 42, see TESTDATA.md), kept here because the benchmark reads
  nothing outside its working directory. It does not depend on ``--seed``.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")

PAGES_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)


def _publish(tmp: str, final: str) -> None:
    if os.path.isdir(final):  # another run of the same key got there first
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        os.replace(tmp, final)


def pages_dir(cache: str, n_pages: int, fill: int, seed: int, batch: int, files: int) -> str:
    """Directory of ``n_pages`` pages cut into batches of ``batch`` pages:
    ``batch-<k>/`` holds pages ``k*batch .. (k+1)*batch-1`` in ``files``
    parquet files, so Spark reads a batch as ``files`` partitions."""
    from nous_spark.datagen import DATAGEN_VERSION, gen_row

    key = f"pages-v{DATAGEN_VERSION}-n{n_pages}-f{fill}-s{seed}-b{batch}x{files}"
    final = os.path.join(cache, key)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    for k, lo in enumerate(range(0, n_pages, batch)):
        out = os.path.join(tmp, f"batch-{k:05d}")
        os.makedirs(out)
        idx = range(lo, min(lo + batch, n_pages))
        step = -(-len(idx) // files)
        for j in range(files):
            rows = [gen_row(i, seed, fill)[0] for i in idx[j * step : (j + 1) * step]]
            pq.write_table(
                pa.Table.from_pylist(rows, schema=PAGES_SCHEMA),
                os.path.join(out, f"part-{j:05d}.parquet"),
            )
    _publish(tmp, final)
    return final


TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
