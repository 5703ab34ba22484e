"""Seeded input generation for the graft benchmark.

The tables are graft's sf0.1 test tables, copied unchanged into
`perfbench/data/`: 5,000 documents, 150k orders, 100k events, 15k
customers, 20k parts and 25 nations. Only the documents depend on the
workload seed, which controls:

- a permutation of the documents into arrival order; `doc_id` is
  renumbered to the arrival position, so base-corpus ids stay below
  wave ids;
- through that permutation, the base/wave split (the first `base_docs`
  arrivals are the base).

The harness draws the `clif_status` query order from the same seed.
"""

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ("nation", "customer", "orders", "part", "events")


def _arrivals(seed):
    """The documents in the seed's arrival order, `doc_id` renumbered."""
    docs = pq.read_table(f"{DATA}/documents.parquet").sort_by("doc_id")
    docs = docs.take(np.random.default_rng(seed).permutation(docs.num_rows))
    return docs.set_column(docs.schema.get_field_index("doc_id"), "doc_id",
                           pa.array(np.arange(docs.num_rows), pa.int64()))


def generate(out, seed, base_docs=None, wave_docs=None):
    """Write the inputs for `seed` under `out`.

    Without `base_docs`, every table goes to `out/<table>.parquet`, with
    all documents. With it, only documents are written: the base corpus
    to `out/base/documents.parquet` and each following run of
    `wave_docs` arrivals to `out/waves/<k>.parquet`.
    """
    os.makedirs(out, exist_ok=True)
    docs = _arrivals(seed)
    if base_docs is None:
        for t in TABLES:
            shutil.copyfile(f"{DATA}/{t}.parquet", f"{out}/{t}.parquet")
        pq.write_table(docs, f"{out}/documents.parquet")
        return
    os.makedirs(f"{out}/base", exist_ok=True)
    os.makedirs(f"{out}/waves", exist_ok=True)
    pq.write_table(docs.slice(0, base_docs), f"{out}/base/documents.parquet")
    for k in range((docs.num_rows - base_docs) // wave_docs):
        pq.write_table(docs.slice(base_docs + k * wave_docs, wave_docs),
                       f"{out}/waves/{k}.parquet")
