"""The table of the query_session workload, made like the repo's testdata
(same name, columns and types): `documents`, the one table the session's
queries read.

The make-up follows the testdata, measured on its sf0.01 and sf0.1 files
(perfbench/README.md records both sets of figures): documents are bags of
10–99 words from one 30-word vocabulary; 5% are near copies, an earlier
document with " dup" appended (two near copies of one document make the
rare exact copies); the language mix is 41% en, 14% de and 15% each of
fr, es and zh; the source is src{doc_id % 20}. At scale 0.01 the table has
the sf0.01 testdata's 500 rows.

Content is fixed for a given scale (one generator seed); the run's --seed
only permutes the row order written to the file, so every seed reads the
same logical table through a different physical layout.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small join filter big "
         "group hash customer sort order slow line part fast row the agg key query a scan "
         "batch").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
NEAR_COPY = 0.05  # share of rows that are an earlier text plus " dup"


def _documents(rng, n):
    near = set(rng.permutation(np.arange(10, n))[:round(n * NEAR_COPY)])
    texts = []
    for i in range(n):
        if i in near:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, size=int(rng.integers(10, 100)))))
    counts = np.round(np.array(LANG_P) * n).astype(int)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.permutation(np.repeat(LANGS, counts))),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def tables(sf):
    """The logical tables at scale factor `sf` (sf 0.01: 500 documents, as in
    the sf0.01 testdata)."""
    rng = np.random.default_rng(CONTENT_SEED)
    return {"documents": _documents(rng, int(50_000 * sf))}


def write(out_dir, sf, seed):
    """Writes each table as <out_dir>/<name>.parquet in a seed-drawn row order
    and returns the logical tables."""
    os.makedirs(out_dir, exist_ok=True)
    ts = tables(sf)
    order = np.random.default_rng(seed)
    for name, t in ts.items():
        pq.write_table(t.take(order.permutation(t.num_rows)),
                       os.path.join(out_dir, f"{name}.parquet"))
    return ts
