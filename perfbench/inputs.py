"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the workload seed: the same seed
always yields the same seed-URL list or the same registry tables, and the
program under test receives only these generated inputs.
"""

from __future__ import annotations

import os
import random

# Words for the synthetic document corpus. A small vocabulary keeps shingle
# frequencies high, the shape the near-duplicate operators were built for.
_VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "index shard page crawl fetch parse link rank score host url vector token "
    "cluster graph"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")
_EMB_DIM = 64
_EMB_LABELS = 10


def crawl_seed_urls(seed: int, n_urls: int, n_hosts: int) -> list[tuple[str, dict]]:
    """``n_urls`` distinct seed URLs spread over ``n_hosts`` hosts, as
    (url, metadata) rows for ``pipeline.crawl``."""
    rnd = random.Random(seed)
    return [
        (f"http://site{rnd.randrange(n_hosts)}.example.org/s{i}-{rnd.getrandbits(40):010x}", {})
        for i in range(n_urls)
    ]


def write_registry_tables(
    seed: int, out_dir: str, *, n_docs: int, n_vecs: int, n_lineitems: int
) -> None:
    """Write the three tables the iterative registry queries read
    (``lineitem``, ``documents``, ``embeddings``) as one-file parquet tables
    in ``out_dir``, with the column names and types of the ``sf*`` test
    tables."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rnd = random.Random(seed)

    n_parts, n_supps = max(20, n_lineitems // 30), max(10, n_lineitems // 600)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(np.arange(1, n_lineitems + 1) // 4 + 1, pa.int64()),
            "l_partkey": pa.array(rng.integers(1, n_parts + 1, n_lineitems), pa.int64()),
            "l_suppkey": pa.array(rng.integers(1, n_supps + 1, n_lineitems), pa.int64()),
        }
    )
    texts = [
        " ".join(rnd.choice(_VOCAB) for _ in range(rnd.randrange(12, 60)))
        for _ in range(n_docs)
    ]
    documents = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([rnd.choice(_LANGS) for _ in range(n_docs)], pa.string()),
            "source": pa.array([f"src{rnd.randrange(20)}" for _ in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    centers = rng.normal(0.0, 0.15, (_EMB_LABELS, _EMB_DIM))
    labels = rng.integers(0, _EMB_LABELS, n_vecs)
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (n_vecs, _EMB_DIM))).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    for name, tab in (
        ("lineitem", lineitem),
        ("documents", documents),
        ("embeddings", embeddings),
    ):
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(tab))
