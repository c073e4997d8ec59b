"""Generate a REPLICATED copy of a driver sf directory for core-ratio
measurements (SCALE.md): the bench tables are tiny (sf0.1 documents = 5k
rows), so per-query wall time sits on the session/scheduling floor and an
8-vs-32-core comparison measures nothing. Replicating the three big tables
K× (with id offsets, and a per-replica text marker so near-dup operators
don't see a K-copy flood of every document) pushes the fanned heavy stages
into the compute-bound regime where the core ratio is observable.

This is a MEASUREMENT tool: it writes a new directory for one-off probe
runs (`SPARK_GRAFT_SF_DIR=<dir> python bench.py <query> ...`); nothing in
the engine, bench, or oracle path reads its output.

Usage: python tools/scale_gen.py <src_sf_dir> <dst_dir> [doc_k] [emb_k] [li_k]
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scale_probe_sf"
    doc_k = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    emb_k = int(sys.argv[4]) if len(sys.argv) > 4 else 4
    li_k = int(sys.argv[5]) if len(sys.argv) > 5 else 4

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    small = (
        "orders events customer supplier part nation region".split()
    )
    for t in small:
        shutil.copyfile(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")

    def replicate(name: str, k: int, id_col: str, offset: int, mutate_text: bool):
        tab = pq.read_table(f"{src}/{name}.parquet")
        reps = []
        for i in range(k):
            r = tab
            if i > 0:
                r = r.set_column(
                    r.schema.get_field_index(id_col),
                    id_col,
                    pc.add(r[id_col], offset * i),
                )
                if mutate_text:
                    # distinct content per replica: near-dup operators must
                    # not see a k-copy flood of EVERY document
                    r = r.set_column(
                        r.schema.get_field_index("text"),
                        "text",
                        pc.binary_join_element_wise(
                            r["text"], f" replica{i}", ""
                        ),
                    )
            reps.append(r)
        out = pa.concat_tables(reps)
        # ONE row group, like the driver's tables, so the single-task-scan
        # shape (the thing fan() exists for) is preserved
        pq.write_table(out, f"{dst}/{name}.parquet", row_group_size=len(out))
        print(f"{name}: {len(tab)} -> {len(out)} rows (x{k})")

    replicate("documents", doc_k, "doc_id", 10_000_000, True)
    replicate("embeddings", emb_k, "vec_id", 10_000_000, False)
    replicate("lineitem", li_k, "l_orderkey", 10_000_000, False)
    print(f"wrote {dst}")


if __name__ == "__main__":
    main()
