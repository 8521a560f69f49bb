"""Build a 10x measurement corpus from sf0.1 for same-host A/B timing.

NOT driver data and NOT written to /root/testdata (read-only): copies
land in /tmp/sf1.0x. Copy 0 is sf0.1 verbatim; copies 1..9 shift ids,
permute each document's word order with a seeded shuffle (rotation
would preserve almost every k-gram shingle and make every copy a
near-dup of the original; a permutation destroys consecutive k-grams
while keeping the same vocabulary/length profile) and draw fresh
seeded Gaussian embeddings (so the ANN pair set stays organic instead
of exploding with exact twins). Deterministic: seeds derived from the
copy number and row index only.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
DST = os.environ.get("DST", "/tmp/sf1.0x")
N_COPIES = int(os.environ.get("N_COPIES", "10"))


def permute_words(text: str, rng: "np.random.Generator") -> str:
    w = text.split(" ")
    if len(w) < 2:
        return text
    return " ".join(np.array(w, dtype=object)[rng.permutation(len(w))])


def main() -> None:
    shutil.rmtree(DST, ignore_errors=True)
    os.makedirs(DST)

    docs = pq.read_table(os.path.join(SRC, "documents.parquet"))
    emb = pq.read_table(os.path.join(SRC, "embeddings.parquet"))
    n_docs = docs.num_rows
    n_vec = emb.num_rows
    # copy k shifts every id by k * (max id + 1): ids that are sparse or
    # do not start at 0 still land above all of copy k-1's ids
    doc_stride = pc.max(docs.column("doc_id")).as_py() + 1
    vec_stride = pc.max(emb.column("vec_id")).as_py() + 1
    dim = len(emb.column("embedding")[0])

    doc_chunks, emb_chunks = [], []
    for k in range(N_COPIES):
        if k == 0:
            doc_chunks.append(docs)
            emb_chunks.append(emb)
            continue
        d = docs.to_pydict()
        d["doc_id"] = [i + k * doc_stride for i in d["doc_id"]]
        rng = np.random.default_rng(31 * k)
        d["text"] = [permute_words(t, rng) for t in d["text"]]
        d["n_chars"] = [len(t) for t in d["text"]]
        doc_chunks.append(pa.table(d, schema=docs.schema))

        rng = np.random.default_rng(1000 + k)
        vecs = rng.standard_normal((n_vec, dim)).astype(np.float32)
        e = {
            "vec_id": pa.array([i + k * vec_stride for i in
                                emb.column("vec_id").to_pylist()],
                               type=pa.int64()),
            "embedding": pa.array([v for v in vecs.tolist()],
                                  type=pa.list_(pa.float32())),
            "label": emb.column("label"),
        }
        emb_chunks.append(pa.table(e, schema=emb.schema))

    pq.write_table(pa.concat_tables(doc_chunks),
                   os.path.join(DST, "documents.parquet"))
    pq.write_table(pa.concat_tables(emb_chunks),
                   os.path.join(DST, "embeddings.parquet"))
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events"):
        shutil.copy(os.path.join(SRC, f"{t}.parquet"),
                    os.path.join(DST, f"{t}.parquet"))
    print("wrote", DST, "docs", n_docs * N_COPIES, "vecs", n_vec * N_COPIES)


if __name__ == "__main__":
    main()
