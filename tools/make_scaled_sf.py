"""Build a k-times-scaled copy of a testdata sf directory.

Usage: python tools/make_scaled_sf.py SRC_DIR OUT_DIR K

Scaling = union of K id-shifted copies, with join keys shifted
CONSISTENTLY across tables (orderkey shift applied to both orders and
lineitem, custkey to customer and orders, ...) so every join in the
bench set keeps its semantics and its selectivity; per-copy results
simply replicate.  region/nation stay fixed (they are fixed-size
dimensions in TPC-H proper too).

Content tweaks that keep operator behavior realistic at scale:
- documents: per-copy token prefix (``c{i} ``) so planted near-dup
  structure replicates per copy without creating k-squared cross-copy
  duplicate pairs.
- embeddings: per-copy deterministic sign-flip pattern over vector
  components.  Flipping ~half the signs decorrelates copies (cross-copy
  cosine ~ 0) while preserving norms and all intra-copy geometry, so
  near-dup pair counts grow linearly in K instead of quadratically.
- events: event_id and user_id shifted; timestamps untouched, so
  per-window densities grow K-fold (what a bigger deployment looks
  like) while per-user session shapes are unchanged.

Output is zstd parquet with the source's schema (timestamps stay
timestamp[us] so predicate pushdown behaves identically).
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Shift granularity: far above any real key so copies never collide.
SHIFT = 10_000_000

COPY_AS_IS = ("region", "nation")

# table -> {column: key-family}; same family => same shift everywhere.
KEYED = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
}

FAMILY_SHIFT = {f: SHIFT for f in ("cust", "supp", "part", "order", "event", "user", "doc")}


def scale_relational(src: str, out: str, k: int) -> None:
    con = duckdb.connect()
    for table, keys in KEYED.items():
        path = f"{src}/{table}.parquet"
        cols = [r[0] for r in con.execute(f"describe select * from '{path}'").fetchall()]
        selects = []
        for i in range(k):
            exprs = []
            for c in cols:
                if c in keys:
                    exprs.append(f"{c} + {i * FAMILY_SHIFT[keys[c]]} AS {c}")
                elif table == "documents" and c == "text":
                    exprs.append(f"'c{i} ' || text AS text")
                elif table == "documents" and c == "n_chars":
                    # keep the stored length consistent with the prefixed text
                    exprs.append(f"n_chars + {len(f'c{i} ')} AS n_chars")
                else:
                    exprs.append(c)
            selects.append(f"select {', '.join(exprs)} from '{path}'")
        union = " union all ".join(selects)
        con.execute(
            f"copy ({union}) to '{out}/{table}.parquet' (format parquet, codec zstd)"
        )
        print(f"{table}: x{k} written", flush=True)
    for table in COPY_AS_IS:
        con.execute(
            f"copy (select * from '{src}/{table}.parquet') "
            f"to '{out}/{table}.parquet' (format parquet, codec zstd)"
        )
    con.close()


def scale_embeddings(src: str, out: str, k: int) -> None:
    tbl = pq.read_table(f"{src}/embeddings.parquet")
    vec_id = tbl.column("vec_id").to_numpy()
    emb = np.asarray(tbl.column("embedding").to_pylist(), dtype=np.float32)
    label = tbl.column("label").to_numpy()
    dim = emb.shape[1]
    rng_bits = np.arange(dim)
    parts = []
    for i in range(k):
        # Deterministic per-copy sign pattern: golden-ratio hash of the
        # (copy, component) pair.  Copy 0 is the identity (all +1) so the
        # 1x slice of the scaled corpus is bit-identical to the source.
        if i == 0:
            signs = np.ones(dim, dtype=np.float32)
        else:
            # uint64 wraparound is the hash's mixing step, not an error
            with np.errstate(over="ignore"):
                h = (
                    np.uint64(i) * np.uint64(0x9E3779B97F4A7C15)
                    + rng_bits.astype(np.uint64)
                ) * np.uint64(0xBF58476D1CE4E5B9)
            signs = np.where(((h >> np.uint64(17)) & np.uint64(1)).astype(bool), -1.0, 1.0).astype(
                np.float32
            )
        parts.append(
            pa.table(
                {
                    "vec_id": pa.array(vec_id + i * SHIFT, type=pa.int64()),
                    "embedding": pa.array(
                        list(emb * signs), type=pa.list_(pa.float32())
                    ),
                    "label": pa.array(label, type=pa.int32()),
                }
            )
        )
    pq.write_table(pa.concat_tables(parts), f"{out}/embeddings.parquet", compression="zstd")
    print(f"embeddings: x{k} written", flush=True)


def main() -> None:
    src, out, k = sys.argv[1], sys.argv[2], int(sys.argv[3])
    os.makedirs(out, exist_ok=True)
    scale_relational(src, out, k)
    scale_embeddings(src, out, k)


if __name__ == "__main__":
    main()
