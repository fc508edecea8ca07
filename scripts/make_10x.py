"""Build a key-consistent 10x replica of a testdata scale-factor directory
(default: sf0.01 -> a sf0.1-equivalent corpus) for the full-gate scale
mirror (PERF.md r6).

Replication rules (replica k = 0..9, offset = k * 10_000_000):
- region/nation: single copy (fixed-PK dimensions; replicating would break
  PK uniqueness, and FK columns in the fact replicas stay valid).
- customer/supplier/part/orders/lineitem: all TPC-H keys shift together
  (custkey, suppkey, partkey, orderkey) so every join edge lands inside
  the same replica -- revenue/count aggregates scale exactly 10x.
- events: event_id/user_id shift (10x users, same time span).
- documents: doc_id shifts; replicas k>0 get a seeded pseudo-random token
  permutation so unigram statistics are preserved but shingles are NOT --
  without it every doc becomes a 10-replica near-dup clique and the
  near-dup corpus degenerates into the quadratic adversarial regime (that
  regime is measured separately in PERF.md r5).
- embeddings: vec_id shifts; one coordinate gets a +k*1e-3 deterministic
  nudge so replicas are not bit-identical (no cosine ties to break).

--skew (r6 verdict #8) builds the ADVERSARIAL variant instead of the
benign one: the replication deliberately plants the two regimes the
default replica avoids --
- a 90%-hot join/window key: every event with event_id %% 10 != 0 is
  re-assigned to one hot user (user_id 424242), so per-user windows
  (sessionize, as-of, session_window) and user equi-joins see one key
  carrying 90% of the fact table;
- a near-dup clique cluster: replicas of docs with doc_id %% 50 == 7 keep
  their text UNPERMUTED, so each such doc becomes a k-replica exact/
  near-dup clique (the quadratic candidate regime for MinHash/LSH).
PERF.md r7 records the AQE-skew/salting/bucket_seconds paths firing
on this replica at scale.

Usage: python scripts/make_10x.py [src_sf_dir] [dst_dir] [k] [--skew]
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np

OFF = 10_000_000


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--skew"]
    skew = "--skew" in sys.argv[1:]
    src = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    dst = args[1] if len(args) > 1 else "/tmp/ophidia_sf10x"
    k = int(args[2]) if len(args) > 2 else 10
    Path(dst).mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()

    def rd(t):
        return f"read_parquet('{src}/{t}.parquet')"

    def wr(sql, t):
        con.execute(f"COPY ({sql}) TO '{dst}/{t}.parquet' (FORMAT PARQUET)")
        n = con.execute(f"SELECT COUNT(*) FROM read_parquet('{dst}/{t}.parquet')").fetchone()[0]
        print(f"{t}: {n} rows")

    for t in ("region", "nation"):
        wr(f"SELECT * FROM {rd(t)}", t)

    shifts = {
        "customer": ["c_custkey"],
        "supplier": ["s_suppkey"],
        "part": ["p_partkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
        "events": ["event_id", "user_id"],
    }
    for t, keys in shifts.items():
        cols = [c[0] for c in con.execute(f"DESCRIBE SELECT * FROM {rd(t)}").fetchall()]
        sel = ", ".join(
            f"{c} + r.k * {OFF} AS {c}" if c in keys else c for c in cols)
        base = f"SELECT {sel} FROM {rd(t)} CROSS JOIN (SELECT unnest(range({k})) AS k) r"
        if skew and t == "events":
            # 90%-hot key: 9 of 10 events land on one user (event_id is
            # already replica-shifted, so the residue is replica-uniform)
            base = (f"SELECT event_id, ts, "
                    f"CASE WHEN event_id % 10 != 0 THEN 424242 "
                    f"ELSE user_id END AS user_id, "
                    f"event_type, value, props FROM ({base})")
        wr(base, t)

    # documents: pandas side for the seeded per-replica token permutation
    import pandas as pd

    docs = con.execute(f"SELECT * FROM {rd('documents')}").df()
    out = []
    for rep in range(k):
        d = docs.copy()
        d["doc_id"] = d["doc_id"] + rep * OFF
        if rep > 0:
            # --skew: docs with source id % 50 == 7 keep their text
            # verbatim across replicas -> k-clique near-dup clusters
            d["text"] = [
                None if t is None else
                (t if skew and (i - rep * OFF) % 50 == 7 else
                 " ".join(np.random.default_rng((rep << 20) ^ i).permutation(
                     [w for w in t.split(" ") if w])))
                for i, t in zip(d["doc_id"], d["text"])
            ]
        out.append(d)
    alld = pd.concat(out, ignore_index=True)
    con.register("docs10", alld)
    wr("SELECT * FROM docs10", "documents")

    emb = con.execute(f"SELECT * FROM {rd('embeddings')}").df()
    dims = len(emb["embedding"].iloc[0])
    eout = []
    for rep in range(k):
        e = emb.copy()
        e["vec_id"] = e["vec_id"] + rep * OFF
        if rep > 0:
            e["embedding"] = [
                [float(v) + (rep * 1e-3 if j == int(vid) % dims else 0.0)
                 for j, v in enumerate(vec)]
                for vid, vec in zip(e["vec_id"], e["embedding"])
            ]
        eout.append(e)
    alle = pd.concat(eout, ignore_index=True)
    con.register("emb10", alle)
    # pandas round-trips the vectors as double; the source stores FLOAT[] —
    # keep the type identical so Spark/DuckDB kernels see the same widths
    wr("SELECT vec_id, CAST(embedding AS FLOAT[]) AS embedding, label "
       "FROM emb10", "embeddings")


if __name__ == "__main__":
    main()
