#!/usr/bin/env python3
"""Build a deterministic sf1 test set (10x sf0.1) for the scale sweep.

The driver ships sf0.001/0.01/0.1 only; the sweep needs one more decade.
sf1 is derived from sf0.1 as TEN key-shifted copies (copy 0 = the
original rows verbatim), with referential integrity preserved by
per-key-family offsets (custkey/orderkey/partkey/suppkey/user_id/
doc_id/vec_id each shift by their own max+1 per copy). The oracle
compares Spark vs DuckDB on the SAME files, so fidelity to the driver's
generator is not required — internal consistency and realistic
cardinality/skew growth are.

Structure-preserving perturbations (copies must not create artificial
mega-duplicate clusters):
  - documents: copies k>0 append ~50% of the word count as copy-tagged
    junk tokens, pushing shingle Jaccard(original, copy) to ~1/1.5=0.67
    (< the 0.8 near-dup threshold) while near-dup pairs WITHIN a copy
    keep J >= ~0.87 (junk streams are shared inside a copy) — the
    planted dedup structure replicates per copy instead of collapsing
    into 20-member cliques. n_chars is recomputed. doc_ids stay < 1e8
    (the dupCorpus shift; widened from 1e6 in round 13 so the shift
    survives the sf100 decade).
  - embeddings: each copy applies a fixed +-1 sign pattern per dimension
    (numpy default_rng(copy + GRAFT_RNG_OFFSET) draw) — norms are
    preserved exactly, and cross-copy cosines decorrelate so the
    0.95-threshold all-pairs truth stays the within-copy planted pairs.
    Chained generations MUST pass a fresh GRAFT_RNG_OFFSET (sf10 used
    the default 0; sf100 uses 100): sign patterns compose by
    elementwise product, so reusing the 1..K-1 seed set across
    generations makes permuted copy paths (base->j->k vs base->k->j)
    collide into content-identical vectors.
  - customer names: copies get a distinct 5-char suffix so copies are
    never within edit distance 1 (q_fuzzy_join's blocking would
    otherwise match every copy pair).

Writes /root/repo/target/testdata_sf1/*.parquet. Deterministic: no
wall-clock, fixed seeds.
"""
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = os.environ.get("GRAFT_SF_SRC", "/root/testdata/sf0.1")
# second-generation derivations (sf1 -> sf10) must use a DIFFERENT junk
# prefix: reusing 'zk' would collide with the first generation's streams
# and artificially correlate cross-copy documents
JP = os.environ.get("GRAFT_JUNK_PREFIX", "zk")
DST = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/target/testdata_sf1"
K = 10

os.makedirs(DST, exist_ok=True)
con = duckdb.connect()

def mx(table, col):
    return con.execute(
        f"SELECT max({col}) + 1 FROM read_parquet('{SRC}/{table}.parquet')"
    ).fetchone()[0]

CK = mx("customer", "c_custkey")
OK = mx("orders", "o_orderkey")
PK = mx("part", "p_partkey")
SK = mx("supplier", "s_suppkey")
EK = mx("events", "event_id")
UK = mx("events", "user_id")
DK = mx("documents", "doc_id")
VK = mx("embeddings", "vec_id")
assert DK * K < 100_000_000, "doc_ids must stay below the dupCorpus shift"
assert VK * K < 100_000_000, "vec_ids must stay below the dupCorpus shift"
# q_semdedup (graft/queries/Lsh.scala) and its oracle plant duplicates at
# vec_id + 1e7 — a generation whose vec ids reach 1e7 would silently
# re-introduce the round-8 id-collision divergence the 1e8 dupCorpus
# shift fixed for doc ids
assert VK * K < 10_000_000, "vec_ids must stay below the semDedup planted shift (1e7)"
RNG_OFF = int(os.environ.get("GRAFT_RNG_OFFSET", "0"))

def copies(table, select_fn):
    """UNION ALL of select_fn(k) for k in 0..K-1, written to DST."""
    sql = " UNION ALL ".join(select_fn(k) for k in range(K))
    con.execute(f"COPY ({sql}) TO '{DST}/{table}.parquet' (FORMAT PARQUET)")
    n = con.execute(
        f"SELECT count(*) FROM read_parquet('{DST}/{table}.parquet')"
    ).fetchone()[0]
    print(f"{table}: {n} rows")

# static dimensions: verbatim
for t in ("region", "nation"):
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{SRC}/{t}.parquet')) "
        f"TO '{DST}/{t}.parquet' (FORMAT PARQUET)")
    print(f"{t}: copied")

copies("customer", lambda k: f"""
  SELECT c_custkey + {k * CK} AS c_custkey,
    c_name{"" if k == 0 else f" || ' z{k}z{k}'"} AS c_name,
    c_nationkey, c_acctbal, c_mktsegment
  FROM read_parquet('{SRC}/customer.parquet')""")

copies("supplier", lambda k: f"""
  SELECT s_suppkey + {k * SK} AS s_suppkey,
    s_name{"" if k == 0 else f" || ' z{k}z{k}'"} AS s_name,
    s_nationkey, s_acctbal
  FROM read_parquet('{SRC}/supplier.parquet')""")

copies("part", lambda k: f"""
  SELECT p_partkey + {k * PK} AS p_partkey, p_name, p_brand, p_type,
    p_size, p_retailprice
  FROM read_parquet('{SRC}/part.parquet')""")

copies("orders", lambda k: f"""
  SELECT o_orderkey + {k * OK} AS o_orderkey,
    o_custkey + {k * CK} AS o_custkey,
    o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
  FROM read_parquet('{SRC}/orders.parquet')""")

copies("lineitem", lambda k: f"""
  SELECT l_orderkey + {k * OK} AS l_orderkey,
    l_partkey + {k * PK} AS l_partkey,
    l_suppkey + {k * SK} AS l_suppkey,
    l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
    l_returnflag, l_linestatus, l_shipdate
  FROM read_parquet('{SRC}/lineitem.parquet')""")

copies("events", lambda k: f"""
  SELECT event_id + {k * EK} AS event_id, ts,
    user_id + {k * UK} AS user_id, event_type, value, props
  FROM read_parquet('{SRC}/events.parquet')""")

# documents: junk suffix = ceil(0.5 * n_words) tokens 'zkKtI' shared
# within the copy (prefix of one per-copy stream)
def doc_select(k):
    if k == 0:
        return f"SELECT doc_id, text, lang, source, n_chars " \
               f"FROM read_parquet('{SRC}/documents.parquet')"
    return f"""
  SELECT doc_id + {k * DK} AS doc_id,
    text || ' ' || array_to_string(list_transform(
      range(1, CAST(ceil(0.5 * len(regexp_split_to_array(trim(text), '\\s+')))
                AS BIGINT) + 1),
      i -> '{JP}{k}t' || i), ' ') AS text,
    lang, source,
    CAST(length(text || ' ' || array_to_string(list_transform(
      range(1, CAST(ceil(0.5 * len(regexp_split_to_array(trim(text), '\\s+')))
                AS BIGINT) + 1),
      i -> '{JP}{k}t' || i), ' ')) AS BIGINT) AS n_chars
  FROM read_parquet('{SRC}/documents.parquet')"""
copies("documents", doc_select)

# embeddings: numpy sign-flip per copy (norm-preserving, cosine-decorrelating)
tbl = pq.read_table(f"{SRC}/embeddings.parquet")
vec_ids = tbl.column("vec_id").to_numpy()
labels = tbl.column("label").to_numpy()
flat = tbl.column("embedding").combine_chunks()
dim = len(flat[0])
emb = np.asarray(flat.flatten(), dtype=np.float32).reshape(-1, dim)  # (N, dim)
out_ids, out_labels, out_emb = [], [], []
for k in range(K):
    flips = (np.ones(dim, dtype=np.float32) if k == 0 else
             np.random.default_rng(k + RNG_OFF).choice(
                 np.array([-1.0, 1.0], dtype=np.float32), size=dim))
    out_ids.append(vec_ids + k * VK)
    out_labels.append(labels)
    out_emb.append(emb * flips)
all_emb = np.concatenate(out_emb)
offsets = pa.array(np.arange(0, (all_emb.shape[0] + 1) * dim, dim,
                             dtype=np.int32))
emb_col = pa.ListArray.from_arrays(
    offsets, pa.array(all_emb.ravel(), type=pa.float32()))
emb_tbl = pa.table({
    "vec_id": pa.array(np.concatenate(out_ids), type=pa.int64()),
    "embedding": emb_col,
    "label": pa.array(np.concatenate(out_labels), type=pa.int32()),
}).select(["vec_id", "embedding", "label"])
pq.write_table(emb_tbl, f"{DST}/embeddings.parquet")
print(f"embeddings: {emb_tbl.num_rows} rows")
print("done:", DST)
