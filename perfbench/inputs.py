"""Input generation. Everything a workload reads is written here, before
the workload JVM starts; the seed picks what varies (read ranges, search
queries, corpus perturbation, entry order) but never the amount of work.

Each generator runs several times into fresh directories; the median of
those times is the generation share of setup_s.
"""
import random
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BASE = HERE / "data" / "sf0.01"
CHAIN = ROOT / "fixtures" / "chain_sf0.1"
GEN_REPEATS = 3

# block ranges of chain_lifecycle (ChainLifecycle.scala holds the same)
CHUNK = 1000
HEAD = (1000, 2000)
TAIL = (2000, 3000)
READ_LENGTH = 500
N_READS = 27
TAIL_BLOCK_FILES = 8

# corpus_4x
REPLICAS = 4
FILES_PER_TABLE = 4
SEARCH_BATCHES = 1
SEARCH_BATCH_SIZE = 1000
QUERY_NOISE = 0.02
QUERY_ID_BASE = 1_000_000_000
# key columns shifted per replica, by the stride of the table that owns them
KEYS = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders", "l_partkey": "part",
                 "l_suppkey": "supplier"},
    "events": {"event_id": "events", "user_id": "users"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}
OWN_KEY = {"customer": "c_custkey", "supplier": "s_suppkey",
           "part": "p_partkey", "orders": "o_orderkey", "events": "event_id",
           "users": "user_id", "documents": "doc_id", "embeddings": "vec_id"}


def generate(workload, seed, out):
    gen = {"chain_lifecycle": gen_chain_lifecycle,
           "corpus_4x": gen_corpus}[workload]
    times = []
    for i in range(GEN_REPEATS):
        target = Path(out) if i == GEN_REPEATS - 1 else Path(f"{out}.{i}")
        shutil.rmtree(target, ignore_errors=True)
        t0 = time.perf_counter()
        gen(seed, target)
        times.append(time.perf_counter() - t0)
        if target != Path(out):
            shutil.rmtree(target)
    return times


def _bronze():
    if not CHAIN.is_dir():
        raise SystemExit(f"perfbench: chain fixture {CHAIN} is missing")
    tables = {}
    for d in sorted(CHAIN.glob("rpc_*.parquet")):
        tables[d.name] = pq.read_table(sorted(d.glob("*.parquet")))
    return tables


def _slice(tables, lo, hi):
    """bronze rows of blocks [lo, hi); receipts follow their transactions"""
    out = {}
    for name, t in tables.items():
        if "block_number" in t.column_names:
            bn = t.column("block_number")
            out[name] = t.filter(pc.and_(pc.greater_equal(bn, lo), pc.less(bn, hi)))
    txs = out["rpc_transactions.parquet"].column("transaction_hash")
    rc = tables["rpc_receipts.parquet"]
    out["rpc_receipts.parquet"] = rc.filter(
        pc.is_in(rc.column("transaction_hash"), value_set=txs))
    return out


def _write(tables, out, tag, split_blocks=1):
    for name, t in tables.items():
        d = out / name
        d.mkdir(parents=True, exist_ok=True)
        n = 1
        if name == "rpc_blocks.parquet":
            n, t = split_blocks, t.sort_by("block_number")
        step = -(-t.num_rows // n)
        for k in range(n):
            pq.write_table(t.slice(k * step, step), d / f"part-{tag}-{k}.parquet")


def gen_chain_lifecycle(seed, out):
    """Bronze for the batch range, the tail appended later (its block
    headers in several files, so follow mode sees several arrivals), and
    one seeded read range per dataset."""
    tables = _bronze()
    _write(_slice(tables, *HEAD), out / "head", "0")
    _write(_slice(tables, *TAIL), out / "tail", "1", TAIL_BLOCK_FILES)
    # every range spans the chunk boundary, so every read opens two files
    rng = random.Random(seed)
    lo = HEAD[1] - HEAD[0] - READ_LENGTH + 1
    (out / "ranges.txt").write_text("\n".join(
        str(rng.randrange(lo, HEAD[1] - HEAD[0])) for _ in range(N_READS)) + "\n")


def _replicate(name, t, strides, k, rng_k):
    """replica k of table `name`: keys shifted by k strides; for k > 0 doc
    text gets a seeded token and embedding dimension k - 1 a unit offset
    (ScaleUp's rule), so replicas are not planted duplicates of the base
    and the seed does not move vectors between index cells"""
    cols = {c: t.column(c) for c in t.column_names}
    for c, owner in KEYS.get(name, {}).items():
        cols[c] = pc.add(cols[c], pa.scalar(k * strides[owner], cols[c].type))
    if k > 0 and name == "documents":
        token = "".join(rng_k.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(6))
        cols["text"] = pc.binary_join_element_wise(
            cols["text"], pa.scalar(f"rep{k}{token}"), " ")
        cols["n_chars"] = pc.cast(pc.utf8_length(cols["text"]), cols["n_chars"].type)
    if k > 0 and name == "embeddings":
        emb = cols["embedding"].combine_chunks()
        dim = len(emb[0])
        flat = emb.values.to_numpy(zero_copy_only=False).reshape(-1, dim).copy()
        flat[:, (k - 1) % dim] += np.float32(1 + (k - 1) // dim)
        cols["embedding"] = pa.ListArray.from_arrays(
            emb.offsets, pa.array(flat.reshape(-1), pa.float32()))
    return pa.table(cols, schema=t.schema)


def gen_corpus(seed, out):
    """The corpus, replicated from the committed sf0.01 tables, and
    seeded search batches: corpus vectors with gaussian noise, under ids
    the corpus does not hold."""
    base = {p.stem: pq.read_table(p) for p in sorted(BASE.glob("*.parquet"))}
    strides = {owner: int(pc.max(base["events" if owner == "users" else owner]
                                 .column(col)).as_py()) + 1
               for owner, col in OWN_KEY.items()}
    rng = random.Random(seed)
    for name, t in base.items():
        if name in KEYS:
            parts = [_replicate(name, t, strides, k, random.Random(seed * 1000 + k))
                     for k in range(REPLICAS)]
            t = pa.concat_tables(parts)
        d = out / "corpus" / f"{name}.parquet"
        d.mkdir(parents=True)
        step = -(-t.num_rows // FILES_PER_TABLE)
        for i in range(FILES_PER_TABLE):
            pq.write_table(t.slice(i * step, step), d / f"part-{i}.parquet")
    _queries(pq.read_table(out / "corpus" / "embeddings.parquet"), rng,
             SEARCH_BATCHES, SEARCH_BATCH_SIZE, out / "queries")


def _queries(emb_table, rng, n_batches, size, out):
    emb = emb_table.column("embedding").combine_chunks()
    dim = len(emb[0])
    vecs = emb.values.to_numpy(zero_copy_only=False).reshape(-1, dim)
    nprng = np.random.default_rng(rng.randrange(2**32))
    out.mkdir(parents=True)
    for b in range(n_batches):
        src = nprng.integers(0, len(vecs), size)
        q = vecs[src] + nprng.normal(0, QUERY_NOISE, (size, dim)).astype(np.float32)
        ids = np.arange(size, dtype=np.int64) + QUERY_ID_BASE + b * size
        pq.write_table(pa.table({
            "vec_id": pa.array(ids),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(size + 1, dtype=np.int32) * dim),
                pa.array(q.reshape(-1), pa.float32())),
        }), out / f"batch_{b}.parquet")
