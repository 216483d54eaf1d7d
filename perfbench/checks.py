"""Correctness checks. Each compares the program's outputs with a result
computed apart from the program (DuckDB, numpy) or with a property the
method must have; none compares with a stored copy of earlier output.

check(workload, result, work) returns a list of problems; empty = pass.
"""
import json
import re
import sys
from pathlib import Path

import duckdb
import pandas as pd

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))
from oracle_check import frame_rows  # noqa: E402  the oracle comparator

from inputs import CHUNK, HEAD, TAIL  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check(workload, result, work):
    return {"chain_lifecycle": check_chain_lifecycle,
            "corpus_4x": check_corpus}[workload](result, Path(work))


def connect():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def table_views(con, sf_dir):
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        pat = f"{p}/**/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{pat}')")


def compare(con, sql, got_dir):
    """None when the parquet result under got_dir matches the oracle SQL
    under the oracle comparator, else a one-line reason."""
    try:
        got_cols, got = frame_rows(pd.read_parquet(got_dir))
        want_cols, want = frame_rows(con.sql(sql).df())
    except Exception as e:  # a comparator crash is a failed check
        return f"comparator error {type(e).__name__}: {str(e)[:160]}"
    if got_cols != want_cols:
        return f"columns {got_cols} != {want_cols}"
    if got != want:
        diff = next((i for i, (g, w) in enumerate(zip(got, want)) if g != w),
                    min(len(got), len(want)))
        return f"{len(got)} vs {len(want)} rows, first difference at row {diff}"
    return None


# datasets whose chain entry is named differently
TWIN = {"javascript_traces": "chain_js_traces"}

CHUNK_NAME = re.compile(r"^ethereum__(?P<ds>.+?)__(?P<a>\d{8})_to_(?P<b>\d{8})\.parquet$")


def chunk_files(lake):
    """{dataset: {(first, last): path}} of the cryo-named files in a lake"""
    out = {}
    for f in Path(lake).rglob("*.parquet"):
        m = CHUNK_NAME.match(f.name)
        if m:
            out.setdefault(m["ds"], {})[(int(m["a"]), int(m["b"]))] = f
    return out


def same_rows(con, a, b):
    """both relations hold the same multiset of rows"""
    n = con.sql(f"SELECT (SELECT count(*) FROM ({a} EXCEPT ALL {b})) + "
                f"(SELECT count(*) FROM ({b} EXCEPT ALL {a}))").fetchone()[0]
    return n == 0


def hexed(con, path):
    """a lake file with its binary columns as '0x' lowercase hex, the
    encoding of the chain twins"""
    rel = f"read_parquet('{path}')"
    blobs = [r[0] for r in con.sql(f"DESCRIBE SELECT * FROM {rel}").fetchall()
             if r[1] == "BLOB"]
    if not blobs:
        return f"SELECT * FROM {rel}"
    rep = ", ".join(f"'0x' || lower(hex({c})) AS {c}" for c in blobs)
    return f"SELECT * REPLACE ({rep}) FROM {rel}"


def bronze_in_chunk(sql, bronze, tables_with_blocks, lo, hi):
    """the twin's SQL over the bronze rows of blocks [lo, hi] only"""
    def sub(m):
        t = m.group(1)
        src = f"read_parquet('{bronze}/{t}.parquet/*.parquet')"
        if t in tables_with_blocks:
            return f"(SELECT * FROM {src} WHERE block_number BETWEEN {lo} AND {hi})"
        return src
    return re.sub(r"read_parquet\('[^']*/(rpc_\w+)\.parquet/\*\.parquet'\)", sub, sql)


def check_chain_lifecycle(result, work):
    problems = []
    check = work / "check"
    lake = work / "round_0" / "lake"
    bronze = check / "bronze"
    reads = [line.split() for line in (check / "ranges.txt").read_text().split("\n") if line]
    names = [r[0] for r in reads]
    files = chunk_files(lake)
    follow = chunk_files(check / "tail_lake")
    want_chunks = [(a, a + CHUNK - 1) for a in range(HEAD[0], TAIL[1], CHUNK)]
    con = connect()

    # every dataset's files tile the lifecycle range with no gap or overlap
    for ds in names:
        got = sorted(files.get(ds, {}))
        if got != want_chunks:
            problems.append(f"{ds}: chunk files {got}, want {want_chunks}")
    if (work / "round_0" / "refreeze_written.txt").read_text().strip() != "0":
        problems.append("the re-freeze wrote files")

    # each file equals its DuckDB twin over the bronze rows of its chunk
    oracle = json.loads((check / "oracle_sql.json").read_text())
    with_blocks = {d.name[:-len(".parquet")] for d in bronze.glob("rpc_*.parquet")
                   if "block_number" in con.sql(
                       f"SELECT * FROM read_parquet('{d}/*.parquet') LIMIT 0").columns}
    untwinned = set()
    for ds in names:
        twin = TWIN.get(ds, f"chain_{ds}")
        for (a, b), path in sorted(files.get(ds, {}).items()):
            sql = oracle.get(twin)
            got = hexed(con, path)
            got_cols = con.sql(got + " LIMIT 0").columns
            if sql is not None:
                want = bronze_in_chunk(sql, bronze, with_blocks, a, b)
                want_cols = con.sql(f"SELECT * FROM ({want}) LIMIT 0").columns
                if set(want_cols) <= set(got_cols):
                    cols = ", ".join(want_cols)
                    if not same_rows(con, f"SELECT {cols} FROM ({got})",
                                     f"SELECT {cols} FROM ({want})"):
                        problems.append(f"{ds} {a}-{b}: differs from its twin {twin}")
                    continue
            # no usable twin: the file holds rows of its own blocks only
            untwinned.add(ds)
            if "block_number" in got_cols and con.sql(
                    f"SELECT count(*) FROM ({got}) "
                    f"WHERE block_number NOT BETWEEN {a} AND {b}").fetchone()[0]:
                problems.append(f"{ds} {a}-{b}: rows outside the chunk")

    # follow mode wrote exactly what a batch freeze of the tail writes
    for ds in names:
        tail = {k: v for k, v in files.get(ds, {}).items() if k in follow.get(ds, {})}
        if sorted(follow.get(ds, {})) != sorted(tail) or not tail:
            problems.append(f"{ds}: follow files {sorted(tail)} != batch "
                            f"{sorted(follow.get(ds, {}))}")
            continue
        for k, p in tail.items():
            q = follow[ds][k]
            if p.name != q.name or not same_rows(
                    con, f"SELECT * FROM read_parquet('{p}')",
                    f"SELECT * FROM read_parquet('{q}')"):
                problems.append(f"{ds} {k}: follow file differs from batch freeze")

    # each range read returned exactly the lake rows of its range
    for ds, a, b in reads:
        paths = [str(p) for p in files.get(ds, {}).values()]
        if not paths:
            continue
        lake_rows = f"SELECT * FROM read_parquet({paths})"
        cols = con.sql(lake_rows + " LIMIT 0").columns
        if "block_number" in cols:
            lake_rows += f" WHERE block_number >= {a} AND block_number < {b}"
        got = f"SELECT * FROM read_parquet('{check}/reads/{ds}/*.parquet')"
        if not same_rows(con, got, lake_rows):
            problems.append(f"{ds}: read of [{a}, {b}) differs from the lake rows")
    if untwinned:
        sys.stderr.write(f"perfbench: no usable twin for {sorted(untwinned)}\n")
    if len(untwinned) == len(names):
        problems.append("no dataset was compared with a twin")
    return problems


# recall@3 measured 0.46 on the 4x corpus with 1,000 queries; a broken
# probe or codebook falls far below this floor
RECALL_FLOOR = 0.40


def check_corpus(result, work):
    r0 = work / "round_0"
    out = r0 / "out"
    corpus = work / "inputs" / "corpus"
    con = connect()
    table_views(con, corpus)
    names = [o["name"] for o in result["ops"] if o["kind"] == "heavy"]
    problems = []

    # the audit and the heavy entries match their DuckDB twins
    oracle = json.loads((r0 / "oracle_sql.json").read_text())
    for name in ["q_doc_corpus_prep"] + names:
        why = compare(con, oracle[name], out / ("prep/audit" if name == "q_doc_corpus_prep"
                                                 else f"heavy/{name}"))
        if why:
            problems.append(f"{name}: {why}")

    # the rollups equal DuckDB aggregates of the written audit
    audit = f"read_parquet('{out}/prep/audit/*.parquet')"
    def n(c):
        return f"sum(CASE WHEN {c} THEN 1 ELSE 0 END)::BIGINT"
    rollups = {
        "source_stats": f"""SELECT source, count(*) AS n_docs,
            {n('lang_ok')} AS n_lang_ok, {n('quality_ok')} AS n_quality_ok,
            {n('exact_canonical')} AS n_exact_canonical,
            {n('neardup_canonical')} AS n_neardup_canonical, {n('keep')} AS n_keep,
            {n("split = 'train'")} AS n_train, {n("split = 'valid'")} AS n_valid,
            {n("split = 'test'")} AS n_test FROM {audit} GROUP BY source""",
        "funnel": f"""WITH c AS (SELECT count(*) AS n0, {n('lang_ok')} AS n1,
              {n('lang_ok AND quality_ok')} AS n2,
              {n('lang_ok AND quality_ok AND exact_canonical')} AS n3,
              {n('keep')} AS n4 FROM {audit})
            SELECT 0 AS stage_idx, 'raw' AS stage, n0 AS n_surviving FROM c
            UNION ALL SELECT 1, 'lang_id', n1 FROM c
            UNION ALL SELECT 2, 'quality', n2 FROM c
            UNION ALL SELECT 3, 'exact_dedup', n3 FROM c
            UNION ALL SELECT 4, 'near_dedup', n4 FROM c""",
    }
    for name, sql in rollups.items():
        why = compare(con, sql, out / "prep" / name)
        if why:
            problems.append(f"prep {name}: {why}")

    # the index holds one code per subvector of every corpus vector
    index = {k: work / v for k, v in index_paths(work).items()}
    codes = f"read_parquet('{index['codes']}/**/*.parquet')"
    bad = con.sql(f"""
        WITH per AS (SELECT vec_id, count(*) AS n, count(DISTINCT sub) AS subs
                     FROM {codes} GROUP BY vec_id),
             m AS (SELECT count(DISTINCT sub) AS m FROM {codes})
        SELECT (SELECT count(*) FROM embeddings e ANTI JOIN per USING (vec_id))
             + (SELECT count(*) FROM per ANTI JOIN embeddings e USING (vec_id))
             + (SELECT count(*) FROM per, m WHERE per.n <> m.m OR per.subs <> m.m)
        """).fetchone()[0]
    if bad:
        problems.append(f"index: {bad} vectors without exactly one code per subvector")

    # every returned neighbour's distance is its ADC distance, recomputed
    # in numpy from the index artifacts, and recall@k meets the floor
    wrong = search_distance_errors(con, index, work / "inputs" / "queries", out / "search")
    if wrong:
        problems.append(f"search: {wrong} results whose distance is not their ADC distance")
    recall = search_recall(con, work / "inputs" / "queries", out / "search")
    sys.stderr.write(f"perfbench: search recall@3 {recall:.4f}\n")
    if recall < RECALL_FLOOR:
        problems.append(f"search recall@3 {recall:.3f} below {RECALL_FLOOR}")
    return problems


def index_paths(work):
    """the index artifacts of the first round, relative to the work dir"""
    return dict(line.split(" ", 1) for line in
                (work / "round_0" / "index_paths.txt").read_text().split("\n") if line)


def search_recall(con, queries_dir, results_dir, k=3):
    """share of the exact k nearest corpus vectors (squared L2, numpy)
    that the search returned"""
    import numpy as np
    emb = con.sql("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").fetchnumpy()
    ids = emb["vec_id"]
    corpus = np.stack(emb["embedding"]).astype(np.float64)
    q = con.sql(f"SELECT vec_id, embedding FROM read_parquet('{queries_dir}/*.parquet') "
                "ORDER BY vec_id").fetchnumpy()
    qv = np.stack(q["embedding"]).astype(np.float64)
    d = (qv * qv).sum(1)[:, None] - 2 * qv @ corpus.T + (corpus * corpus).sum(1)[None, :]
    exact = ids[np.argsort(d, axis=1, kind="stable")[:, :k]]
    got = con.sql(f"SELECT q_id, c_id FROM read_parquet('{results_dir}/**/*.parquet') "
                  f"WHERE rk <= {k}").fetchall()
    found = {}
    for qid, cid in got:
        found.setdefault(qid, set()).add(cid)
    hits = sum(len(set(row) & found.get(qid, set())) for qid, row in zip(q["vec_id"], exact))
    return hits / (k * len(q["vec_id"]))


def search_distance_errors(con, index, queries_dir, results_dir, tolerance=16):
    """Results whose reported ADC distance differs from the one recomputed
    here: probe the two nearest centroids by cosine, take the query's
    residual to the neighbour's cell, and sum floor(2^20 * squared
    distance) to the neighbour's codeword in each subspace. The tolerance
    absorbs summation-order rounding."""
    import numpy as np
    cent = con.sql(f"SELECT centroid_id, c_emb FROM read_parquet('{index['centroids']}/**/*.parquet') "
                   "ORDER BY centroid_id").fetchnumpy()
    cids = list(cent["centroid_id"])
    cvec = np.stack(cent["c_emb"]).astype(np.float32)
    cb = con.sql(f"SELECT sub, code, c_v FROM read_parquet('{index['codebook']}/**/*.parquet')").fetchall()
    book = {(s, c): np.asarray(v, dtype=np.float32) for s, c, v in cb}
    dsub = len(next(iter(book.values())))
    codes = {}
    for vid, cell, sub, code in con.sql(
            f"SELECT vec_id, centroid_id, sub, code FROM read_parquet('{index['codes']}/**/*.parquet')"
            ).fetchall():
        codes.setdefault(vid, [cell, {}])[1][sub] = code
    q = con.sql(f"SELECT vec_id, embedding FROM read_parquet('{queries_dir}/*.parquet')").fetchnumpy()
    qvec = dict(zip(q["vec_id"], (np.asarray(v, dtype=np.float32) for v in q["embedding"])))
    wrong = 0
    for qid, cid, adc in con.sql(
            f"SELECT q_id, c_id, adc_q FROM read_parquet('{results_dir}/**/*.parquet')").fetchall():
        v = qvec[qid]
        cos = (cvec.astype(np.float64) @ v.astype(np.float64)) / (
            np.linalg.norm(cvec.astype(np.float64), axis=1) * np.linalg.norm(v.astype(np.float64)))
        probed = {cids[i] for i in sorted(range(len(cids)), key=lambda i: (-cos[i], cids[i]))[:2]}
        cell, subcodes = codes.get(cid, (None, {}))
        if cell not in probed:
            wrong += 1
            continue
        res = v - cvec[cids.index(cell)]
        want = 0
        for sub, code in subcodes.items():
            d = (res[sub * dsub:(sub + 1) * dsub] - book[(sub, code)]).astype(np.float64)
            want += int(np.floor((d * d).sum() * 1048576))
        wrong += abs(want - adc) > tolerance
    return wrong
