"""Reference answers for the lane workloads, computed by DuckDB.

For every lane, the answer is the lane's own oracle SQL
(`SparkEntry.oracleSql`, dumped by the harness) run by DuckDB over the
same input files the engine reads. `d_dedup_minhash_lsh` is the
exception: its oracle SQL is an all-pairs cross join that does not finish
beyond a few hundred documents, so its answer comes from
`MINHASH_EXACT`, the same exact jaccard computed through an inverted
index on shingles. Each time the answers are made, `MINHASH_EXACT` is
shown equal to the lane's oracle SQL on the base input, or making them
fails.

    python3 perfbench/answers.py      # make the inputs and answers anew
"""
import json
import os
import shutil
import sys

import duckdb

import checks

# The lanes of the lanes_sf0.1 workload: six of graft.Bench's 37 headline
# lanes, chosen so that each layer carries a large share of some lane's
# time (see README.md). Fixed here, so the benchmark's operation set only
# changes when the benchmark does.
LANES = [
    "q3_shipping_priority", "q5_region_revenue", "q_agg_multi_distinct",
    "d_dedup_minhash_lsh", "d_dedup_embedding", "s_ann_ivf_topk"]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Exact 3-shingle jaccard >= 0.8 between documents, as half-up integer
# micros: the result of the d_dedup_minhash_lsh oracle SQL, joined
# through shared shingles instead of over all pairs.
MINHASH_EXACT = """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
s AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
      FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM d)),
n AS (SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id),
p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
q AS (SELECT doc_a, doc_b, CAST(i AS BIGINT) AS i,
             CAST(na.sz + nb.sz - i AS BIGINT) AS u
      FROM p JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b)
SELECT doc_a, doc_b, (2000000 * i + u) // (2 * u) AS jaccard_u
FROM q WHERE (2000000 * i + u) // (2 * u) >= 800000
ORDER BY doc_a, doc_b"""


def connect(data_dir: str):
    """DuckDB with a view per input table of `data_dir` (a single parquet
    file per table, or a directory of part files)."""
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '3GB'")
    con.execute("SET preserve_insertion_order = false")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def lane_sql(oracle: dict, lane: str) -> str:
    return MINHASH_EXACT if lane == "d_dedup_minhash_lsh" else oracle[lane]


def make(base_dir: str, data_dir: str, oracle_json: str, out_dir: str) -> None:
    """Answers of every lane over `data_dir`, as `<out_dir>/<lane>.parquet`,
    after showing MINHASH_EXACT equal to the lane's oracle SQL over
    `base_dir`."""
    oracle = json.load(open(oracle_json))
    missing = [l for l in LANES if l not in oracle]
    if missing:
        raise SystemExit(f"no oracle SQL for {missing}")
    con = connect(base_dir)
    exact = con.execute(MINHASH_EXACT).fetchdf()
    why = checks.compare(exact, con.execute(oracle["d_dedup_minhash_lsh"]).fetchdf())
    con.close()
    if why:
        raise SystemExit(f"MINHASH_EXACT differs from the oracle SQL: {why}")
    print(f"[answers] exact minhash reference equals the oracle SQL "
          f"on the base input ({len(exact)} pairs)", file=sys.stderr)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = connect(data_dir)
    for lane in LANES:
        dst = os.path.join(tmp, f"{lane}.parquet")
        con.execute(f"COPY ({lane_sql(oracle, lane)}) TO '{dst}' (FORMAT PARQUET)")
    con.close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


if __name__ == "__main__":
    import run
    run.prepare(force=True)
