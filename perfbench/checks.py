"""Output checks. Every timed operation is checked against an answer the
program under test did not compute; an operation that fails its check is
counted in `failed` and its time is never recorded."""
import hashlib
import os
import pickle

import duckdb
import numpy as np
import pyarrow as pa

import corpus

# Registered queries whose DuckDB oracle does not finish within
# ORACLE_CAP_S at the session's fixture scale (measured with two DuckDB
# threads on a 4-core x86-64 VM). They are never sampled, and every
# record lists them.
ORACLE_CAP_S = 2
ORACLE_DNF = (
    "corpus_ngram_novelty",
    "dedup_banding_sweep",
    "dedup_cluster_sizes",
    "dedup_clusters",
    "dedup_clusters_incremental",
    "dedup_clusters_twostar",
    "dedup_containment",
    "dedup_incremental",
    "dedup_index_compact",
    "dedup_index_refresh",
    "dedup_jaccard",
    "dedup_minhash_calibration",
    "dedup_minhash_fast",
    "dedup_minhash_lsh",
    "dedup_quality_lift",
    "dedup_rung_overlap",
    "dedup_soft_weights",
    "dedup_winnow_pairs",
    "emb_abtt",
    "emb_gram",
    "emb_pca_power",
    "graph_communities",
    "graph_hits",
    "graph_kcore",
    "graph_triangles",
    "mix_ccnet",
    "mix_curriculum",
    "mix_distill",
    "mm_media_funnel",
    "mm_phash_clusters",
    "pipeline_e2e",
    "pipeline_fuzzy",
    "pipeline_fuzzy_best",
    "split_leakage_fuzzy",
    "stream_bpe_encode",
    "stream_dedup_incremental",
    "text_classifier_auc",
    "text_classifier_pr",
    "text_classifier_train",
    "text_hybrid_rrf",
    "text_hybrid_rrf_ann",
    "text_winnow_audit",
    "vocab_bpe_encode",
    "vocab_bpe_train",
    "vocab_fertility",
)

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


# -------------------------------------------------------------- url job

def _expected_table(shape, counts):
    idx = np.flatnonzero(counts)
    names = np.ascontiguousarray(corpus.key_names(shape, idx))
    fixed = pa.FixedSizeBinaryArray.from_buffers(
        pa.binary(names.shape[1]), len(idx), [None, pa.py_buffer(names.tobytes())])
    return pa.table({"token": fixed.cast(pa.binary()).cast(pa.string()),
                     "cnt": pa.array(counts[idx])})


def sink_problems(con, json_dir, text_dir, n_keys):
    """Merge-read both sinks of one job and compare them with the
    generated counts registered as `expected`. Returns problem strings."""
    problems = []
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE sink_json AS SELECT token, cnt FROM read_json("
        f"'{json_dir}/part-*', format='newline_delimited', "
        f"columns={{'token': 'VARCHAR', 'cnt': 'BIGINT'}})")
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE sink_text AS SELECT "
        f"split_part(line, ': ', 1) AS token, "
        f"CAST(split_part(line, ': ', 2) AS BIGINT) AS cnt FROM read_csv("
        f"'{text_dir}/part-*', columns={{'line': 'VARCHAR'}}, header=false, "
        f"delim='\t', quote='', escape='', auto_detect=false)")
    for sink in ("sink_json", "sink_text"):
        rows, distinct = con.execute(
            f"SELECT count(*), count(DISTINCT token) FROM {sink}").fetchone()
        if rows != n_keys or distinct != n_keys:
            problems.append(f"{sink}: {rows} rows, {distinct} keys, expected {n_keys}")
        wrong = con.execute(
            f"SELECT count(*) FROM expected e FULL OUTER JOIN {sink} s "
            f"ON e.token = s.token WHERE e.cnt IS DISTINCT FROM s.cnt").fetchone()[0]
        if wrong:
            problems.append(f"{sink}: {wrong} keys differ from the generated counts")
    return problems


def check_url(rec, shape, corpus_path):
    """Per job: the count phase's distinct-key count and token mass, the
    exact top-100 (cnt desc, token asc), and a merge-read of both sinks."""
    counts = corpus.load_counts(corpus_path)
    n_keys, mass = int(np.count_nonzero(counts)), int(counts.sum())
    top = corpus.expected_top(shape, counts, 100)
    con = duckdb.connect()
    con.register("expected", _expected_table(shape, counts))
    attempted = failed = 0
    bad, problems = [], []
    for i, it in enumerate(rec["iterations"]):
        found = []
        if (it["n_keys"], it["mass"]) != (n_keys, mass):
            found.append(f"count: {it['n_keys']} keys / {it['mass']} tokens, "
                         f"expected {n_keys} / {mass}")
        if [(str(t), int(c)) for t, c in it["top"]] != top:
            found.append("topk: top-100 differs from the generated counts")
        sink = sink_problems(con, it["json_dir"], it["text_dir"], n_keys)
        found += sink
        attempted += 3
        failed += (len(found) - len(sink)) + (1 if sink else 0)
        if found:
            bad.append(i)
            problems += [f"job {i}: {p}" for p in found]
    one = rec.get("count_local1")
    if one:
        # the traced run's single-core rerun of the count phase
        attempted += 1
        if (one["n_keys"], one["mass"]) != (n_keys, mass):
            failed += 1
            problems.append(f"count at local[1]: {one['n_keys']} keys / {one['mass']} tokens")
    return {"attempted": attempted, "failed": failed,
            "bad_iterations": bad, "problems": problems[:50],
            "expected": {"n_keys": n_keys, "mass": mass, "top1": list(top[0])}}


# --------------------------------------------------------------- session

def _fixture_fingerprint(sf_dir):
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(sf_dir)):
        for n in sorted(names):
            st = os.stat(os.path.join(d, n))
            h.update(f"{os.path.join(d, n)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def _connect(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def oracle_rows(con, sql, cache_dir, fingerprint):
    """(sorted column names, rows) of the oracle SQL, cached on disk."""
    key = hashlib.sha256(f"{fingerprint}\n{sql}".encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    ora_rel = con.sql(sql)
    ora_cols = sorted(ora_rel.columns)
    ora_rows = con.sql(f"SELECT {', '.join(ora_cols)} FROM ora_rel").fetchall()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump((ora_cols, ora_rows), f)
    os.replace(path + ".tmp", path)
    return ora_cols, ora_rows


def compare(con, result_dir, oracle):
    """tools/compare.py's comparison: columns sorted by name, then exact
    row-by-row equality. Returns a problem string or ''."""
    ora_cols, ora_rows = oracle
    try:
        spark_rel = con.sql(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')")
        spark_cols = sorted(spark_rel.columns)
        spark_rows = con.sql(f"SELECT {', '.join(spark_cols)} FROM spark_rel").fetchall()
    except Exception as e:  # noqa: BLE001 - any unreadable result is a failure
        return f"spark result unreadable: {e}"
    if spark_cols != ora_cols:
        return f"columns spark={spark_cols} oracle={ora_cols}"
    if len(spark_rows) != len(ora_rows):
        return f"rows spark={len(spark_rows)} oracle={len(ora_rows)}"
    bad = sum(1 for a, b in zip(spark_rows, ora_rows) if a != b)
    return f"{bad}/{len(spark_rows)} rows differ" if bad else ""


def check_session(rec, catalog, results_dir, cache_dir):
    """Each execution's collected answer against the DuckDB oracle. An
    earlier pass's answer is written only where it differs from the last
    pass's."""
    sf_dir = rec["fixtures"]["sf_dir"]
    con = _connect(sf_dir)
    fingerprint = _fixture_fingerprint(sf_dir)
    attempted = failed = 0
    bad, problems = [], []
    verdicts = {}
    for i, e in enumerate(rec["executions"]):
        q, p = e["query"], e["pass"]
        attempted += 1
        problem = e["error"]
        if not problem:
            last = max(x["pass"] for x in rec["executions"])
            own = os.path.join(results_dir, f"pass{p}", q)
            path = own if os.path.isdir(own) else os.path.join(results_dir, f"pass{last}", q)
            if (path, q) not in verdicts:
                oracle = oracle_rows(con, catalog["oracle_sql"][q], cache_dir, fingerprint)
                verdicts[(path, q)] = compare(con, path, oracle)
            problem = verdicts[(path, q)]
        if problem:
            failed += 1
            bad.append(i)
            problems.append(f"{q} pass {p}: {problem}")
    return {"attempted": attempted, "failed": failed,
            "bad_executions": bad, "problems": problems[:50]}
