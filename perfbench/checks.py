"""Output checks, computed outside the framework (DuckDB over the same
generated inputs). Each check returns a list of problems; empty = correct."""
import glob
import json
import os

import duckdb

import gen

# Planted near-duplicate pairs that dedup_corpus.yaml's minhash-lsh job
# must report, as a share of all planted pairs (also in BENCHMARK.json).
NEAR_DUP_RECALL_MIN = 0.9


def _q(con, sql):
    return con.execute(sql).fetchall()


def _diff(con, a, b, what):
    """Multiset difference both ways between two relations."""
    n1 = _q(con, f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})")[0][0]
    n2 = _q(con, f"SELECT count(*) FROM (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a})")[0][0]
    return [f"{what}: {n1} rows only in output, {n2} only in reference"] if n1 or n2 else []


def _files(d, pattern):
    return sorted(glob.glob(os.path.join(d, "**", pattern), recursive=True))


ETL_REFERENCE = """
SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, c.c_name, n.n_name,
       CAST(year(l.l_shipdate) AS INT) AS ship_year,
       l.l_quantity, l.l_returnflag, o.o_orderpriority,
       CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT) AS revenue_cents
FROM read_parquet('{d}/lineitem.parquet') l
JOIN read_parquet('{d}/orders.parquet') o ON l.l_orderkey = o.o_orderkey
JOIN read_parquet('{d}/customer.parquet') c ON o.o_custkey = c.c_custkey
JOIN read_parquet('{d}/nation.parquet') n ON c.c_nationkey = n.n_nationkey
"""


def etl(data_dir, out):
    """etl_batch: detail, nation_revenue and top_customers equal the
    reference; the per-action metrics file records every action."""
    con = duckdb.connect()
    con.execute(f"CREATE TEMP VIEW ref AS {ETL_REFERENCE.format(d=data_dir)}")
    problems = []
    detail = _files(os.path.join(out, "detail"), "*.parquet")
    if not detail:
        return ["detail: no parquet files"]
    con.execute(f"""CREATE TEMP VIEW detail AS SELECT l_orderkey, l_linenumber, o_custkey,
        c_name, n_name, CAST(ship_year AS INT) AS ship_year, l_quantity, l_returnflag,
        o_orderpriority, revenue_cents
        FROM read_parquet({detail!r}, hive_partitioning = true)""")
    problems += _diff(con, "detail", "ref", "detail")
    csvs = _files(os.path.join(out, "nation_revenue"), "*.csv")
    con.execute(f"""CREATE TEMP VIEW nr AS SELECT CAST(n_name AS VARCHAR) n_name,
        CAST(ship_year AS INT) ship_year, CAST(line_count AS BIGINT) line_count,
        CAST(revenue_cents AS BIGINT) revenue_cents
        FROM read_csv({csvs!r}, header = true, all_varchar = true)""")
    con.execute("""CREATE TEMP VIEW nr_ref AS SELECT n_name, ship_year,
        CAST(count(*) AS BIGINT) line_count, CAST(sum(revenue_cents) AS BIGINT) revenue_cents
        FROM ref GROUP BY n_name, ship_year""")
    problems += _diff(con, "nr", "nr_ref", "nation_revenue")
    jsons = _files(os.path.join(out, "top_customers"), "*.json")
    con.execute(f"""CREATE TEMP VIEW top AS SELECT CAST(n_name AS VARCHAR) n_name,
        CAST(o_custkey AS BIGINT) o_custkey, CAST(revenue_cents AS BIGINT) revenue_cents,
        CAST(rnk AS INT) rnk FROM read_json({jsons!r}, format = 'newline_delimited')""")
    con.execute("""CREATE TEMP VIEW top_ref AS SELECT * FROM (
        SELECT n_name, o_custkey, revenue_cents, CAST(row_number() OVER (PARTITION BY n_name
               ORDER BY revenue_cents DESC, o_custkey) AS INT) rnk
        FROM (SELECT n_name, o_custkey, CAST(sum(revenue_cents) AS BIGINT) revenue_cents
              FROM ref GROUP BY n_name, o_custkey)) WHERE rnk <= 3""")
    problems += _diff(con, "top", "top_ref", "top_customers")
    metric_files = _files(os.path.join(out, "_metrics"), "metrics-*.json")
    if len(metric_files) != 1:
        problems.append(f"per-action metrics: {len(metric_files)} files")
    else:
        with open(metric_files[0]) as f:
            rows = json.load(f)
        bad = [r["action"] for r in rows if r["status"] != "completed"]
        if len(rows) != 12 or bad:
            problems.append(f"per-action metrics: {len(rows)} rows, not completed: {bad}")
    con.close()
    return problems


def corpus(truth, train_out, dedup_out, cdc_ref):
    """corpus_curation: exact-dedup keeps unique, every train_order epoch a
    permutation of the kept docs, planted near-dups found at the pinned
    recall, cdc_clean equal to the library path."""
    con = duckdb.connect()
    problems = []
    docs = _files(os.path.join(train_out, "scrubbed_docs"), "*.parquet")
    con.execute(f"CREATE TEMP VIEW kept AS SELECT * FROM read_parquet({docs!r})")
    n, nd = _q(con, "SELECT count(*), count(DISTINCT doc_id) FROM kept")[0]
    if n == 0 or n != nd:
        problems.append(f"scrubbed_docs: {n} rows, {nd} distinct doc ids")
    kept = {r[0] for r in _q(con, "SELECT doc_id FROM kept")}
    both = [g for g in truth["exact_groups"] if set(g) <= kept]
    if both:
        problems.append(f"exact dedup kept {len(both)} planted copy groups twice")
    order = _files(os.path.join(train_out, "train_order"), "*.parquet")
    con.execute(f"CREATE TEMP VIEW ord AS SELECT * FROM read_parquet({order!r})")
    epochs = _q(con, "SELECT epoch, count(*), count(DISTINCT doc_id) FROM ord GROUP BY epoch")
    if len(epochs) != 2 or any(c != n or d != n for _, c, d in epochs):
        problems.append(f"train_order epochs not permutations: {epochs} for {n} docs")
    stray = _q(con, "SELECT count(*) FROM ord WHERE doc_id NOT IN (SELECT doc_id FROM kept)")[0][0]
    if stray:
        problems.append(f"train_order: {stray} rows for docs not kept")
    pairs = _files(os.path.join(dedup_out, "candidate_pairs"), "*.parquet")
    found = {tuple(sorted(r)) for r in _q(
        con, f"SELECT id_a, id_b FROM read_parquet({pairs!r})")} if pairs else set()
    planted = [tuple(sorted(p)) for p in truth["near_pairs"]]
    recall = sum(p in found for p in planted) / len(planted)
    if recall < NEAR_DUP_RECALL_MIN:
        problems.append(f"near-dup recall {recall:.3f} < {NEAR_DUP_RECALL_MIN}")
    cleaned = _files(os.path.join(dedup_out, "cleaned"), "*.parquet")
    ref = _files(cdc_ref, "*.parquet")
    if not cleaned or not ref:
        problems.append("cdc_clean: missing output or reference")
    else:
        con.execute(f"CREATE TEMP VIEW cl AS SELECT * FROM read_parquet({cleaned!r})")
        con.execute(f"CREATE TEMP VIEW cl_ref AS SELECT * FROM read_parquet({ref!r})")
        problems += _diff(con, "cl", "cl_ref", "cdc_clean")
    con.close()
    return problems, recall


def stream(out_dir, file_events):
    """stream_sessionize: the committed sessions equal a batch
    sessionization of every generated event. Rows are the sink's committed
    files (its _spark_metadata log); an extended open session is re-emitted,
    so the last (largest) count per (user, session_start) is the session."""
    committed = set()
    for f in glob.glob(os.path.join(out_dir, "_spark_metadata", "*")):
        if os.path.basename(f).split(".")[0].isdigit():
            with open(f) as fh:
                for line in fh.read().splitlines()[1:]:
                    if line.strip():
                        committed.add(json.loads(line)["path"].replace("file://", ""))
    files = [p for p in committed if p.endswith(".parquet")]
    got = {}
    if files:
        con = duckdb.connect()
        for u, s, c in _q(con, f"""SELECT user_id, session_start, max(cnt)
                FROM read_parquet({sorted(files)!r}) GROUP BY user_id, session_start"""):
            got[(int(u), int(s))] = int(c)
        con.close()
    want = gen.sessionize([e for evs in file_events for e in evs])
    if got == want:
        return []
    missing = len(set(want) - set(got))
    extra = len(set(got) - set(want))
    wrong = sum(1 for k in set(want) & set(got) if want[k] != got[k])
    return [f"sessions: {missing} missing, {extra} extra, {wrong} with wrong counts "
            f"(of {len(want)})"]
