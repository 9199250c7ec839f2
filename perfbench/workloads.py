"""Workload definitions: seeded inputs, operation lists, expected results.

The seed only generates inputs (sweep constants, mutation key sets and the
operation order). The JVM harness receives the generated tables and
constants, never the seed. Expected results come from DuckDB on the same
inputs; they are benchmark work and are cached outside the timed run.
"""
import os
import random

import duckdb
import pyarrow.parquet as pq

# Bench's object layout: facts ranged on their hot predicate column.
BENCH_LAYOUT = {
    "objects": {"lineitem": 16, "orders": 8, "events": 8, "documents": 8,
                "embeddings": 8, "customer": 4, "part": 4, "supplier": 1,
                "nation": 1, "region": 1},
    "range": {"lineitem": "l_shipdate", "orders": "o_orderdate"},
}

# q_src_objstore_agg_filtered is left out: it lays its own copy of orders
# out under /tmp, outside the checkout the benchmark may write to.
SCAN_QUERIES = ["q1_agg", "q_agg_global", "q_scan_project_filter",
                "q_agg_group_multi", "q_join_q3", "q_join_q5"]

# One or two per operator family: the shared-cache dedup row
# (Dedup.sharedCache), k-means on the native integer L2 kernel, TF-IDF,
# language id on the native trigram walk, and the many-job iterative
# graph row. Five rows keep a run inside its time budget; an odd count
# puts the median latency inside one row's samples, not between two.
LLM_QUERIES = ["q_dedup_minhash_lsh", "q_sim_kmeans", "q_text_tfidf",
               "q_text_langid_confusion", "q_graph_pagerank_scaled"]

SELECTIVITIES = [0.001, 0.01, 0.1, 1.0]

NARROW = ("SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * "
          "CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue, "
          "COUNT(*) AS n FROM pb_lineitem WHERE {pred}")
WIDE = ("SELECT COUNT(*) AS n, CAST(SUM(l_orderkey) AS BIGINT) AS s_okey, "
        "CAST(SUM(l_partkey) AS BIGINT) AS s_pkey, "
        "CAST(SUM(l_suppkey) AS BIGINT) AS s_skey, "
        "CAST(SUM(l_linenumber) AS BIGINT) AS s_line, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS s_qty, "
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS s_price, "
        "CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS s_disc, "
        "CAST(SUM(CAST(l_tax AS DECIMAL(4,2))) AS DOUBLE) AS s_tax, "
        "MIN(l_returnflag) AS min_flag, MAX(l_linestatus) AS max_status, "
        "MAX(CAST(l_shipdate AS DATE)) AS max_ship FROM pb_lineitem WHERE {pred}")

ORDERS_AGG = ("SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, "
              "CAST(SUM(o_orderkey) AS BIGINT) AS sum_key, "
              "MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key, "
              "CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_total "
              "FROM {t} GROUP BY o_orderstatus, o_orderpriority")
LINEITEM_AGG = ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
                "CAST(SUM(l_orderkey) AS BIGINT) AS sum_key, "
                "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty, "
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price "
                "FROM {t} GROUP BY l_returnflag, l_linestatus")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def table_path(data_dir, t):
    """A fixture table is one parquet file; a ScaleGen table a directory."""
    p = f"{data_dir}/{t}.parquet"
    return f"{p}/*.parquet" if os.path.isdir(p) else p


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(data_dir, t)}')")
    con.execute("CREATE VIEW pb_lineitem AS SELECT * FROM lineitem")
    return con


def table_rows(con):
    return {t: con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0] for t in TABLES}


def scan_pushdown(seed, data_dir):
    """Headline pushdown queries plus the q6-shape selectivity sweep: 0.1 /
    1 / 10 / 100 % on the ranged column (object min/max prunes) and on an
    unranged one (pushed filter only), each with a narrow and a wide
    projection. The seed places each selectivity window; the order is fixed."""
    rng = random.Random(seed)
    con = connect(data_dir)
    ops = [{"id": q, "kind": "query", "name": q} for q in SCAN_QUERIES]
    for col, kind in (("l_shipdate", "ranged"), ("l_extendedprice", "unranged")):
        # window [u, u + s) in quantile space; 100 % is [min, max]
        qs = [(u, u + s) for s in SELECTIVITIES for u in [rng.uniform(0.0, 1.0 - s)]]
        bounds = con.execute(f"SELECT quantile_disc({col}, {[q for w in qs for q in w]}) "
                             "FROM lineitem").fetchone()[0]
        for i, s in enumerate(SELECTIVITIES):
            lo, hi = bounds[2 * i], bounds[2 * i + 1]
            pred_hi = "<=" if s >= 1.0 else "<"
            lit = (lambda v: f"TIMESTAMP '{v:%Y-%m-%d %H:%M:%S}'") if kind == "ranged" \
                else (lambda v: repr(float(v)))
            pred = f"{col} >= {lit(lo)} AND {col} {pred_hi} {lit(hi)}"
            for proj, tmpl in (("narrow", NARROW), ("wide", WIDE)):
                sql = tmpl.format(pred=pred)
                ops.append({"id": f"sweep_{kind}_{s * 100:g}pct_{proj}", "kind": "sql",
                            "sql": sql, "oracle": sql, "selectivity": s})
    rows = table_rows(con)
    return {"ops": ops, "layout": BENCH_LAYOUT, "table_rows": rows,
            "warmup_passes": 1, "min_passes": 1}


def llm_pipeline(seed, data_dir):
    """The LLM-pipeline operator queries on the parquet route, in a seeded
    order."""
    rng = random.Random(seed)
    ops = [{"id": q, "kind": "query", "name": q} for q in LLM_QUERIES]
    rng.shuffle(ops)
    con = connect(data_dir)
    # The first pass after one warm-up still runs ~35 % slow while the JIT
    # settles the iterative operators, so a second warm-up pass. Three
    # timed passes: the median of fifteen latencies is the middle sample
    # of one row; of ten it fell between two samples of one row and
    # measured a run-to-run spread of up to 0.23.
    return {"ops": ops, "table_rows": table_rows(con),
            "warmup_passes": 2, "min_passes": 3}


def _write_like(con, sql, schema_of, out):
    """Runs `sql` in DuckDB and writes the rows with the fixture's exact
    parquet schema, so Spark reads them with the fixture's types."""
    table = con.execute(sql).arrow()
    pq.write_table(table.cast(pq.read_schema(schema_of).remove_metadata()), out)


def ingest_mutate(seed, data_dir, in_dir):
    """Seeded append, merge, update and delete key sets over orders and
    lineitem, and the expected state after each step replayed in DuckDB."""
    rng = random.Random(seed)
    con = connect(data_dir)
    n = con.execute("SELECT MAX(o_orderkey) + 1 FROM orders").fetchone()[0]

    def span(width):
        lo = rng.randrange(0, n - width)
        return lo, lo + width

    frac = max(1, n // 1000)  # 0.1 % of the key space
    app = span(50 * frac)
    mrg_upd, mrg_ins = span(20 * frac), span(5 * frac)
    upd, dele, del_mor, upd_mor = (span(20 * frac), span(10 * frac),
                                   span(10 * frac), span(10 * frac))
    app_shift, ins_shift = 10 * n, 20 * n
    orders_p = table_path(data_dir, "orders")
    lineitem_p = table_path(data_dir, "lineitem")
    inputs = {"orders": orders_p, "lineitem": lineitem_p,
              "append_orders": f"{in_dir}/append_orders.parquet",
              "append_lineitem": f"{in_dir}/append_lineitem.parquet",
              "merge_orders": f"{in_dir}/merge_orders.parquet"}
    _write_like(con, f"SELECT * REPLACE (o_orderkey + {app_shift} AS o_orderkey) FROM orders "
                f"WHERE o_orderkey >= {app[0]} AND o_orderkey < {app[1]}",
                orders_p, inputs["append_orders"])
    _write_like(con, f"SELECT * REPLACE (l_orderkey + {app_shift} AS l_orderkey) FROM lineitem "
                f"WHERE l_orderkey >= {app[0]} AND l_orderkey < {app[1]}",
                lineitem_p, inputs["append_lineitem"])
    _write_like(con, "SELECT * REPLACE ('M' AS o_orderstatus, "
                "ROUND(o_totalprice * 1.05, 2) AS o_totalprice) FROM orders "
                f"WHERE o_orderkey >= {mrg_upd[0]} AND o_orderkey < {mrg_upd[1]} "
                f"UNION ALL SELECT * REPLACE (o_orderkey + {ins_shift} AS o_orderkey, "
                "'N' AS o_orderstatus) FROM orders "
                f"WHERE o_orderkey >= {mrg_ins[0]} AND o_orderkey < {mrg_ins[1]}",
                orders_p, inputs["merge_orders"])

    # expected state, replayed step by step
    con.execute("CREATE TABLE s_orders AS SELECT * FROM orders")
    con.execute("CREATE TABLE s_lineitem AS SELECT * FROM lineitem")
    ingested = {"orders": con.execute("SELECT COUNT(*) FROM s_orders").fetchone()[0],
                "lineitem": con.execute("SELECT COUNT(*) FROM s_lineitem").fetchone()[0]}
    written = {"ingest": ingested["orders"] * 2 + ingested["lineitem"]}

    def count(sql):
        return con.execute(sql).fetchone()[0]

    def rng_pred(c, r):
        return f"{c} >= {r[0]} AND {c} < {r[1]}"

    written["append"] = (count(f"SELECT COUNT(*) FROM '{inputs['append_orders']}'")
                         + count(f"SELECT COUNT(*) FROM '{inputs['append_lineitem']}'"))
    con.execute(f"INSERT INTO s_orders SELECT * FROM '{inputs['append_orders']}'")
    con.execute(f"INSERT INTO s_lineitem SELECT * FROM '{inputs['append_lineitem']}'")
    con.execute(f"CREATE TABLE m_src AS SELECT * FROM '{inputs['merge_orders']}'")
    written["merge"] = count("SELECT COUNT(*) FROM m_src")
    con.execute("CREATE TABLE m_new AS SELECT * FROM m_src WHERE o_orderkey NOT IN "
                "(SELECT o_orderkey FROM s_orders)")
    con.execute("UPDATE s_orders SET o_orderstatus = m.o_orderstatus, "
                "o_totalprice = m.o_totalprice FROM m_src m "
                "WHERE s_orders.o_orderkey = m.o_orderkey")
    con.execute("INSERT INTO s_orders SELECT * FROM m_new")
    con.execute("CREATE TABLE v_merge AS SELECT * FROM s_orders")
    written["update"] = count(f"SELECT COUNT(*) FROM s_lineitem WHERE {rng_pred('l_orderkey', upd)}")
    con.execute(f"UPDATE s_lineitem SET l_linestatus = 'U' WHERE {rng_pred('l_orderkey', upd)}")
    written["delete"] = count(f"SELECT COUNT(*) FROM s_orders WHERE {rng_pred('o_orderkey', dele)}")
    con.execute(f"DELETE FROM s_orders WHERE {rng_pred('o_orderkey', dele)}")
    written["delete_mor"] = count(
        f"SELECT COUNT(*) FROM s_lineitem WHERE {rng_pred('l_orderkey', del_mor)}")
    con.execute(f"DELETE FROM s_lineitem WHERE {rng_pred('l_orderkey', del_mor)}")
    written["update_mor"] = count(
        f"SELECT COUNT(*) FROM s_orders WHERE {rng_pred('o_orderkey', upd_mor)}")
    con.execute(f"UPDATE s_orders SET o_orderpriority = '0-MOR' "
                f"WHERE {rng_pred('o_orderkey', upd_mor)}")
    con.execute("CREATE TABLE mirror AS SELECT * FROM s_orders")
    # the mirror receives every orders row that differs from the ingest
    written["stream_merge"] = count(
        "SELECT COUNT(*) FROM (SELECT * FROM s_orders EXCEPT ALL SELECT * FROM orders)") + count(
        "SELECT COUNT(*) FROM (SELECT * FROM orders EXCEPT ALL SELECT * FROM s_orders)")
    written["compact"] = 0

    live = {"orders": count("SELECT COUNT(*) FROM s_orders"),
            "lineitem": count("SELECT COUNT(*) FROM s_lineitem"),
            "v_merge": count("SELECT COUNT(*) FROM v_merge"),
            "mirror": count("SELECT COUNT(*) FROM mirror")}
    reads = [
        ("read_orders", ORDERS_AGG.format(t="graft.main.orders"),
         ORDERS_AGG.format(t="s_orders"), {"orders": live["orders"]}),
        ("read_lineitem", LINEITEM_AGG.format(t="graft.main.lineitem"),
         LINEITEM_AGG.format(t="s_lineitem"), {"lineitem": live["lineitem"]}),
        ("read_orders_version", ORDERS_AGG.format(t="graft.main.orders VERSION AS OF {v_merge}"),
         ORDERS_AGG.format(t="v_merge"), {"orders": live["v_merge"]}),
        ("read_mirror", ORDERS_AGG.format(t="graft.main.orders_mirror"),
         ORDERS_AGG.format(t="mirror"), {"orders_mirror": live["mirror"]}),
    ]
    ops = [{"id": "ingest", "kind": "ingest"},
           {"id": "append", "kind": "append"},
           {"id": "merge", "kind": "merge"},
           {"id": "update", "kind": "update", "lo": upd[0], "hi": upd[1]},
           {"id": "delete", "kind": "delete", "lo": dele[0], "hi": dele[1]},
           {"id": "delete_mor", "kind": "delete_mor", "lo": del_mor[0], "hi": del_mor[1]},
           {"id": "update_mor", "kind": "update_mor", "lo": upd_mor[0], "hi": upd_mor[1]},
           {"id": "stream_merge", "kind": "stream_merge"},
           {"id": "compact", "kind": "compact"}]
    expected = {}
    for rid, sql, oracle, stored in reads:
        ops.append({"id": rid, "kind": "read", "sql": sql, "stored_rows": stored})
        expected[rid] = oracle
    for op in ops:
        if op["kind"] in written:
            op["user_rows"] = written[op["kind"]]
    # two timed passes: with one, the run-to-run spread of pass_s and
    # op_tail_ms measured 0.15-0.17 against 0.11 with two
    return {"ops": ops, "inputs": inputs, "expected_con": con, "expected_sql": expected,
            "warmup_passes": 1, "min_passes": 2,
            "live_rows": {"orders": live["orders"], "lineitem": live["lineitem"]},
            "table_rows": table_rows(con)}
