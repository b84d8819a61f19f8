"""DuckDB oracle check for the dashboards workload: each panel's Spark
result must equal its ``SparkEntry.oracleSql`` text run by DuckDB over
the same parquet tables (columns sorted by name, rows sorted, exact
values)."""
import json
import math
import os

TABLES = ["events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return repr(v)


def _key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def oracle_results(data_dir, sql_by_panel):
    """Run every oracle query once; map panel -> (columns, row key)."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    out = {}
    for name, sql in sorted(sql_by_panel.items()):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        out[name] = (sorted(cols), _key(cur.fetchall(), cols))
    return out


def spark_result(path):
    import duckdb
    cur = duckdb.connect().execute(f"SELECT * FROM '{path}/*.parquet'")
    cols = [d[0] for d in cur.description]
    return sorted(cols), _key(cur.fetchall(), cols)


def compare(data_dir, work_dir, cache_path):
    """Map panel -> None when it matches its oracle, else a reason. The
    oracle side depends only on the inputs, so it is cached per input
    set in ``cache_path``."""
    sqls = json.load(open(os.path.join(work_dir, "oracle_sql.json")))
    if os.path.exists(cache_path):
        expected = {k: (v[0], [tuple(r) for r in v[1]]) for k, v in json.load(open(cache_path)).items()}
    else:
        expected = oracle_results(data_dir, sqls)
        with open(cache_path + ".tmp", "w") as f:
            json.dump(expected, f)
        os.replace(cache_path + ".tmp", cache_path)
    verdict = {}
    for name in sqls:
        cols, rows = spark_result(os.path.join(work_dir, "panels", name))
        ecols, erows = expected[name]
        if cols != ecols:
            verdict[name] = f"columns differ: {cols} vs {ecols}"
        elif rows != erows:
            verdict[name] = f"rows differ ({len(rows)} spark, {len(erows)} oracle)"
        else:
            verdict[name] = None
    return verdict
