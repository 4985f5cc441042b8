"""Output check: each query's `count()` against DuckDB's row count for the
engine's own oracle SQL (`SparkEntry.oracleSql`) over the same parquet
inputs. Counts over the fixed tables are computed once per checkout and
cached; oracle SQL that reads files the query itself wrote (paths under
the harness's per-process work directory) is counted afresh on every run. Rows-only queries (no oracle SQL) are checked for a
non-empty result only."""
import glob
import hashlib
import json
import os

import duckdb


def _connect(data_dir):
    con = duckdb.connect(config={"threads": 4, "memory_limit": "2GB"})
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        table = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{f}'")
    return con


def counts(sqls, data_dir, cache_file, volatile_prefix):
    """Row count of each oracle SQL (name -> sql) over the tables in
    `data_dir`, cached in `cache_file`; an SQL that fails in DuckDB maps to
    its error text."""
    cache = json.load(open(cache_file)) if os.path.exists(cache_file) else {}
    out, con, dirty = {}, None, False
    for name, sql in sorted(sqls.items()):
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key in cache:
            out[name] = cache[key]
            continue
        con = con or _connect(data_dir)
        try:
            n = con.execute(f"SELECT count(*) FROM ({sql.strip().rstrip(';')}) AS oracle").fetchone()[0]
        except duckdb.Error as e:
            n = f"oracle error: {str(e).splitlines()[0][:200]}"
        out[name] = n
        if volatile_prefix not in sql:
            cache[key], dirty = n, True
    if con is not None:
        con.close()
    if dirty:
        tmp = cache_file + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(cache, fh)
        os.replace(tmp, cache_file)
    return out


def check(record, expected, rows_only):
    """None if the query's output passes the check, else the reason."""
    if "error_class" in record:
        return f"{record['error_class']} in {record['failed_phase']}"
    if record["name"] in rows_only:
        return None if record["count"] > 0 else "rows-only query returned no rows"
    want = expected.get(record["name"])
    if want is None:
        return "no oracle SQL"
    if isinstance(want, str):
        return want
    return None if record["count"] == want else f"count {record['count']} != oracle {want}"
