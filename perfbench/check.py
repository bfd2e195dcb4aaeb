"""Output checks for one benchmark pass, run after the timed region.

Each check returns a list of (operation, error) pairs, one per attempted
operation: a table of a Runner call or a curation key. `error` is None when
the operation's outputs are correct.
"""
import glob
import hashlib
import json
import math
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

CHECKED = ("Size", "Completeness", "Minimum", "Maximum", "Sum", "Mean",
           "MaxLength", "MinLength")


def _q(s):
    return "'" + s.replace("'", "''") + "'"


def _ident(s):
    return '"' + s.replace('"', '""') + '"'


def _column_class(pa_type):
    """The engine's ColumnClass of a parquet column type."""
    t = pa.types
    if t.is_string(pa_type) or t.is_large_string(pa_type):
        return "text"
    if t.is_integer(pa_type) or t.is_floating(pa_type) or t.is_decimal(pa_type):
        return "numeric"
    if t.is_boolean(pa_type) or t.is_date(pa_type):
        return "castable"
    return "skipped"


def expected_stats(con, path, cast_unsupported):
    """Independent recomputation of the checked scan metrics of one table,
    following the engine's per-type metric rules. Returns
    {(instance, name): value} with null results left out."""
    schema = pq.read_schema(path)
    src = f"read_parquet({_q(path)})"
    exprs = [("*", "Size", "CAST(COUNT(*) AS DOUBLE)")]
    for field in schema:
        cls = _column_class(field.type)
        if cls == "castable" and cast_unsupported:
            cls = "text"
        c = _ident(field.name)
        if cls == "numeric":
            # the engine sums DECIMAL(38,6)-quantized addends and converts the
            # exact total to the nearest double; DuckDB's direct
            # DECIMAL-to-DOUBLE cast can miss that by an ulp, its text
            # round trip does not
            dec_sum = f"CAST(CAST(SUM(CAST({c} AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)"
            exprs += [(field.name, "Minimum", f"CAST(MIN({c}) AS DOUBLE)"),
                      (field.name, "Maximum", f"CAST(MAX({c}) AS DOUBLE)"),
                      (field.name, "Sum", dec_sum),
                      (field.name, "Mean", f"{dec_sum} / COUNT({c})")]
        elif cls == "text":
            ln = f"length(CAST({c} AS VARCHAR))"
            exprs += [(field.name, "MaxLength", f"CAST(MAX({ln}) AS DOUBLE)"),
                      (field.name, "MinLength", f"CAST(MIN({ln}) AS DOUBLE)")]
        if cls in ("numeric", "text"):
            exprs.append((field.name, "Completeness",
                          f"CAST(COUNT({c}) AS DOUBLE) / COUNT(*)"))
    row = con.execute("SELECT " + ", ".join(e for _, _, e in exprs) + f" FROM {src}").fetchone()
    return {(inst, name): v for (inst, name, _), v in zip(exprs, row) if v is not None}


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return round(a, 6) == round(b, 6)


def check_runner(result, data_dir):
    con = duckdb.connect()
    outcomes = []
    stats_cache = {}
    runs = result.get("runs", [])
    catalog = sorted(os.path.basename(p)[:-len(".parquet")]
                     for p in glob.glob(os.path.join(data_dir, "*.parquet")))
    for i, run in enumerate(runs):
        last = i == len(runs) - 1
        prefix = run["stats_prefix"] + "__"
        # every table of the catalog is published, and nothing else
        for table in sorted(set(catalog) ^ set(run["tables"])):
            outcomes.append((f"{run['run_ts']}/{table}",
                             "not returned by Runner" if table in catalog
                             else "returned by Runner but not in the catalog"))
        for table, count in sorted(run["tables"].items()):
            op = f"{run['run_ts']}/{table}"
            try:
                outcomes.append((op, _check_table(con, run, table, count, data_dir, prefix,
                                                  last, stats_cache)))
            except Exception as e:  # a check that cannot run is a failed check
                outcomes.append((op, f"check error: {e}"))
    return outcomes


def _check_table(con, run, table, count, data_dir, prefix, last, stats_cache):
    if count < 0:
        return "Runner reported the table as failed"
    files = glob.glob(os.path.join(run["metrics_dir"], f"db_name={run['db_name']}",
                                   f"table_name={table}", "*.parquet"))
    if not files:
        return "no parquet sink output"
    rows = con.execute(
        "SELECT entity, instance, name, value FROM read_parquet(?, hive_partitioning = false) "
        "WHERE profiler_run_ts = CAST(? AS TIMESTAMP)", [files, run["run_ts"]]).fetchall()
    if len(rows) != count:
        return f"sink holds {len(rows)} rows for this run, Runner returned {count}"

    if last:
        # the metadata store holds exactly Sinks.toParams(rows) under the prefix
        table_params = {prefix + n: v for e, _, n, v in rows if e == "Dataset"}
        col_params = {}
        for e, inst, n, v in rows:
            if e == "Column":
                col_params.setdefault(inst, {})[prefix + n] = v
        path = os.path.join(run["metadata_dir"], f"{table}.json")
        with open(path) as f:
            meta = json.load(f)
        got_table = {k: v for k, v in meta["tableParameters"].items() if k.startswith(prefix)}
        got_cols = {c: {k: v for k, v in ps.items() if k.startswith(prefix)}
                    for c, ps in meta["columns"].items()}
        got_cols = {c: ps for c, ps in got_cols.items() if ps}
        if set(got_table) != set(table_params) or set(got_cols) != set(col_params):
            return "metadata keys differ from the published metrics"
        for want, got in [(table_params, got_table)] + [
                (col_params[c], got_cols[c]) for c in col_params]:
            if set(want) != set(got):
                return "metadata column keys differ from the published metrics"
            for k, v in want.items():
                g = float(got[k])
                if not (g == v or (math.isnan(g) and math.isnan(v))):
                    return f"metadata {k} = {got[k]}, sink = {v}"

    path = os.path.join(data_dir, f"{table}.parquet")
    key = (path, run["profile_unsupported_types"])
    if key not in stats_cache:
        stats_cache[key] = expected_stats(con, path, run["profile_unsupported_types"])
    want = stats_cache[key]
    got = {(inst, n): v for _, inst, n, v in rows if n in CHECKED}
    if set(got) != set(want):
        missing = sorted(set(want) - set(got))[:3]
        extra = sorted(set(got) - set(want))[:3]
        return f"checked metrics differ: missing {missing}, unexpected {extra}"
    for k, v in want.items():
        if not _same(got[k], float(v)):
            return f"{k[0]}.{k[1]} = {got[k]}, DuckDB = {v}"
    return None


def _oracle_path(cache_dir, sql):
    return os.path.join(cache_dir, hashlib.sha256(sql.encode()).hexdigest() + ".parquet")


def oracle_result(data_dir, cache_dir, sql):
    """The DuckDB oracle's result for `sql` over the tables of `data_dir`.
    It depends only on the generated inputs, so it is computed once per
    input set and kept in `cache_dir`."""
    path = _oracle_path(cache_dir, sql)
    if not os.path.exists(path):
        con = duckdb.connect()
        for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            # small batches: DuckDB splits a scan's work by batch, and the
            # per-document list work of the substring queries is most of it
            t = pq.read_table(p)
            con.register(os.path.basename(p)[:-len(".parquet")],
                         pa.Table.from_batches(t.to_batches(max_chunksize=64), t.schema))
        os.makedirs(cache_dir, exist_ok=True)
        pq.write_table(con.execute(sql).arrow(), path + ".tmp")
        os.replace(path + ".tmp", path)
    return pq.read_table(path).to_pandas()


def check_keys(result, data_dir, cache_dir):
    """Each key's result against its DuckDB oracle, cell by cell on the
    stringified values with columns sorted by name (the engine's own oracle
    gate semantics). Both sides pass through parquet and pyarrow alike."""
    # the oracle queries of this input set that are not cached yet, computed
    # side by side
    missing = {k["oracle_sql"] for k in result.get("keys", [])
               if k.get("oracle_sql") and not os.path.exists(_oracle_path(cache_dir, k["oracle_sql"]))}
    if missing:
        with ThreadPoolExecutor(len(missing)) as pool:
            for f in [pool.submit(oracle_result, data_dir, cache_dir, sql) for sql in missing]:
                f.exception()  # a failing oracle fails its key below
    outcomes = []
    for k in result.get("keys", []):
        try:
            outcomes.append((k["key"], _check_key(k, data_dir, cache_dir)))
        except Exception as e:
            outcomes.append((k["key"], f"check error: {e}"))
    return outcomes


def _check_key(k, data_dir, cache_dir):
    if k.get("error"):
        return k["error"]
    files = sorted(glob.glob(os.path.join(k["dir"], "*.parquet")))
    if not files:
        return "no result written"
    spark = pq.read_table(files[0]).to_pandas()
    if not k.get("oracle_sql"):
        return None if len(spark) > 0 else "empty result and no oracle"
    duck = oracle_result(data_dir, cache_dir, k["oracle_sql"])
    s = spark[sorted(spark.columns)]
    d = duck[sorted(duck.columns)]
    if list(s.columns) != list(d.columns):
        return f"columns differ: {list(s.columns)} vs {list(d.columns)}"
    if len(s) != len(d):
        return f"row counts differ: {len(s)} vs {len(d)}"
    for col in s.columns:
        for i, (a, b) in enumerate(zip(list(s[col]), list(d[col]))):
            a_nan = a is None or (isinstance(a, float) and math.isnan(a))
            b_nan = b is None or (isinstance(b, float) and math.isnan(b))
            if a_nan and b_nan:
                continue
            if a_nan != b_nan or str(a) != str(b):
                return f"row {i} column {col}: {a!r} vs oracle {b!r}"
    return None
