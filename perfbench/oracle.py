"""Correctness check: each query's dumped rows against its DuckDB twin.

The comparison itself is the repository's own `tools/oracle_check.py`
(imported, not copied), so the benchmark judges results exactly the way
the correctness gate does.
"""
import glob
import importlib.util
import os

import duckdb


def _oracle_check():
    path = os.path.join(os.getcwd(), "tools", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _sorted_rows(df):
    key = df.astype(str)
    return df.loc[key.sort_values(list(key.columns)).index].reset_index(drop=True)


def run_twins(data_dir, twins):
    """Evaluate each DuckDB twin on the generated tables. Returns
    {query: DataFrame or the exception it raised}."""
    oc = _oracle_check()
    con = duckdb.connect()
    for t in oc.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = {}
    for name, sql in twins.items():
        try:
            out[name] = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001 - reported as the cause
            out[name] = e
    con.close()
    return out


def check(dump_dir, names, expected, dump_errors):
    """Compare each query's dumped rows with its twin's (`expected`, from
    run_twins). Returns {query: (ok, cause, expected_rows)};
    `expected_rows` is the row count every timed `count()` must
    reproduce: the twin's or, for a query with no twin, the dumped
    result's (a rows-only check)."""
    oc = _oracle_check()
    out = {}
    for name in names:
        if name in dump_errors:
            out[name] = (False, f"threw: {dump_errors[name]}", None)
            continue
        files = glob.glob(os.path.join(dump_dir, name, "*.parquet"))
        spark_df = duckdb.sql(f"SELECT * FROM read_parquet({files!r})").df()
        duck_df = expected.get(name)
        if duck_df is None:
            ok = len(spark_df) > 0
            out[name] = (ok, f"rows-only check, {len(spark_df)} rows",
                         len(spark_df))
            continue
        if isinstance(duck_df, Exception):
            out[name] = (False, f"duckdb error: {duck_df}", None)
            continue
        ok, msg = oc.compare(spark_df, duck_df)
        if not ok and len(spark_df) == len(duck_df):
            try:
                same_rows, _ = oc.compare(_sorted_rows(spark_df),
                                          _sorted_rows(duck_df))
            except Exception:  # noqa: BLE001 - unsortable, keep first cause
                same_rows = False
            if same_rows:
                msg = ("same rows in another order: the twin's ORDER BY "
                       f"ties on the generated data ({msg})")
        out[name] = (ok, msg, len(duck_df))
    return out
