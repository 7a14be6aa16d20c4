"""Oracle check: each query's whole output (one parquet file, row order
kept) against its `SparkEntry.oracleSql` run in DuckDB over the same
tables, with the row, schema and value comparison of tools/check.py:
columns sorted by name, then row count, values (NULL equals NULL) and
dtypes must all match."""
import glob
import os

import duckdb

import datagen


def compare(got, exp):
    """status of one query: ok, schema_mismatch, rowcount_mismatch,
    value_mismatch or dtype_mismatch (with a detail)."""
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        return {"status": "schema_mismatch", "got": list(got.columns),
                "exp": list(exp.columns)}
    if len(got) != len(exp):
        return {"status": "rowcount_mismatch", "got": len(got),
                "exp": len(exp)}
    for c in got.columns:
        a, b = got[c], exp[c]
        try:
            eq = (a.values == b.values) | (a.isna().values & b.isna().values)
        except Exception:
            eq = a.astype(str).values == b.astype(str).values
        if not eq.all():
            i = int((~eq).argmax())
            return {"status": "value_mismatch", "col": c, "row": i,
                    "got": repr(a.iloc[i]), "exp": repr(b.iloc[i])}
    dg = [str(d) for d in got.dtypes]
    de = [str(d) for d in exp.dtypes]
    if dg != de:
        return {"status": "dtype_mismatch", "got": dg, "exp": de}
    return {"status": "ok"}


def check(data_dir, out_dir, names, oracles):
    """{query: verdict} for every name, with the output's row count when
    the oracle ran; a query without output or without an oracle is not
    ok."""
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(data_dir, t)}.parquet'")
    out = {}
    for q in names:
        files = glob.glob(os.path.join(out_dir, q, "*.parquet"))
        if not files:
            out[q] = {"status": "no_output"}
        elif q not in oracles:
            out[q] = {"status": "no_oracle"}
        else:
            try:
                got = con.sql(f"SELECT * FROM '{os.path.join(out_dir, q)}/*.parquet'").df()
                exp = con.sql(oracles[q]).df()
                out[q] = {**compare(got, exp), "rows": len(got)}
            except duckdb.Error as e:
                out[q] = {"status": "oracle_error", "error": str(e)[:300]}
    con.close()
    return out
