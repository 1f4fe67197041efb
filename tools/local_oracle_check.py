#!/usr/bin/env python3
"""Local replica of the driver's DuckDB oracle compare (rows/schema/hash)
for pre-validating new queries before a round snapshot.

Usage: python3 tools/local_oracle_check.py <verify_out_dir> <sf_dir> [name ...]
"""
import json, sys, hashlib
import duckdb, pyarrow.parquet as pq
import glob, os

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(round(v, 9))
    return str(v)

def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()

def fetch(con, sql):
    """Runs an oracle query once. Returns its column names, its rows as
    tuples (the values the hash canonicalizes, as for the Spark side) and
    the pandas frame DuckDB's own `.df()` would build (the driver's dtypes),
    all from the one fetched Arrow table."""
    tbl = con.execute(sql).fetch_arrow_table()
    rows = list(zip(*(c.to_pylist() for c in tbl.columns)))
    return tbl.column_names, rows, con.from_arrow(tbl).df()


def ndarray_columns(df):
    """Object columns whose first non-null cell is a numpy array (the driver
    crashes sorting them); a leading None must not hide one."""
    import numpy as np
    out = []
    for c in df.columns:
        if df[c].dtype != object:
            continue
        first = df[c].first_valid_index()
        if first is not None and isinstance(df[c].loc[first], np.ndarray):
            out.append(c)
    return out


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    fails = []
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        spark_files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not spark_files:
            print(f"{name}: NO SPARK OUTPUT")
            fails.append(name)
            continue
        st = pq.read_table(spark_files[0])
        s_cols = st.column_names
        s_rows = [tuple(r[c] for c in s_cols) for r in st.to_pylist()]
        try:
            o_cols, o_rows, res_df = fetch(con, sql)
        except Exception as e:
            print(f"{name}: ORACLE ERROR {e}")
            fails.append(name)
            continue
        ok_rows = len(s_rows) == len(o_rows)
        ok_schema = sorted(s_cols) == sorted(o_cols)
        ok_hash = ok_schema and table_hash(s_cols, s_rows) == table_hash(o_cols, o_rows)
        # Driver-comparator simulation: the driver loads both sides into
        # pandas and sort_values() the whole frame. Two failure classes the
        # value-level hash above cannot see:
        #  (a) array/ndarray cells -> pandas Categorical crash (unhashable)
        #  (b) dtype drift: DuckDB HUGEINT (un-cast sum over BIGINT)
        #      materializes as float64/object while Spark emits int64 ->
        #      canon() strings diverge ("5.0e+10" vs "50000000000").
        dtype_warn = []
        try:
            sdf = st.to_pandas()
            odf = res_df if res_df is not None else None
            for df, side in ((sdf, "spark"), (odf, "oracle")):
                if df is None:
                    continue
                for c in ndarray_columns(df):
                    dtype_warn.append(f"{side}.{c}=ndarray(DRIVER CRASH)")
            if odf is not None:
                for c in set(sdf.columns) & set(odf.columns):
                    sk, ok_ = sdf[c].dtype.kind, odf[c].dtype.kind
                    if {sk, ok_} == {"i", "f"} or (sk == "i" and ok_ == "O") \
                            or (sk == "O" and ok_ == "i"):
                        dtype_warn.append(
                            f"{c}: spark={sdf[c].dtype} oracle={odf[c].dtype}")
        except Exception as e:  # never let the simulation mask the result
            dtype_warn.append(f"simulation-error:{e}")
        status = "OK" if (ok_rows and ok_schema and ok_hash and not dtype_warn) else "FAIL"
        print(f"{name}: {status} rows={len(s_rows)}/{len(o_rows)} schema={ok_schema} hash={ok_hash}"
              + (f" DTYPE={dtype_warn}" if dtype_warn else ""))
        if status == "FAIL":
            fails.append(name)
    print("FAILURES:", fails if fails else "none")
    return 1 if fails else 0

if __name__ == "__main__":
    sys.exit(main())
