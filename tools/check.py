#!/usr/bin/env python3
"""Local self-check harness mirroring the driver's correctness gate:
runs each oracle SQL in DuckDB over the same parquet tables and compares
with the Spark result dumped by graft.Verify (columns sorted by name,
rows sorted, value-level compare). Dev tool only — not part of the
Scala library.

Each PASS/FAIL line ends with the query's elapsed seconds (DuckDB oracle
plus the compare), and the run ends with the 10 slowest queries.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [name,name,...]
"""
import json, sys, math, time
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif s.dtype == object and len(s) and isinstance(s.dropna().iloc[0] if s.dropna().size else None, (bytes,)):
            pass
        else:
            try:
                if pd.api.types.is_float_dtype(s):
                    df[c] = s.round(9)
                elif pd.api.types.is_integer_dtype(s):
                    df[c] = s.astype("Int64")
                elif str(s.dtype).startswith("decimal") or (s.dtype == object and s.dropna().map(lambda v: type(v).__name__ == "Decimal").all() and s.dropna().size):
                    df[c] = s.astype(float).round(9)
            except Exception:
                pass
    df = df.sort_values(by=list(df.columns), ignore_index=True, kind="mergesort", na_position="last")
    return df


def main(sf_dir: str, out_dir: str, only=None) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    elapsed = {}  # query -> seconds

    def report(name, t0, line):
        elapsed[name] = time.monotonic() - t0
        print(f"{line} [{elapsed[name]:.1f} s]", flush=True)

    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
            exp = con.execute(sql).df()
            g, e = norm(got), norm(exp)
            if list(g.columns) != list(e.columns):
                report(name, t0, f"FAIL {name}: columns {list(g.columns)} != {list(e.columns)}")
                n_fail += 1
                continue
            if len(g) != len(e):
                report(name, t0, f"FAIL {name}: rows {len(g)} != {len(e)}")
                n_fail += 1
                continue
            diff_cols = []
            for c in g.columns:
                a, b = g[c], e[c]
                if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
                    ok = ((a.astype(float) - b.astype(float)).abs().fillna(0) < 1e-9) | (a.isna() & b.isna())
                else:
                    ok = (a == b) | (a.isna() & b.isna())
                if not ok.all():
                    i = ok[~ok].index[0]
                    diff_cols.append(f"{c} (e.g. row {i}: {a[i]!r} vs {b[i]!r})")
            if diff_cols:
                report(name, t0, f"FAIL {name}: value diff in {diff_cols}")
                n_fail += 1
            else:
                report(name, t0, f"PASS {name} ({len(g)} rows)")
                n_pass += 1
        except Exception as ex:
            report(name, t0, f"FAIL {name}: {type(ex).__name__}: {ex}")
            n_fail += 1
    print("\n10 slowest:")
    for name, s in sorted(elapsed.items(), key=lambda kv: -kv[1])[:10]:
        print(f"  {s:8.1f} s  {name}")
    print(f"\n{n_pass} pass / {n_fail} fail", flush=True)
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None))
