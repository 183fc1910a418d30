#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: read Verify's parquet dumps
and oracle_sql.json, run each oracle in DuckDB over the same testdata, and
compare (columns sorted by name, rows in result order). Dev tool only — the
shipped library has no Python dependency.

Usage: python3 tools/check.py <sf_dir> <out_dir> [name ...]
Entry names after the two dirs (as Verify takes them) restrict the check to
those entries; with none, every oracle entry is checked. A named entry with
no oracle (rows-only, or a typo) is reported as SKIP. The exit code is 1 if
any checked entry fails."""
import json, sys, glob
import duckdb

TABLES = ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]

def main(sf_dir, out_dir, names=()):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    if names:
        for n in sorted(set(names) - set(oracle)):
            print(f"SKIP {n}: no oracle SQL")
        oracle = {n: q for n, q in oracle.items() if n in set(names)}
    n_pass = n_fail = 0
    for name in sorted(oracle):
        files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet({files!r})").fetchdf()
            want = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        got = got[sorted(got.columns)]
        want = want[sorted(want.columns)]
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: cols {list(got.columns)} vs {list(want.columns)}")
            n_fail += 1; continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} vs {len(want)}"); n_fail += 1; continue
        bad = None
        for c in got.columns:
            a, b = got[c], want[c]
            if str(a.dtype) != str(b.dtype):
                pass  # dtype drift noted below only if values differ as strings
            eq = (a.astype(str).fillna("NULL").values == b.astype(str).fillna("NULL").values)
            if not eq.all():
                i = (~eq).argmax()
                bad = (c, str(a.dtype), str(b.dtype), i, a.iloc[i], b.iloc[i])
                break
        if bad:
            c, dta, dtb, i, va, vb = bad
            print(f"FAIL {name}: col {c} ({dta} vs {dtb}) row {i}: spark={va!r} duckdb={vb!r}")
            n_fail += 1
        else:
            # report dtype drift even when string-equal (driver may be stricter)
            drift = [f"{c}:{got[c].dtype}/{want[c].dtype}" for c in got.columns
                     if str(got[c].dtype) != str(want[c].dtype)]
            tag = f"  [dtype drift: {', '.join(drift)}]" if drift else ""
            print(f"PASS {name} ({len(got)} rows){tag}")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001",
                  sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out",
                  sys.argv[3:]))
