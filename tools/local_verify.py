#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate: run graft.Verify first
(sbt "runMain graft.Verify <sfDir> <outDir>"), then this script compares each
<outDir>/<name> parquet against the DuckDB oracle in <outDir>/oracle_sql.json.

Usage: python3 tools/local_verify.py [sfDir] [outDir] [--hashes FILE]

--hashes FILE also writes one line per query, "<name> <sha256>", hashing the
query's output in written order (part files sorted by name, rows in file
order), and a last line with the sha256 of oracle_sql.json. Two checkouts
produced identical outputs iff their hash files are equal (`diff`).
"""
import hashlib, json, sys, glob, math
import duckdb

hashes = None
if "--hashes" in sys.argv:
    i = sys.argv.index("--hashes")
    hashes = sys.argv[i + 1]
    del sys.argv[i:i + 2]
sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"


def output_sha256(name):
    """sha256 of <out>/<name>'s schema and rows, in written order."""
    import pyarrow.parquet as pq
    h = hashlib.sha256()
    for f in sorted(glob.glob(f"{out}/{name}/*.parquet")):
        t = pq.read_table(f)
        h.update(repr([(fl.name, str(fl.type)) for fl in t.schema]).encode())
        for row in t.to_pylist():
            h.update(repr(row).encode())
    return h.hexdigest()


con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

oracle = json.load(open(f"{out}/oracle_sql.json"))
fail = 0
for name, sql in sorted(oracle.items()):
    files = glob.glob(f"{out}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output"); fail += 1; continue
    try:
        got = con.execute(f"SELECT * FROM '{out}/{name}/*.parquet'").df()
        exp = con.execute(sql).df()
    except Exception as e:
        print(f"FAIL {name}: {e}"); fail += 1; continue
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        print(f"FAIL {name}: columns {list(got.columns)} vs {list(exp.columns)}")
        fail += 1; continue
    if len(got) != len(exp):
        print(f"FAIL {name}: rows {len(got)} vs {len(exp)}"); fail += 1; continue
    got = got.sort_values(by=list(got.columns), ignore_index=True)
    exp = exp.sort_values(by=list(exp.columns), ignore_index=True)
    bad = []
    for c in got.columns:
        a, b = got[c], exp[c]
        for i in range(len(a)):
            x, y = a.iloc[i], b.iloc[i]
            xn = isinstance(x, float) and math.isnan(x)
            yn = isinstance(y, float) and math.isnan(y)
            if xn and yn: continue
            if x is None and y is None: continue
            eq = (x == y)
            try:
                eq = bool(eq)
            except Exception:
                eq = str(x) == str(y)
            if not eq:
                bad.append((c, i, x, y))
    if bad:
        print(f"FAIL {name}: {len(bad)} cell diffs, first 5: {bad[:5]}")
        fail += 1
    else:
        print(f"PASS {name} ({len(got)} rows)")
print(f"{'ALL PASS' if fail == 0 else f'{fail} FAILURES'} / {len(oracle)} queries")
if hashes:
    with open(hashes, "w") as fh:
        for name in sorted(oracle):
            fh.write(f"{name} {output_sha256(name)}\n")
        with open(f"{out}/oracle_sql.json", "rb") as oj:
            fh.write(f"oracle_sql.json {hashlib.sha256(oj.read()).hexdigest()}\n")
sys.exit(1 if fail else 0)
