#!/usr/bin/env python3
"""Compare two Verify output dirs bit-exactly (atol=0) to detect
run-to-run nondeterminism, or check a Verify output against the goldens.
Usage: compare_runs.py outA outB

A query's output is read from <dir>/<name>/*.parquet (a Verify output)
or <dir>/<name>.parquet (a golden file), so `compare_runs.py golden out`
checks every golden that `out` holds. Names present on one side only are
listed as skipped."""
import duckdb, os, sys


def outputs(d):
    """Query name -> parquet glob of every q_* output in `d`."""
    out = {}
    for e in os.listdir(d):
        if not e.startswith('q_'):
            continue
        if os.path.isdir(os.path.join(d, e)):
            out[e] = f"{d}/{e}/*.parquet"
        elif e.endswith('.parquet'):
            out[e[:-len('.parquet')]] = f"{d}/{e}"
    return out


a, b = sys.argv[1], sys.argv[2]
pa, pb = outputs(a), outputs(b)
con = duckdb.connect()
names = sorted(set(pa) & set(pb))
bad = 0
for name in names:
    try:
        da = con.sql(f"SELECT * FROM '{pa[name]}'").df()
        db = con.sql(f"SELECT * FROM '{pb[name]}'").df()
        cols = sorted(da.columns)
        da = da[cols].sort_values(by=cols).reset_index(drop=True)
        db = db[cols].sort_values(by=cols).reset_index(drop=True)
        if da.shape != db.shape:
            print(f"{name}: SHAPE {da.shape} vs {db.shape}"); bad += 1; continue
        diffs = []
        for c in cols:
            x, y = da[c], db[c]
            if x.dtype.kind == 'f':
                neq = ~((x == y) | (x.isna() & y.isna()))
                if neq.any():
                    mx = float(abs(x[neq] - y[neq]).max())
                    diffs.append(f"{c}(n={int(neq.sum())},maxabs={mx:.3e})")
            else:
                neq = x.astype(str) != y.astype(str)
                if neq.any():
                    diffs.append(f"{c}(n={int(neq.sum())})")
        if diffs:
            print(f"{name}: DIFF {', '.join(diffs)}"); bad += 1
        else:
            print(f"{name}: identical rows={len(da)}")
    except Exception as e:
        print(f"{name}: ERROR {str(e)[:150]}"); bad += 1
for side, only in ((a, sorted(set(pa) - set(pb))), (b, sorted(set(pb) - set(pa)))):
    if only:
        print(f"skipped, only in {side}: {', '.join(only)}")
print(f"{len(names)} compared, {bad} differ")
sys.exit(1 if bad or not names else 0)
