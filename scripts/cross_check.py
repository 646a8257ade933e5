#!/usr/bin/env python3
"""Engine-vs-engine cross-check for queries whose DuckDB oracle form
is infeasible at large sf (round-11 verdict #4: the dense-embedding
pair enumerations q_lof / q_dbscan have no sound SQL pruning lemma,
so their brute-force oracles blow the sf1.0 budget).

Compares two `graft.Verify` output dirs query-by-query with the same
canonicalization as check.py (columns sorted by name, floats at 6 dp,
-0.0 == 0.0). The intended arms:

  A: the DEFAULT posture (size-gated auto ANN/sketch routing — what a
     deployment runs), e.g.
       scripts/run.sh graft.Verify /tmp/sf1.0 /tmp/xc_auto q_lof,q_dbscan
  B: the PINNED EXACT arm (the declared semantics the small-sf DuckDB
     oracles hash-checked), e.g.
       JAVA_TOOL_OPTIONS='-Dspark.graft.ann.autoThresholdBytes=9223372036854775807' \
         scripts/run.sh graft.Verify /tmp/sf1.0 /tmp/xc_exact q_lof,q_dbscan

A match proves the scale posture returns the oracle-anchored answer at
a sf the oracle itself cannot reach; the exact arm's own correctness
is anchored by the DuckDB hash-match at sf0.01 + sf0.1.

Usage: python3 scripts/cross_check.py <outDirA> <outDirB> [keys_csv]
Exit code = number of mismatches.
"""
import os, sys
import pandas as pd

a_dir, b_dir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].reset_index(drop=True)

    def cell(v, is_dt=False):
        if isinstance(v, float):
            if v == 0:
                v = 0.0
            return f"{v:.6f}"
        s = str(v)
        if is_dt and s.endswith(" 00:00:00"):
            return s[:-9]
        return s

    out = pd.DataFrame(index=df.index)
    for c in df.columns:
        is_dt = pd.api.types.is_datetime64_any_dtype(df[c])
        out[c] = df[c].map(lambda v: cell(v, is_dt))
    return out


names = sorted(d for d in os.listdir(a_dir)
               if os.path.isdir(os.path.join(a_dir, d))
               and (only is None or d in only))
fails = 0
for name in names:
    pb = os.path.join(b_dir, name)
    if not os.path.isdir(pb):
        print(f"{name:28s} MISSING in {b_dir}")
        fails += 1
        continue
    ga = canon(pd.read_parquet(os.path.join(a_dir, name)))
    gb = canon(pd.read_parquet(pb))
    if sorted(ga.columns) != sorted(gb.columns):
        print(f"{name:28s} COLUMN MISMATCH a={sorted(ga.columns)} "
              f"b={sorted(gb.columns)}")
        fails += 1
    elif len(ga) != len(gb):
        print(f"{name:28s} ROWCOUNT MISMATCH a={len(ga)} b={len(gb)}")
        fails += 1
    elif not ga.equals(gb):
        diff = (ga != gb).any(axis=1)
        idx = diff[diff].index[:3]
        print(f"{name:28s} VALUE MISMATCH ({diff.sum()} rows); first diffs:")
        for i in idx:
            print(f"  row {i}: a={ga.loc[i].to_dict()}")
            print(f"  row {i}: b={gb.loc[i].to_dict()}")
        fails += 1
    else:
        print(f"{name:28s} MATCH ({len(ga)} rows)")

print(f"\n{len(names)} queries, {fails} mismatches")
sys.exit(fails)
