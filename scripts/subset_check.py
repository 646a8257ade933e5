#!/usr/bin/env python3
"""Routed-arm containment check for the banded pair-dedup family
(round 16): the banded route's DECLARED contract at scale is

  - q_dedup_near / q_jaccard_containment: every routed row is a row
    of the exact answer (same pair, bit-identical score) — the top-5
    neighborhood restriction of the ≥ tau pair set;
  - q_dup_clusters: the cluster ASSIGNMENT (doc_id -> canonical,
    keep) matches the exact arm's (CC over a spanning subgraph).

cross_check.py's frame-equality compare is the wrong shape for a
subset contract, so this script proves the two claims directly from
two graft.Verify output dirs:

  JAVA_TOOL_OPTIONS='-Dspark.graft.dedup.pairGateDocs=9223372036854775807' \
    scripts/run.sh graft.Verify /tmp/sf1.0 /tmp/xc_exact q_dedup_near,...
  JAVA_TOOL_OPTIONS='-Dspark.graft.dedup.pairGateDocs=1' \
    scripts/run.sh graft.Verify /tmp/sf1.0 /tmp/xc_banded q_dedup_near,...
  python3 scripts/subset_check.py /tmp/xc_exact /tmp/xc_banded

Exit code = number of violated claims.
"""
import os
import sys

import pandas as pd

exact_dir, banded_dir = sys.argv[1], sys.argv[2]
fails = 0


def load(d, name):
    p = os.path.join(d, name)
    return pd.read_parquet(p) if os.path.isdir(p) else None


for name, score in (("q_dedup_near", "jac"),
                    ("q_jaccard_containment", "cont")):
    ex, bd = load(exact_dir, name), load(banded_dir, name)
    if ex is None or bd is None:
        print(f"{name:28s} MISSING ARM (exact={ex is not None} "
              f"banded={bd is not None})")
        fails += 1
        continue
    # 6dp-string the score like check.py's canon so parquet
    # round-trips compare stably.
    def keyed(df):
        return set(zip(df["id1"], df["id2"],
                       df[score].map(lambda v: f"{float(v):.6f}")))
    eset, bset = keyed(ex), keyed(bd)
    alien = bset - eset
    if alien:
        print(f"{name:28s} SUBSET VIOLATION: {len(alien)} routed rows "
              f"not in exact; e.g. {sorted(alien)[:3]}")
        fails += 1
    else:
        print(f"{name:28s} OK: {len(bset)} routed rows all members of "
              f"the {len(eset)}-row exact answer")

name = "q_dup_clusters"
ex, bd = load(exact_dir, name), load(banded_dir, name)
if ex is None or bd is None:
    print(f"{name:28s} MISSING ARM")
    fails += 1
else:
    ex = ex.sort_values("doc_id").reset_index(drop=True)
    bd = bd.sort_values("doc_id").reset_index(drop=True)
    if len(ex) != len(bd):
        print(f"{name:28s} ROWCOUNT MISMATCH exact={len(ex)} banded={len(bd)}")
        fails += 1
    elif not ex.equals(bd):
        diff = (ex != bd).any(axis=1)
        n = int(diff.sum())
        print(f"{name:28s} ASSIGNMENT MISMATCH on {n} docs; first: "
              f"{ex[diff].head(3).to_dict('records')} vs "
              f"{bd[diff].head(3).to_dict('records')}")
        fails += 1
    else:
        print(f"{name:28s} OK: banded CC assignment == exact on "
              f"{len(ex)} docs")

print(f"\n{fails} violations")
sys.exit(fails)
