#!/usr/bin/env python3
"""Prune <verifyOutDir>/oracle_sql.json to the result dirs actually
present, so tools/check.py on a SUBSET Verify run (local iteration)
doesn't execute all ~500 DuckDB oracles.

The original full map is preserved as oracle_sql.full.json, written only
by a prune that removes at least one entry and never overwritten by a
re-prune, so a later FULL check against the same output dir can't
silently validate only the pruned subset. When every oracle already has
a result dir, nothing is pruned and no backup is written: an
already-pruned map can never be saved as the "full" one.
Restore with: cp oracle_sql.full.json oracle_sql.json

Usage: python3 tools/prune_oracles.py <verifyOutDir>
"""
import json
import os
import shutil
import sys

out_dir = sys.argv[1]
path = f"{out_dir}/oracle_sql.json"
backup = f"{out_dir}/oracle_sql.full.json"
oracle = json.load(open(path))
dirs = {d for d in os.listdir(out_dir) if os.path.isdir(f"{out_dir}/{d}")}
pruned = {k: v for k, v in oracle.items() if k in dirs}
if len(pruned) == len(oracle):
    print(f"nothing pruned: all {len(oracle)} oracles have a result dir")
    sys.exit(0)
if not os.path.exists(backup):
    shutil.copyfile(path, backup)
json.dump(pruned, open(path, "w"))
print(f"kept {len(pruned)}/{len(oracle)} oracles "
      f"(full map preserved at {backup})")
