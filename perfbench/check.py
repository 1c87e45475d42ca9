"""Output check of the contract workload: every query result the run wrote
(<check_dir>/<query>/, parquet) must equal its oracle SQL
(<check_dir>/oracle_sql.json) evaluated by DuckDB over the same tables.

The comparison is the repository's own, tools/compare_oracle.py; this
module only maps its per-query verdicts to the queries that failed.
"""
import json
import os
import subprocess
import sys

COMPARE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "tools", "compare_oracle.py")


def contract(tables_dir, check_dir):
    """Map of query -> reason, for every query whose result is wrong."""
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    p = subprocess.run([sys.executable, COMPARE, tables_dir, check_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    verdicts = {}
    for line in p.stdout.splitlines():
        q, sep, verdict = line.partition(": ")
        if sep and q in oracle:
            verdicts[q] = verdict
    bad = {}
    for q in oracle:
        v = verdicts.get(q)
        if v is None:
            bad[q] = "no result written" if not os.path.isdir(os.path.join(check_dir, q)) \
                else f"no verdict from compare_oracle.py (exit {p.returncode})"
        elif not v.startswith("PASS"):
            bad[q] = v
    return bad
