"""The DuckDB oracle's answer for every output a workload run checks.

    python3 perfbench/oracle.py <workload> <inputs dir> <answers.pkl>

``run.py`` starts this as a process of its own while the Spark JVM
launches, so DuckDB's memory stays out of ``peak_rss_mb``, and waits for it.
"""

from __future__ import annotations

import pickle
import sys

import duckdb

from run import GATE_ORACLE, WORKLOADS, catalog


def oracle_results(workload: str, inputs: str) -> dict:
    w = WORKLOADS[workload]
    con = duckdb.connect()
    for t in w.tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    names = w.queries or tuple(GATE_ORACLE.values())
    return {n: con.execute(catalog.REGISTRY[n].oracle).fetchdf() for n in names}


if __name__ == "__main__":
    workload, inputs, out = sys.argv[1:]
    answers = oracle_results(workload, inputs)
    with open(out, "wb") as f:
        pickle.dump(answers, f)
