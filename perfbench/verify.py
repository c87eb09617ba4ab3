"""Untimed correctness and regime checks, run once per run after timing.

Query outputs are compared with the registry's DuckDB oracle over the same
generated parquet, order-insensitively and with the strict value rendering
of ``tools/verify_local.py --strict``. Terasort output is validated the way
TeraValidate does: global key order plus equal checksums between input and
output.
"""

from __future__ import annotations

import glob
import os
import re

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tools.verify_local import _duck_rows_pandas, _norm_strict, _rowset

from perfbench.layers import PYTHON_NODE


def oracle_mismatch(spark, name: str, oracle: str, sink: str, input_dir: str,
                    tables: list[str], spill_dir: str) -> tuple[str | None, int]:
    """Compare a query's sink output with its oracle. Returns ``(problem,
    rows)``: ``problem`` is None when they match."""
    out = spark.read.parquet(sink)
    scols, srows = out.columns, [tuple(r) for r in out.collect()]
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{spill_dir}'")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet/*.parquet')")
        res = con.execute(oracle)
        dcols = [d[0] for d in res.description]
        drows = _duck_rows_pandas(res)
    finally:
        con.close()
    if sorted(scols) != sorted(dcols):
        return f"columns spark={sorted(scols)} oracle={sorted(dcols)}", len(srows)
    if len(srows) != len(drows):
        return f"rows spark={len(srows)} oracle={len(drows)}", len(srows)
    s, d = _rowset(scols, srows, _norm_strict), _rowset(dcols, drows, _norm_strict)
    if s != d:
        diff = [(a, b) for a, b in zip(s, d) if a != b][:2]
        return f"values differ, first: {diff}", len(srows)
    return None, len(srows)


def keys_ordered(parquet_dir: str) -> bool:
    """Global order of a sorted parquet output: keys ascend within every
    part file and across part files taken in part-number order."""
    prev = None
    for path in sorted(glob.glob(os.path.join(parquet_dir, "part-*.parquet"))):
        keys = pq.read_table(path, columns=["key"])["key"]
        if len(keys) == 0:
            continue
        if len(keys) > 1 and not pc.all(pc.greater_equal(keys[1:], keys[:-1])).as_py():
            return False
        if prev is not None and keys[0].as_py() < prev:
            return False
        prev = keys[-1].as_py()
    return True


def regime_problems(workload: str, plans: dict[str, list[str]], spill_mb: float) -> list[str]:
    """Checks that a run stayed in the regime its workload exists for."""
    problems = []
    text = "\n".join(p for ps in plans.values() for p in ps)
    if workload == "warehouse":
        if PYTHON_NODE.search(text):
            problems.append("warehouse plan has a Python eval node")
        if not join_strategy(plans, "l_orderkey", "o_orderkey"):
            problems.append("warehouse has no orders-lineitem join")
        for q, ps in plans.items():
            if "Exchange" not in "\n".join(ps):
                problems.append(f"{q} has no shuffle exchange")
    elif workload == "corpus":
        if not PYTHON_NODE.search(text):
            problems.append("corpus plans have no Python/Arrow eval node")
    elif workload == "terasort":
        if not spill_mb > 0:
            problems.append("terasort sort did not spill")
    return problems


def join_strategy(plans: dict[str, list[str]], left: str, right: str) -> str:
    """Name of the join operator whose keys pair a ``left``-prefixed column
    with a ``right``-prefixed one (empty if there is none)."""
    text = "\n".join(p for ps in plans.values() for p in ps)
    for name, lk, rk in re.findall(
            r"^\(\d+\) (\w+Join)[^\n]*\n(?:[^\n]+\n)*?Left keys \[\d+\]: \[([^\]]*)\]\n"
            r"Right keys \[\d+\]: \[([^\]]*)\]", text, re.M):
        keys = lk + " " + rk
        if re.search(rf"\b{left}", keys) and re.search(rf"\b{right}", keys):
            return name
    return ""


def dir_bytes(path: str, pattern: str = "part-*") -> int:
    """On-disk bytes of the data files (not checksums or markers) in ``path``."""
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, pattern))
               if not p.endswith(".crc"))
