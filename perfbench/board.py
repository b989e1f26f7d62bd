"""``analytics_board`` workload: one memo-cold pass over a fixed set of
registered queries (``__spark_entry__.queries()``) per timed operation.

Inputs are the read-only tables under ``perfbench/data`` (a copy of the
deterministic sf0.01 test tables of TESTDATA.md, seed 42), the same for
every ``--seed``.
Each pass reads a fresh per-pass copy, so memos keyed on table path and mtime
miss.  Every query's rows are compared with its ``oracle_sql()`` result in
DuckDB, using the normalisation of ``tools/verify_local.py``.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import duckdb

import __spark_entry__ as entry

ROOT = Path(__file__).resolve().parent.parent
DATA = Path(__file__).resolve().parent / "data"

sys.path.insert(0, str(ROOT / "tools"))
from verify_local import normalize_rows  # noqa: E402

# One query per analytics layer, in fixed order.
QUERIES = (
    ("signal_bank_extraction", "functions"),
    ("minhash_lsh_dedup", "operators.dedup"),
    ("knn_ivf", "operators.similarity"),
    ("stream_stateful_dedup", "streaming.stateful"),
    ("span_reassembly", "operators.spans"),
    ("region_revenue", "sources.tables"),
)


@dataclass
class BoardOp:
    wall_s: float
    query_s: dict[str, float] = field(default_factory=dict)
    windows_ms: dict[str, tuple[int, int]] = field(default_factory=dict)
    problems: list[str] = field(default_factory=list)

    @property
    def correct(self) -> bool:
        return not self.problems


def _oracle_rows() -> dict[str, tuple[list[str], list[str]]]:
    con = duckdb.connect()
    for f in sorted(DATA.glob("*.parquet")):
        con.sql(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
    sqls = entry.oracle_sql()
    out = {}
    for name, _layer in QUERIES:
        rel = con.sql(sqls[name])
        cols = [d[0] for d in rel.description]
        rows = [dict(zip(cols, r)) for r in rel.fetchall()]
        out[name] = (sorted(cols), normalize_rows(cols, rows))
    con.close()
    return out


class Board:
    name = "analytics_board"
    body_scale = 1

    def __init__(self, seed: int):
        self.queries = entry.queries()
        self.expected = _oracle_rows()

    def describe(self) -> dict:
        return {"queries": [q for q, _ in QUERIES], "tables": "perfbench/data (sf0.01)"}

    def stage_inputs(self, op_dir: str) -> None:
        tables = os.path.join(op_dir, "tables")
        os.makedirs(tables)
        for f in DATA.glob("*.parquet"):
            shutil.copy(f, tables)

    def run(self, spark, op_dir: str, spans) -> BoardOp:
        tables = os.path.join(op_dir, "tables")
        op = BoardOp(wall_s=0.0)
        results = {}
        t_pass = time.perf_counter()
        for name, _layer in QUERIES:
            spark.sparkContext.setJobGroup(name, name)
            t0_ms = int(time.time() * 1000)
            with spans(name):
                t0 = time.perf_counter()
                df = self.queries[name](spark, tables)
                results[name] = (df.columns, [r.asDict() for r in df.collect()])
                op.query_s[name] = time.perf_counter() - t0
            op.windows_ms[name] = (t0_ms, int(time.time() * 1000))
        op.wall_s = time.perf_counter() - t_pass
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        for name, (cols, rows) in results.items():
            exp_cols, exp_rows = self.expected[name]
            if sorted(cols) != exp_cols or normalize_rows(cols, rows) != exp_rows:
                op.problems.append(name)
        return op

    @staticmethod
    def steps(op: BoardOp) -> list[float]:
        return list(op.query_s.values())

    @staticmethod
    def layers(op: BoardOp, log) -> dict[str, float]:
        out = {}
        for name, _layer in QUERIES:
            t = log.totals(log.jobs_for(name, op.windows_ms[name]))
            out[f"query.{name}_s"] = op.query_s[name]
            out[f"query.{name}.jobs"] = float(t["jobs"])
            out[f"query.{name}.exec_cpu_s"] = t["exec_cpu_s"]
            out[f"query.{name}.shuffle_mb"] = t["shuffle_write_mb"]
        return out
