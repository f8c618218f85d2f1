"""Workload definitions: inputs, the timed operation, and the correctness check.

A workload's timed operation is a closed loop of one or more registry
queries, each forced through the ``noop`` sink and timed from the call into
the query function (``geo_tiles`` runs a job while its plan is built, so the
call is part of the work).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import duckdb

TABLES = ("documents",)  # the input tables the workloads' queries read


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    # generator parameters (perfbench/gen.py)
    n_docs: int
    words_mean: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="flagship_longpages",
            queries=("geo_pip_entities",),
            n_docs=12_000, words_mean=600,
        ),
        Workload(
            name="points_suite",
            queries=("geo_cell_encode", "geo_s2_encode", "geo_pip_best",
                     "geo_pip_salted", "geo_tiles"),
            n_docs=100_000, words_mean=4,
        ),
    )
}


def force(df) -> None:
    """Run every row of ``df`` without collecting it (no projection pruning,
    unlike ``count()``)."""
    df.write.format("noop").mode("overwrite").save()


def run_query(spark, name: str, sf_dir: str) -> float:
    import __spark_entry__ as entry

    t0 = time.perf_counter()
    force(entry.queries()[name](spark, sf_dir))
    return time.perf_counter() - t0


def run_op(spark, w: Workload, sf_dir: str) -> tuple[float, dict]:
    """One timed operation: every query of the workload once, in order.
    Returns (total wall, per-query walls)."""
    walls = {q: run_query(spark, q, sf_dir) for q in w.queries}
    return sum(walls.values()), walls


def _duck(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')")
    return con


def check(spark, w: Workload, sf_dir: str, out_dir: str) -> dict:
    """Value-compare every query's output with its DuckDB oracle on the same
    inputs. Returns {query: (None or failure message, seconds taken)}.

    The Spark output is written to parquet and compared in DuckDB as two
    multiset differences (EXCEPT ALL both ways) plus a row-count match, with
    the columns matched by name."""
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = _duck(sf_dir, TABLES)
    res = {}
    for q in w.queries:
        path = os.path.join(out_dir, q)
        t0 = time.perf_counter()
        try:
            df = entry.queries()[q](spark, sf_dir)
            df.write.mode("overwrite").parquet(path)
            cols = sorted(df.columns)
            sel = ", ".join(f'"{c}"' for c in cols)
            con.execute(f"CREATE OR REPLACE TEMP TABLE got AS SELECT {sel} FROM read_parquet('{path}/*.parquet')")
            con.execute(f"CREATE OR REPLACE TEMP TABLE want AS SELECT {sel} FROM ({oracles[q]})")
            n_got, n_want = (con.execute(f"SELECT count(*) FROM {v}").fetchone()[0]
                             for v in ("got", "want"))
            extra = con.execute("SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)").fetchone()[0]
            missing = con.execute("SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)").fetchone()[0]
            if n_want == 0:
                res[q] = "oracle result is empty"
            elif n_got != n_want or extra or missing:
                res[q] = f"rows {n_got} vs oracle {n_want}; {extra} extra, {missing} missing"
            else:
                res[q] = None
        except Exception as e:  # a failed check is a failed operation
            res[q] = f"{type(e).__name__}: {e}"[:300]
        finally:
            shutil.rmtree(path, ignore_errors=True)
        res[q] = (res[q], time.perf_counter() - t0)
    con.close()
    return res
