"""Output checks, run after the timed region of every benchmark run.

* Sync mirrors must equal a last-writer-wins-per-key reduction of the
  generated rows, computed here in DuckDB from the input files.
* ``user_balance`` must equal a regroup (count, exact sum of ``amount`` per
  ``user_id``) of the mirror.
* Query results are compared with ``tools/check_oracle.py``'s ``canon``
  (order-insensitive, doubles rounded to 6 places): the first call's result
  and a result taken after the timed loop, each against the entry's DuckDB
  oracle SQL (for an entry without one, the two against each other).

Each check returns a list of failure strings; empty means correct.
"""
import sys
from pathlib import Path

import duckdb
import pandas as pd

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))
from check_oracle import TABLES, canon  # noqa: E402

TXN_COLS = "id, user_id, amount, status, certified_by_user, created, updated"


def _pq(path: Path) -> str:
    """read_parquet over the data files of a directory (or one file)."""
    if path.is_dir():
        return f"read_parquet('{path}/*.parquet')"
    return f"read_parquet('{path}')"


def lww_mismatch(con, source: str, mirror: str) -> int:
    """Rows in the symmetric difference of LWW(source) and the mirror."""
    want = (f"SELECT {TXN_COLS} FROM {source} "
            "QUALIFY row_number() OVER (PARTITION BY id ORDER BY updated DESC) = 1")
    got = f"SELECT {TXN_COLS} FROM {mirror}"
    a = con.sql(f"SELECT count(*) FROM (({want}) EXCEPT ALL ({got}))").fetchone()[0]
    b = con.sql(f"SELECT count(*) FROM (({got}) EXCEPT ALL ({want}))").fetchone()[0]
    return a + b


def check_sync_poll(res: dict) -> list:
    root = Path(res["check"]["root"])
    con = duckdb.connect()
    fails = []
    n = lww_mismatch(con, _pq(root / "source"), _pq(root / "mirror"))
    if n:
        fails.append(f"mirror: {n} rows differ from LWW(source)")
    # the rollup's data files sit at the top of its directory; its key-state
    # store lives in a `_`-prefixed sub-directory and is not read here
    diff = con.sql(f"""
        WITH want AS (SELECT user_id, count(*) AS cnt,
                             CAST(sum(amount) AS DECIMAL(28,4)) AS sum_val
                      FROM {_pq(root / 'mirror')} GROUP BY user_id),
             got AS (SELECT user_id, cnt, CAST(sum_val AS DECIMAL(28,4)) AS sum_val
                     FROM {_pq(root / 'user_balance')})
        SELECT (SELECT count(*) FROM (FROM want EXCEPT ALL FROM got)) +
               (SELECT count(*) FROM (FROM got EXCEPT ALL FROM want))""").fetchone()[0]
    if diff:
        fails.append(f"user_balance: {diff} groups differ from a regroup of the mirror")
    if res["check"]["dest_rows"] <= 0:
        fails.append("mirror is empty")
    return fails


def _diff(got, want) -> str:
    """Why two canonical results differ, or '' when they are equal."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if not got.equals(want):
        return f"{int((got != want).any(axis=1).sum())} rows differ"
    return ""


def check_queries(res: dict, inputs: Path, work: Path) -> dict:
    """entry -> failure string, for every entry that fails its check.

    Each entry has two results: `warm/<name>` from the first (cold) call and
    `check/<name>` from a call after the timed loop, in the warm state the
    timed ops ran in. Both must match the oracle; an entry without oracle
    SQL must give a non-empty result, the same in both calls."""
    con = duckdb.connect()
    for t in TABLES:
        p = inputs / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = res["check"]["oracle_sql"]
    fails = {}
    for name in res["check"]["entries"]:
        try:
            warm = canon(pd.read_parquet(work / "warm" / name))
            again = canon(pd.read_parquet(work / "check" / name))
            if name in oracle:
                want = canon(con.sql(oracle[name]).df())
            elif len(warm) == 0:
                fails[name] = "rows-only result is empty"
                continue
            else:
                want = warm
        except Exception as e:  # a missing result or failing SQL is a failure
            fails[name] = f"{type(e).__name__}: {e}"
            continue
        why = [f"{label}: {d}" for label, d in
               (("cold call", _diff(warm, want)), ("after the timed loop",
                                                   _diff(again, want))) if d]
        if why:
            fails[name] = "; ".join(why)
    return fails
