#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the program).

    python3 perfbench/selftest.py           # generators, metric names, checks
    python3 perfbench/selftest.py --runs    # also one short traced and
                                            # untraced run per workload

1. Same seed => identical input fingerprints; another seed => different ones.
2. Every metric a run emits is declared in BENCHMARK.json, and every
   declared metric is emitted.
3. The output checks reject planted wrong outputs: a mirror with one key's
   row dropped, a user_balance with one group changed, a query result that
   disagrees with its oracle.
Exits non-zero on the first failed test.
"""
import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SMALL_POLL = dict(base_keys=2_000, base_update_share=0.3, users=200,
                  batches=6, batch_rows=100, insert_share=0.7, idle_every=4)
SMALL_FIX = dict(scale=0.1, docs=100, vecs=100)


def test_fingerprints(tmp: Path) -> None:
    for name, fn, kw in (("poll", gen.gen_sync_poll, SMALL_POLL),
                         ("fixture", gen.gen_fixture, SMALL_FIX)):
        fps = []
        for i, seed in enumerate((5, 5, 6)):
            d = tmp / f"{name}-{i}"
            fn(seed, d, **kw)
            fps.append(gen.fingerprint(d))
        assert fps[0] == fps[1], f"{name}: same seed gave different inputs"
        assert fps[0] != fps[2], f"{name}: different seeds gave identical inputs"
    print("ok  same seed -> same inputs, different seed -> different inputs")


def test_metric_names() -> None:
    """e2e() must produce exactly the declared end-to-end names (checked on a
    synthetic result); run.py fills and filters the per-layer names, and a
    real traced run is checked by --runs."""
    declared = {m["name"] for m in SPEC["end_to_end"]}
    res = {"workload": "query_mix", "setup_rep_ms": [5.0, 1.0, 1.0],
           "warmup_ms": 10.0, "rss_peak_mb": 100.0,
           "check": {"index_bytes": 4000, "index_rows": 400},
           "ops": [{"name": "a", "layer": "queries", "ms": 10.0, "ok": True}]}
    m, _ = run.e2e(res)
    assert set(m) == declared, f"e2e names {sorted(m)} != declared {sorted(declared)}"
    poll = {"workload": "sync_poll", "setup_rep_ms": [5.0], "warmup_ms": 1.0,
            "rss_peak_mb": 1.0, "check": {"dest_bytes": 100, "dest_rows": 10},
            "ops": [{"ms": 5.0, "ok": True, "idle": False, "batch_rows": 3}]}
    m, _ = run.e2e(poll)
    assert set(m) == declared, f"sync_poll e2e names {sorted(m)}"
    assert all(v > 0 for v in m.values()), f"a metric reads 0: {m}"
    print("ok  end-to-end metric names match BENCHMARK.json")


def _mirror_from(con, src: Path, mirror: Path, balance: Path) -> None:
    mirror.mkdir(parents=True)
    balance.mkdir(parents=True)
    con.execute(f"""COPY (SELECT {check.TXN_COLS} FROM read_parquet('{src}/*.parquet')
        QUALIFY row_number() OVER (PARTITION BY id ORDER BY updated DESC) = 1)
        TO '{mirror}/part-0.parquet' (FORMAT parquet)""")
    con.execute(f"""COPY (SELECT user_id, count(*) AS cnt,
        CAST(sum(amount) AS DECIMAL(28,4)) AS sum_val
        FROM read_parquet('{mirror}/*.parquet') GROUP BY user_id)
        TO '{balance}/part-0.parquet' (FORMAT parquet)""")


def test_sync_check_rejects(tmp: Path) -> None:
    inputs = tmp / "poll"
    gen.gen_sync_poll(3, inputs, **SMALL_POLL)
    root = tmp / "dest"
    shutil.copytree(inputs / "source", root / "source")
    con = duckdb.connect()
    _mirror_from(con, root / "source", root / "mirror", root / "user_balance")
    res = {"check": {"root": str(root), "dest_rows": 1}}
    assert check.check_sync_poll(res) == [], "a correct mirror was rejected"

    mirror = root / "mirror" / "part-0.parquet"
    good = pd.read_parquet(mirror)
    good[good.id != good.id.iloc[0]].to_parquet(mirror)      # drop one key
    fails = check.check_sync_poll(res)
    assert any("mirror" in f for f in fails), "a dropped key was not detected"
    good.to_parquet(mirror)

    bal = root / "user_balance" / "part-0.parquet"
    b = pd.read_parquet(bal)
    b.loc[0, "cnt"] += 1                                       # corrupt a group
    b.to_parquet(bal)
    fails = check.check_sync_poll(res)
    assert any("user_balance" in f for f in fails), "a wrong group was not detected"
    print("ok  sync check rejects a dropped key and a wrong user_balance group")


def test_query_check_rejects(tmp: Path) -> None:
    """Right cold and warm results pass; a wrong result in either fails."""
    work = tmp / "qwork"
    sql = "SELECT 1 AS a, 2.0 AS b"
    res = {"check": {"entries": ["good", "bad_cold", "bad_warm"],
                     "oracle_sql": {"good": sql, "bad_cold": sql, "bad_warm": sql}}}
    for name, cold, warm in (("good", 1, 1), ("bad_cold", 3, 1), ("bad_warm", 1, 3)):
        for pass_, a in (("warm", cold), ("check", warm)):
            d = work / pass_ / name
            d.mkdir(parents=True)
            pd.DataFrame({"b": [2.0], "a": [a]}).to_parquet(d / "part-0.parquet")
    fails = check.check_queries(res, tmp, work)
    assert set(fails) == {"bad_cold", "bad_warm"}, f"query check verdicts wrong: {fails}"
    print("ok  query check accepts matching results and rejects a wrong cold "
          "or post-loop result")


def test_runs() -> None:
    """One short run per workload and mode: names emitted == declared."""
    for wl in run.WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = subprocess.run([sys.executable, str(BENCH / "run.py"),
                                "--workload", wl, "--seed", "1", "--seconds", "1",
                                "--trace", str(trace)], cwd=ROOT,
                               capture_output=True, text=True)
            assert p.returncode == 0, f"{wl} trace={trace} failed:\n{p.stderr[-3000:]}"
            out = json.loads(p.stdout.strip().splitlines()[-1])
            want = {m["name"] for m in SPEC[key]}
            assert set(out["metrics"]) == want, \
                f"{wl} trace={trace}: emitted {sorted(set(out['metrics']) ^ want)}"
            assert out["correct"] and out["failed"] == 0, f"{wl}: {out}"
            print(f"ok  {wl} trace={trace}: emits exactly the declared metrics")


def main() -> int:
    (BENCH / ".work").mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=BENCH / ".work") as t:
        tmp = Path(t)
        test_fingerprints(tmp)
        test_metric_names()
        test_sync_check_rejects(tmp)
        test_query_check_rejects(tmp)
    if "--runs" in sys.argv:
        test_runs()
    print("all self-tests passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
