"""Seeded input generators for the graft benchmark.

Every table is a pure function of (seed, sizes): the same seed writes
byte-identical parquet files, a different seed writes different ones. The
program under test only ever reads these files.

Two families:

* ``transactions`` -- the reference's sync table with the column types
  FIXTURES.md records for it: id, user_id (a uuid, as a string),
  amount decimal(18,2), status incl. BLOCKED, certified_by_user (epoch-ms
  at or after ``created``, NULL = uncertified), created/updated as epoch-ms
  longs. A base table with one update round (bulk-loaded in set-up) plus a
  plan of small append batches (~70% new keys, ~30% updates with a bumped
  ``updated``, Zipf-skewed ``user_id``, a fixed share of idle polls).
* the analytical fixture tables (region .. lineitem, events, documents,
  embeddings) with the column types and value ranges the query library
  expects (TIMESTAMP_NTZ timestamps, 64-d unit embeddings, near-duplicate
  documents).
"""
import hashlib
import json
import uuid
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATUSES = np.array(["PENDING", "COMPLETED", "BLOCKED", "REFUNDED"])
STATUS_P = [0.25, 0.55, 0.1, 0.1]
T0_MS = 1_700_000_000_000          # first `created` value (epoch ms)
BATCH_WINDOW_MS = 60_000           # `updated` span of one poll batch
# No source gives the share of uncertified rows or the certification delay;
# both are chosen. The mean delay of 6 h puts about a fifth of the delays
# over the 10 h the reference's certification-delay query tests for.
UNCERTIFIED_SHARE = 0.3
CERT_DELAY_MEAN_MS = 6 * 3_600_000


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# --------------------------------------------------------------- transactions

TXN_SCHEMA = pa.schema([
    ("id", pa.int64()),
    ("user_id", pa.string()),
    ("amount", pa.decimal128(18, 2)),
    ("status", pa.string()),
    ("certified_by_user", pa.int64()),
    ("created", pa.int64()),
    ("updated", pa.int64()),
])


def _user_pool(rng, users: int) -> np.ndarray:
    """`users` version-4 uuid strings drawn from `rng`."""
    raw = np.frombuffer(rng.bytes(16 * users), np.uint8).reshape(users, 16).copy()
    raw[:, 6] = (raw[:, 6] & 0x0F) | 0x40
    raw[:, 8] = (raw[:, 8] & 0x3F) | 0x80
    return np.array([str(uuid.UUID(bytes=r.tobytes())) for r in raw])


def _zipf_users(rng, n, users, s=1.1):
    """Zipf-skewed indices into the user pool, in [0, users): a few heavy
    users, a long tail."""
    ranks = np.arange(1, users + 1, dtype=np.float64)
    p = ranks ** -s
    p /= p.sum()
    perm = rng.permutation(users)       # heavy users are not simply 0, 1, 2
    return perm[rng.choice(users, size=n, p=p)].astype(np.int64)


def _txn_table(rng, ids, user_ids, created, updated, pool) -> pa.Table:
    n = len(ids)
    cents = rng.integers(-50_000, 500_000, size=n)
    # decimal128 storage: the unscaled value as 16-byte little-endian
    # two's complement (low word, sign-extended high word)
    words = np.empty((n, 2), dtype=np.int64)
    words[:, 0] = cents
    words[:, 1] = cents >> 63
    amounts = pa.Array.from_buffers(pa.decimal128(18, 2), n,
                                    [None, pa.py_buffer(words.tobytes())])
    status = STATUSES[rng.choice(len(STATUSES), size=n, p=STATUS_P)]
    cert = created + rng.exponential(CERT_DELAY_MEAN_MS, size=n).astype(np.int64)
    uncertified = rng.random(n) < UNCERTIFIED_SHARE
    return pa.table([
        pa.array(ids, pa.int64()),
        pa.array(pool[user_ids], pa.string()),
        amounts,
        pa.array(status, pa.string()),
        pa.array(cert, pa.int64(), mask=uncertified),
        pa.array(created, pa.int64()),
        pa.array(updated, pa.int64()),
    ], schema=TXN_SCHEMA)


def gen_sync_poll(seed: int, out: Path, base_keys: int, base_update_share: float,
                  users: int, batches: int, batch_rows: int, insert_share: float,
                  idle_every: int) -> dict:
    """A base table plus a plan of `batches` polls.

    The base holds `base_keys` inserts and one update round re-emitting
    `base_update_share` of the keys with a bumped `updated`, so the cold
    full sync that seeds the mirror in set-up is a genuine last-writer-wins
    bulk load. A non-idle poll appends one batch file whose `updated`
    values all lie in that poll's own window, strictly above every earlier
    row, so the watermark contract holds. Batches are staged under
    `batches/`; poll k moves batch k into `source/`. Every `idle_every`-th
    poll (k = idle_every, 2 * idle_every, ...) is idle; the rest, the
    warm-up polls 0 and 1 included, carry a batch. The positions are
    fixed, so every seed times the same sequence of poll kinds."""
    rng = _rng(seed, 2)
    pool = _user_pool(rng, users)
    ids = np.arange(base_keys, dtype=np.int64)
    user_ids = _zipf_users(rng, base_keys, users)
    created = T0_MS + np.sort(rng.integers(0, 86_400_000, size=base_keys))
    upd = np.sort(rng.choice(base_keys, size=int(base_keys * base_update_share),
                             replace=False))
    upd_users = user_ids[upd].copy()
    moved = rng.random(len(upd)) < 0.1
    upd_users[moved] = _zipf_users(rng, int(moved.sum()), users)
    stamps = int(created.max()) + 1 + \
        np.sort(rng.integers(0, 3_600_000, size=len(upd)))
    base = pa.concat_tables([
        _txn_table(rng, ids, user_ids, created, created, pool),
        _txn_table(rng, upd, upd_users, created[upd], stamps, pool)])
    base = base.take(pa.array(rng.permutation(base.num_rows)))
    _write(base, out / "source" / "part-base.parquet")
    user_ids[upd] = upd_users
    known_users = user_ids.copy()
    known_created = created.copy()
    next_id = base_keys
    window0 = int(stamps.max()) + 1
    plan = []
    for k in range(batches):
        lo = window0 + k * BATCH_WINDOW_MS
        hi = lo + BATCH_WINDOW_MS
        if k > 0 and k % idle_every == 0:
            plan.append({"poll": k, "idle": True, "lo": lo, "hi": hi, "rows": 0})
            continue
        n_new = int(round(batch_rows * insert_share))
        n_upd = batch_rows - n_new
        new_ids = np.arange(next_id, next_id + n_new, dtype=np.int64)
        next_id += n_new
        upd_ids = np.sort(rng.choice(next_id - n_new, size=n_upd, replace=False))
        new_users = _zipf_users(rng, n_new, users)
        upd_users = known_users[upd_ids].copy()
        moved = rng.random(n_upd) < 0.1
        upd_users[moved] = _zipf_users(rng, int(moved.sum()), users)
        new_created = lo + rng.integers(0, BATCH_WINDOW_MS, size=n_new)
        all_ids = np.concatenate([new_ids, upd_ids])
        all_users = np.concatenate([new_users, upd_users])
        all_created = np.concatenate([new_created, known_created[upd_ids]])
        stamps = lo + rng.permutation(BATCH_WINDOW_MS)[:len(all_ids)]
        known_users = np.concatenate([known_users, new_users])
        known_created = np.concatenate([known_created, new_created])
        known_users[upd_ids] = upd_users
        _write(_txn_table(rng, all_ids, all_users, all_created, stamps, pool),
               out / "batches" / f"batch-{k:05d}.parquet")
        plan.append({"poll": k, "idle": False, "lo": lo, "hi": hi,
                     "rows": int(len(all_ids))})
    (out / "plan.json").write_text(json.dumps({
        "base_rows": base.num_rows, "ivm_lo": 0, "ivm_hi0": window0,
        "polls": plan}))
    return {"base_rows": base.num_rows, "base_keys": base_keys,
            "batches": sum(1 for p in plan if not p["idle"]),
            "polls": len(plan), "batch_rows": batch_rows}


# ------------------------------------------------------------ analytic tables

WORDS = ("hash order table window row batch big group a spark filter sort "
         "join line data column key merge agg small scan vector stream value "
         "customer slow part fast query the").split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _ts_us(base: np.datetime64, offsets_us) -> pa.Array:
    return pa.array(base.astype("datetime64[us]") +
                    np.asarray(offsets_us).astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def gen_fixture(seed: int, out: Path, scale: float, docs: int,
                vecs: int) -> dict:
    """TPC-H-ish star schema + events + documents + embeddings. `scale` = 1
    gives 1,500 customers, 15,000 orders, 60,000 lineitems and 10,000
    events (the sf0.01 shape)."""
    rng = _rng(seed, 3)
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_line, n_ev = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    n_users = max(10, int(150 * scale))
    tabs = {}
    tabs["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tabs["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    tabs["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"],
            n_cust)})
    tabs["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    price = np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)
    tabs["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price})
    day_us = 86_400 * 1_000_000
    odays = rng.integers(0, 2404, n_ord)
    tabs["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts_us(np.datetime64("1995-01-01"), odays * day_us),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord)})
    l_ord = rng.integers(0, n_ord, n_line)
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tabs["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[l_part] *
                                    rng.uniform(0.98, 2.1, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rng.choice(["R", "A", "N"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _ts_us(np.datetime64("1995-01-01"),
                             (odays[l_ord] + rng.integers(1, 95, n_line)) * day_us)})
    ev_off = np.sort(rng.choice(30 * day_us, n_ev, replace=False))
    tabs["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts_us(np.datetime64("2024-01-01"), ev_off),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(["signup", "error", "click", "view", "purchase"],
                                 n_ev),
        "value": np.round(np.maximum(0.01, rng.exponential(50.0, n_ev)), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    tabs["documents"] = _documents(rng, docs)
    tabs["embeddings"] = _embeddings(rng, vecs)
    for name, t in tabs.items():
        _write(t, out / f"{name}.parquet")
    return {"tables": {k: v.num_rows for k, v in tabs.items()}}


def _documents(rng, n) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary with per-language word
    preferences; ~5% are near-duplicates of another document with one or
    two trailing ` dup` tokens (the dedup / span-coverage operators need
    overlap to find)."""
    langs = LANGS[rng.choice(5, n, p=LANG_P)]
    lang_w = {l: rng.dirichlet(np.full(len(WORDS), 20.0)) for l in LANGS}
    texts = []
    for i in range(n):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(np.array(WORDS)[rng.choice(len(WORDS), k,
                                                         p=lang_w[langs[i]])]))
    for i in np.sort(rng.choice(n, max(1, n // 20), replace=False)):
        src = int(rng.integers(0, n))
        if src != i:
            texts[i] = texts[src] + " dup" * int(rng.integers(1, 3))
            langs[i] = langs[src]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng, n, dim=64, labels=10) -> pa.Table:
    """Unit vectors around 10 weakly separated label centroids."""
    cent = rng.normal(size=(labels, dim))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    lab = rng.integers(0, labels, n)
    x = rng.normal(size=(n, dim)) + 1.2 * cent[lab]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(lab, pa.int32())})


def fingerprint(root: Path) -> str:
    """sha256 over every generated file (path + bytes), in path order."""
    h = hashlib.sha256()
    for p in sorted(root.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()
