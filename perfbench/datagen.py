"""Seeded input generation for the graft benchmark.

- ``base(cache, sf)``: the TPC-H-like star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables that the query registry reads,
  one parquet file per table, with the shapes and value ranges of the
  registry's own test data (uniform keys and dates, 2-dp money, a
  30-word document vocabulary with 5 % near-duplicates, unit-norm
  64-dim embeddings).  Generated once per cache directory and keyed by
  its scale and seed.  The data seed is fixed, so pinned query
  fingerprints stay valid.
- ``elt_batch_rows(seed, ...)`` / ``write_elt_landing``: landing files
  for the ELT pipeline, one CSV of orders and one JSON-lines file of
  order events per cycle.  Later cycles update keys landed by earlier
  ones.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01
_EPOCH_2024 = 19723  # days from 1970-01-01 to 2024-01-01
_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _ts(days_us):
    return pa.array(days_us, type=pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _gen_base(out, sf):
    rng = np.random.Generator(np.random.PCG64(DATA_SEED))
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array("large hot cold blue old red small new".split())
    noun = np.array("widget gizmo ring gear bolt plate rod anvil".split())
    keys = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "),
                              rng.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts((_EPOCH_1995 + rng.integers(0, 2404, n_ord))
                           * _US_PER_DAY),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.5, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts((_EPOCH_1995 + 1 + rng.integers(0, 2498, n_line))
                          * _US_PER_DAY)})
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(_EPOCH_2024 * _US_PER_DAY
                          + rng.integers(0, 30 * _US_PER_DAY, n_ev))),
        "user_id": rng.integers(0, int(15_000 * sf), n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.char.add(np.char.add('{"k": ',
                                         rng.integers(0, 100, n_ev).astype(str)),
                             "}")})
    words = np.array(_WORDS)
    texts = [" ".join(rng.choice(words, k))
             for k in rng.integers(10, 101, n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[rng.integers(0, n_doc)] + " dup"
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})


def dir_hash(path):
    """sha256 over the sorted relative names and bytes of every file."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode() + b"\0")
            with open(p, "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()


def base(cache, sf):
    """The registry tables at scale `sf`, generated once into
    ``cache/base-sf<sf>-d<seed>`` (via a temporary sibling, renamed into
    place); returns the directory and its content hash."""
    out = os.path.join(cache, f"base-sf{sf}-d{DATA_SEED}")
    stamp = os.path.join(out, ".content_hash")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return out, fh.read().strip()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _gen_base(tmp, sf)
    digest = dir_hash(tmp)
    with open(os.path.join(tmp, ".content_hash"), "w") as fh:
        fh.write(digest + "\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, digest


# ------------------------------------------------------------------ ELT

ELT_STATUSES = ["NEW", "PAID", "SHIPPED", "DONE", "CANCELLED"]
ELT_T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
ELT_CYCLE_MS = 3_600_000


def elt_batch_rows(seed, cycles, new_per_cycle, updates_per_cycle):
    """The landed orders and events of every cycle, as plain Python rows.

    Orders: ``order_id, customer_id, status, amount, updated_at, note``.
    ``amount`` is a string; about 1 % are ``n/a`` (uncastable, dropped by
    the type contract).  ``note`` is an undeclared column (discarded by
    the column contract).  A cycle lands new keys plus updates of keys
    landed earlier, each with a newer ``updated_at``.  Rows of a cycle
    whose ``updated_at`` is not above the previous cycle's maximum are
    late arrivals the incremental cursor skips.
    Events: ``event_id, order_id, kind, ts_ms`` with ids unique overall.
    """
    rng = np.random.Generator(np.random.PCG64([seed, 7]))
    batches, next_id, next_ev = [], 0, 0
    for c in range(cycles):
        t_lo = ELT_T0_MS + c * ELT_CYCLE_MS
        ids = list(range(next_id, next_id + new_per_cycle))
        next_id += new_per_cycle
        if next_id > new_per_cycle:
            upd = rng.choice(next_id - new_per_cycle, updates_per_cycle,
                             replace=False)
            ids += [int(i) for i in upd]
        n = len(ids)
        offs = rng.integers(1, ELT_CYCLE_MS, n)
        late = rng.random(n) < 0.01
        if c > 0:
            offs[late] -= ELT_CYCLE_MS  # lands at or below the watermark
        amounts = np.round(rng.uniform(5, 5000, n), 2)
        bad = rng.random(n) < 0.01
        orders = []
        for i in range(n):
            orders.append({
                "order_id": ids[i],
                "customer_id": int(rng.integers(0, 500)),
                "status": ELT_STATUSES[int(rng.integers(0, 5))],
                "amount": "n/a" if bad[i] else f"{amounts[i]:.2f}",
                "updated_at": int(t_lo + offs[i]),
                "note": f"c{c}"})
        k = 2 * n
        ev_orders = rng.choice(ids, k)
        events = [{"event_id": next_ev + j, "order_id": int(ev_orders[j]),
                   "kind": ["view", "pay", "ship"][int(rng.integers(0, 3))],
                   "ts_ms": int(t_lo + rng.integers(0, ELT_CYCLE_MS))}
                  for j in range(k)]
        next_ev += k
        batches.append((orders, events))
    return batches


def write_elt_landing(out, batches):
    """One ``cNNN/`` directory per cycle holding ``orders_cNNN.csv`` and
    ``events_cNNN.json``; the harness moves each into the landing zone at
    the start of its cycle."""
    for c, (orders, events) in enumerate(batches):
        d = os.path.join(out, f"c{c:03d}")
        os.makedirs(d)
        with open(os.path.join(d, f"orders_c{c:03d}.csv"), "w") as fh:
            fh.write("order_id,customer_id,status,amount,updated_at,note\n")
            for o in orders:
                fh.write(f"{o['order_id']},{o['customer_id']},{o['status']},"
                         f"{o['amount']},{o['updated_at']},{o['note']}\n")
        with open(os.path.join(d, f"events_c{c:03d}.json"), "w") as fh:
            for e in events:
                fh.write(json.dumps(e) + "\n")
