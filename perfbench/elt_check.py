"""Independent recomputation of the ELT pipeline's final state.

Replays the seeded landing batches in plain Python with the documented
semantics of each step (cursor above the last watermark, row filter,
column and type contracts, merge by primary key, the DAG's table and
incremental models, the SCD2 timestamp snapshot, tests and freshness)
and compares the result with what the harness left in its warehouse.
"""
import os
from decimal import Decimal

import pyarrow.dataset as ds

from datagen import ELT_CYCLE_MS, ELT_T0_MS

ACCEPTED = ("NEW", "PAID", "SHIPPED")


def _scd2(hist, current):
    if hist is None:
        return [dict(r, valid_from=r["updated_at"], valid_to=None)
                for r in current.values()]
    out, open_keys = [], {}
    for h in hist:
        if h["valid_to"] is None:
            open_keys[h["order_id"]] = h
        else:
            out.append(h)
    for k, h in open_keys.items():
        c = current.get(k)
        if c is not None and c["updated_at"] > h["updated_at"]:
            out.append(dict(h, valid_to=c["updated_at"]))
            out.append(dict(c, valid_from=c["updated_at"], valid_to=None))
        else:
            out.append(h)
    out += [dict(c, valid_from=c["updated_at"], valid_to=None)
            for k, c in current.items() if k not in open_keys]
    return out


def expected(batches):
    wh, events, hist = {}, {}, None
    cur_o = cur_e = None
    landed_o, landed_e = [], []
    merged = 0
    for orders, evs in batches:
        landed_o += orders
        landed_e += evs
        new_o = [o for o in landed_o if cur_o is None or o["updated_at"] > cur_o]
        new_e = [e for e in landed_e if cur_e is None or e["event_id"] > cur_e]
        batch = [o for o in new_o if o["status"] != "CANCELLED" and o["amount"] != "n/a"]
        merged += len(batch)
        for o in batch:
            wh[o["order_id"]] = {k: o[k] for k in
                                 ("order_id", "customer_id", "status", "updated_at")}
            wh[o["order_id"]]["amount"] = float(o["amount"])
            wh[o["order_id"]]["amount_text"] = o["amount"]
        for e in new_e:
            st = wh.get(e["order_id"], {}).get("status")
            events[e["event_id"]] = (e["event_id"], e["order_id"], e["kind"],
                                     e["ts_ms"], st)
        if new_o:
            cur_o = max([o["updated_at"] for o in new_o] + ([cur_o] if cur_o else []))
        if new_e:
            cur_e = max([e["event_id"] for e in new_e] + ([cur_e] if cur_e else []))
        hist = _scd2(hist, {k: {c: v for c, v in r.items() if c != "amount_text"}
                            for k, r in wh.items()})
    revenue = {}
    for r in wh.values():
        n, s, last = revenue.get(r["customer_id"], (0, Decimal(0), 0))
        revenue[r["customer_id"]] = (n + 1, s + Decimal(r["amount_text"]),
                                     max(last, r["updated_at"]))
    as_of = ELT_T0_MS + len(batches) * ELT_CYCLE_MS
    max_ms = max(r["updated_at"] for r in wh.values())
    age = int((as_of - max_ms) / 1000)
    status = "error" if age > 5400 else "warn" if age > 1800 else "pass"
    n_bad = sum(1 for r in wh.values() if r["status"] not in ACCEPTED)
    cols = ("order_id", "customer_id", "status", "amount", "updated_at")
    return {
        "merged_rows": merged,
        "orders": sorted(tuple(r[c] for c in cols) for r in wh.values()),
        "customer_revenue": sorted((k,) + v for k, v in revenue.items()),
        "order_events": sorted(events.values(), key=lambda t: t[0]),
        "snapshot": sorted((tuple(h[c] for c in cols) + (h["valid_from"], h["valid_to"])
                            for h in hist), key=repr),
        "checks": sorted([f"accepted_values:status:{n_bad}", "not_null:customer_id:0",
                          "not_null:order_id:0", "unique:order_id:0"]),
        "freshness": [f"orders:{max_ms}:{age}:{status}"],
    }


def _read(path, cols):
    t = ds.dataset(path, format="parquet").to_table(columns=list(cols))
    return [tuple(row[c] for c in cols) for row in t.to_pylist()]


def compare(exp, res):
    """Mismatches between the harness's final state and the recomputation."""
    e = res.get("elt")
    if not e:
        return ["no final ELT state in the result"]
    bad = []
    got = {
        "orders": sorted(_read(e["orders"], ("order_id", "customer_id", "status",
                                             "amount", "updated_at"))),
        "customer_revenue": sorted(_read(os.path.join(e["models"], "customer_revenue"),
                                         ("customer_id", "n_orders", "revenue",
                                          "last_update"))),
        "order_events": sorted(_read(os.path.join(e["models"], "order_events"),
                                     ("event_id", "order_id", "kind", "ts_ms",
                                      "status")), key=lambda t: t[0]),
        "snapshot": sorted(_read(e["snapshot"], ("order_id", "customer_id", "status",
                                                  "amount", "updated_at", "valid_from",
                                                  "valid_to")), key=repr),
        "checks": sorted(e["checks"]),
        "freshness": e["freshness"],
    }
    for k, v in got.items():
        if v != exp[k]:
            want = set(exp[k])
            diff = [x for x in v if x not in want][:2]
            bad.append(f"{k}: {len(v)} rows vs {len(exp[k])} expected; e.g. {diff}")
    return bad
