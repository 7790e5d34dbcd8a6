"""Seeded input generators. Everything a workload feeds the package is
made here from the run's seed, so the same seed gives byte-identical
inputs and no workload reads a cached fixture.

- :func:`wire_backlog` — the ingest backlog: JSON lines in the reference
  producer's Avro-union wire shape (pure Python, no Spark).
- :func:`write_star_tables` — the TPC-H-ish star tables the dashboard
  queries read, with the row counts, column names, physical types and
  value distributions of the package's test tables (independent
  uniform columns, like those; ``python3 graftbench/tablecheck.py
  --reference DIR`` compares the two).
- :func:`chorded_paths` — the fixpoint graph: components that are each a
  path plus random chords.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

VALID_SHARE = 0.85
NULL_SHARE = 0.10  # the rest (~5 %) carry an over-length PAN
CARD_POOL = 30_000


@dataclass
class Backlog:
    """What the generator wrote, so correctness and message accounting
    never depend on the stream's own counters."""

    files: list[str] = field(default_factory=list)
    n_messages: int = 0
    n_valid_pan: int = 0
    n_null_pan: int = 0
    n_bad_pan: int = 0
    #: transaction_id -> PAN for every message whose PAN is valid.
    pan_of: dict[str, str] = field(default_factory=dict)

    @property
    def distinct_pan_share(self) -> float:
        """Distinct valid PANs over valid-PAN messages: how often the
        tokenizer's per-task memo can miss."""
        return len(set(self.pan_of.values())) / max(self.n_valid_pan, 1)


def card_pool(rng: random.Random, size: int = CARD_POOL) -> list[str]:
    """``size`` distinct valid PANs, 13..19 digits, Visa-style prefix."""
    pool: set[str] = set()
    while len(pool) < size:
        n = rng.choice((13, 15, 16, 16, 16, 19))
        pool.add("4" + "".join(rng.choices("0123456789", k=n - 1)))
    return sorted(pool)


_TEMPLATE = (
    '{"transaction_id": "%s", "customer_id": %d, "account_id": %d, '
    '"merchant_id": %d, "merchant_category_code_id": %d, "is_recurring": %s, '
    '"transaction_datetime": "2024-03-%02dT%02d:%02d:00", "amount": %.2f, '
    '"tax_amount": %.2f, "discount_amount": %.2f, "total_amount": %.2f, '
    '"transaction_channel": "%s", "card_number": %s, "card_bin": null, '
    '"card_provider": {"string": "VISA"}, "cardholder_name": null, '
    '"card_expiry_date": null, "payment_gateway_id": {"int": %d}, '
    '"device_type_id": null, "ip_address": null, "risk_score": %.2f}'
)
_CHANNELS = ("POS", "ONLINE", "ATM", "MOBILE")


def _message(rng: random.Random, txn_id: str, pan: str | None) -> str:
    """One wire message: nullable fields travel as single-key union
    wrappers (``{"string": v}``, ``{"int": v}``) or JSON null. The
    non-routing fields are sliced from one 128-bit draw."""
    x = rng.getrandbits(128)
    cust = x % 30_000
    return _TEMPLATE % (
        txn_id, cust, cust * 10 + (x >> 15 & 1), 1 + (x >> 16) % 38,
        1 + (x >> 22) % 19, "true" if (x >> 27) % 5 == 0 else "false",
        1 + (x >> 30) % 28, (x >> 35) % 24, (x >> 40) % 60,
        1 + (x >> 46) % 49_900 / 100, (x >> 62) % 5_000 / 100,
        (x >> 75) % 500 / 100, 1 + (x >> 84) % 54_900 / 100,
        _CHANNELS[(x >> 100) % 4],
        "null" if pan is None else '{"string": "%s"}' % pan,
        1 + (x >> 104) % 10, (x >> 110) % 100 / 100,
    )


def wire_backlog(out_dir: str, seed: int, n_files: int = 16,
                 per_file: int = 15_000, pool_size: int = CARD_POOL) -> Backlog:
    """Write ``n_files`` JSON-lines files of ``per_file`` messages each.
    File names sort in generation order so ``maxFilesPerTrigger`` drains
    them deterministically."""
    rng = random.Random(seed)
    pool = card_pool(rng, pool_size)
    bl = Backlog()
    os.makedirs(out_dir, exist_ok=True)
    for f in range(n_files):
        lines = []
        for i in range(per_file):
            txn = f"t{seed}-{f}-{i}"
            u = rng.random()
            if u < VALID_SHARE:
                pan = rng.choice(pool)
                bl.n_valid_pan += 1
                bl.pan_of[txn] = pan
            elif u < VALID_SHARE + NULL_SHARE:
                pan = None
                bl.n_null_pan += 1
            else:
                pan = "4%019d" % int(rng.random() * 10**19) + "7" * rng.randrange(0, 3)
                bl.n_bad_pan += 1
            lines.append(_message(rng, txn, pan))
        path = os.path.join(out_dir, f"part-{f:04d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        bl.files.append(path)
        bl.n_messages += per_file
    return bl


# ---------------------------------------------------------------------------
# Star tables
# ---------------------------------------------------------------------------

_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def write_star_tables(out_dir: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """Write one parquet file per table (the layout ``tables.load_table``
    reads) at scale ``sf`` (sf0.1: 600 k lineitem rows). Returns row
    counts per table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)

    def days(lo: str, hi: str, n: int):
        d = rng.integers(np.datetime64(lo, "D").astype(int),
                         np.datetime64(hi, "D").astype(int) + 1, n)
        return d.astype("datetime64[D]").astype("datetime64[us]")

    def money(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(choices, n: int):
        return np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)]

    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")
    ev_ts = (np.datetime64("2024-01-01", "us").astype(np.int64)
             + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)))
    tables = {
        "region": {
            "r_regionkey": (np.arange(5), i32),
            "r_name": (["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s),
        },
        "nation": {
            "n_nationkey": (np.arange(25), i32),
            "n_name": ([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": (np.arange(25) % 5, i32),
        },
        "customer": {
            "c_custkey": (np.arange(n_cust), i64),
            "c_name": ([f"Customer#{i:09d}" for i in range(n_cust)], s),
            "c_nationkey": (rng.integers(0, 25, n_cust), i32),
            "c_acctbal": (money(-999.99, 9999.99, n_cust), f64),
            "c_mktsegment": (pick(_SEGMENTS, n_cust), s),
        },
        "supplier": {
            "s_suppkey": (np.arange(n_supp), i64),
            "s_name": ([f"Supplier#{i:09d}" for i in range(n_supp)], s),
            "s_nationkey": (rng.integers(0, 25, n_supp), i32),
            "s_acctbal": (money(-999.99, 9999.99, n_supp), f64),
        },
        "part": {
            "p_partkey": (np.arange(n_part), i64),
            "p_name": (pick([f"{a} {b}" for a in _ADJ for b in _NOUN], n_part), s),
            "p_brand": (pick([f"Brand#{i}" for i in range(1, 26)], n_part), s),
            "p_type": (pick(_PTYPES, n_part), s),
            "p_size": (rng.integers(1, 51, n_part), i32),
            "p_retailprice": (900.0 + (np.arange(n_part) % 1000) / 10.0, f64),
        },
        "orders": {
            "o_orderkey": (np.arange(n_ord), i64),
            "o_custkey": (rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": (pick(("F", "O", "P"), n_ord), s),
            "o_totalprice": (money(1000.0, 500_000.0, n_ord), f64),
            "o_orderdate": (days("1995-01-01", "2001-08-01", n_ord), ts),
            "o_orderpriority": (pick(_PRIORITIES, n_ord), s),
        },
        "lineitem": {
            "l_orderkey": (rng.integers(0, n_ord, n_li), i64),
            "l_partkey": (rng.integers(0, n_part, n_li), i64),
            "l_suppkey": (rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": (rng.integers(1, 8, n_li), i32),
            "l_quantity": (rng.integers(1, 51, n_li).astype(float), f64),
            "l_extendedprice": (money(900.0, 105_000.0, n_li), f64),
            "l_discount": (rng.integers(0, 11, n_li) / 100.0, f64),
            "l_tax": (rng.integers(0, 9, n_li) / 100.0, f64),
            "l_returnflag": (pick(("A", "N", "R"), n_li), s),
            "l_linestatus": (pick(("F", "O"), n_li), s),
            "l_shipdate": (days("1995-01-02", "2001-11-04", n_li), ts),
        },
        "events": {
            "event_id": (np.arange(n_ev), i64),
            "ts": (ev_ts.astype("datetime64[us]"), ts),
            "user_id": (rng.integers(0, max(n_cust // 10, 1), n_ev), i64),
            "event_type": (pick(_EVENT_TYPES, n_ev), s),
            "value": (np.round(rng.exponential(50.0, n_ev), 2), f64),
            "props": ([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s),
        },
    }
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in tables.items():
        tb = pa.table({c: pa.array(v, type=t) for c, (v, t) in cols.items()})
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tb.num_rows
    return counts


# ---------------------------------------------------------------------------
# Graph
# ---------------------------------------------------------------------------

def chorded_paths(seed: int, n_nodes: int = 20_000, comp_size: int = 50,
                  n_edges: int = 29_000) -> list[tuple[int, int]]:
    """Undirected ``u < v`` edge list: ``n_nodes // comp_size`` components,
    each a path over its nodes plus random chords, ~``n_edges`` in all.
    Node ids are shuffled so a component's minimum id is not its path
    end (which would make min-label propagation trivially short)."""
    rng = random.Random(seed)
    ids = list(range(n_nodes))
    rng.shuffle(ids)
    n_comp = n_nodes // comp_size
    chords = max(n_edges // n_comp - (comp_size - 1), 0)
    edges: set[tuple[int, int]] = set()
    for c in range(n_comp):
        members = ids[c * comp_size:(c + 1) * comp_size]
        local: set[tuple[int, int]] = set()
        for a, b in zip(members, members[1:]):
            local.add((min(a, b), max(a, b)))
        target = len(local) + chords
        while len(local) < target:
            a, b = rng.sample(members, 2)
            local.add((min(a, b), max(a, b)))
        edges |= local
    return sorted(edges)
