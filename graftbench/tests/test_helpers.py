"""Unit tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest graftbench/tests -q
"""

from __future__ import annotations

import filecmp
import json

import pytest

from graftbench import check, gen
from graftbench.stats import covered, median_n, net_of, self_time
from graftbench.trace import Tracer


# -- medians and sample counts ------------------------------------------------

def test_median_reports_value_and_sample_count():
    assert median_n([3.0, 1.0, 2.0]) == (2.0, 3)
    assert median_n(x for x in [4.0, 1.0, 3.0, 2.0]) == (2.5, 4)


def test_median_of_nothing_raises():
    with pytest.raises(ValueError):
        median_n([])


# -- span self time -----------------------------------------------------------

def test_self_time_without_children_is_duration():
    assert self_time(1.0, 4.0, []) == pytest.approx(3.0)


def test_self_time_subtracts_disjoint_children():
    assert self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == pytest.approx(7.0)


def test_overlapping_children_count_once():
    # Two concurrent sink writes overlap in [2, 3].
    assert covered([(1.0, 3.0), (2.0, 4.0)], 0.0, 10.0) == pytest.approx(3.0)
    assert self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0)]) == pytest.approx(7.0)


def test_children_are_clipped_to_the_parent():
    assert self_time(2.0, 5.0, [(0.0, 3.0), (4.0, 9.0)]) == pytest.approx(1.0)


def test_net_of_keeps_noise_visible():
    assert net_of(1.5, 0.5) == pytest.approx(1.0)
    assert net_of(0.49, 0.5) == pytest.approx(-0.01)


def test_disabled_tracer_records_nothing():
    tr = Tracer(spark=None, run_id="r", enabled=False)
    with tr.span("x") as sp:
        assert sp is None
    assert tr.spans == []


# -- generator determinism ----------------------------------------------------

def test_backlog_is_deterministic_per_seed(tmp_path):
    a = gen.wire_backlog(str(tmp_path / "a"), seed=5, n_files=2, per_file=500, pool_size=300)
    b = gen.wire_backlog(str(tmp_path / "b"), seed=5, n_files=2, per_file=500, pool_size=300)
    c = gen.wire_backlog(str(tmp_path / "c"), seed=6, n_files=2, per_file=500, pool_size=300)
    for fa, fb in zip(a.files, b.files):
        assert filecmp.cmp(fa, fb, shallow=False)
    assert a.pan_of == b.pan_of
    assert a.pan_of != c.pan_of


def test_backlog_mix_and_accounting(tmp_path):
    bl = gen.wire_backlog(str(tmp_path), seed=1, n_files=4, per_file=2_000, pool_size=1_000)
    assert bl.n_messages == 8_000 == bl.n_valid_pan + bl.n_null_pan + bl.n_bad_pan
    assert 0.82 < bl.n_valid_pan / bl.n_messages < 0.88
    assert 0.08 < bl.n_null_pan / bl.n_messages < 0.12
    assert all(13 <= len(p) <= 19 and p.isdigit() for p in bl.pan_of.values())
    msgs = [json.loads(line) for f in bl.files for line in open(f)]
    assert len(msgs) == bl.n_messages
    pans = [m["card_number"] and m["card_number"]["string"] for m in msgs]
    assert sum(p is None for p in pans) == bl.n_null_pan
    assert sum(p is not None and len(p) > 19 for p in pans) == bl.n_bad_pan
    assert {m["transaction_id"]: p for m, p in zip(msgs, pans)
            if p is not None and len(p) <= 19} == bl.pan_of
    assert bl.distinct_pan_share == len(set(bl.pan_of.values())) / bl.n_valid_pan


def test_star_tables_are_deterministic_per_seed(tmp_path):
    import pyarrow.parquet as pq

    n1 = gen.write_star_tables(str(tmp_path / "a"), seed=3, sf=0.001)
    n2 = gen.write_star_tables(str(tmp_path / "b"), seed=3, sf=0.001)
    assert n1 == n2 and n1["lineitem"] == 6_000
    for name in n1:
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        tb = pq.read_table(tmp_path / "b" / f"{name}.parquet")
        assert ta.equals(tb), name
    gen.write_star_tables(str(tmp_path / "c"), seed=4, sf=0.001)
    other = pq.read_table(tmp_path / "c" / "lineitem.parquet")
    assert not other.equals(pq.read_table(tmp_path / "a" / "lineitem.parquet"))


def test_graph_is_deterministic_and_shaped():
    e1 = gen.chorded_paths(9, n_nodes=1_000, comp_size=50, n_edges=1_450)
    assert e1 == gen.chorded_paths(9, n_nodes=1_000, comp_size=50, n_edges=1_450)
    assert e1 != gen.chorded_paths(10, n_nodes=1_000, comp_size=50, n_edges=1_450)
    assert all(u < v for u, v in e1) and len(set(e1)) == len(e1)
    labels = check.union_find_labels(e1)
    assert len(labels) == 1_000 and len(set(labels.values())) == 20


# -- oracles ------------------------------------------------------------------

def test_union_find_labels_are_component_minimums():
    assert check.union_find_labels([(5, 7), (7, 2), (9, 10)]) == {
        5: 2, 7: 2, 2: 2, 9: 9, 10: 9}


def test_kcore_peel():
    triangle_plus_tail = [(1, 2), (2, 3), (1, 3), (3, 4)]
    assert check.kcore_peel(triangle_plus_tail, 2) == {(1, 2), (2, 3), (1, 3)}
    assert check.kcore_peel(triangle_plus_tail, 3) == set()
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert check.kcore_peel(k4 + [(3, 9)], 3) == set(k4)


def test_same_rows_is_order_insensitive_with_float_tolerance():
    from decimal import Decimal

    a = [(1, 0.1 + 0.2, "x"), (2, None, "y")]
    b = [(2, None, "y"), (1, Decimal("0.3"), "x")]
    assert check.same_rows(["k", "v", "s"], a, ["k", "v", "s"], b) is None
    assert check.same_rows(["k", "v", "s"], a, ["k", "s", "v"],
                           [(r[0], r[2], r[1]) for r in b]) is None
    assert "row count" in check.same_rows(["k"], [(1,)], ["k"], [])
    assert "columns" in check.same_rows(["k"], [(1,)], ["j"], [(1,)])
    assert "differing" in check.same_rows(["k"], [(1.0,)], ["k"], [(1.001,)])


def test_audit_sinks_counts_and_token_consistency(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    bl = gen.Backlog(n_messages=4, n_valid_pan=2, n_null_pan=1, n_bad_pan=1,
                     pan_of={"t1": "4111111111111", "t2": "4111111111111"})
    valid = tmp_path / "valid" / "batch_id=0"
    errors = tmp_path / "errors" / "batch_id=0"
    valid.mkdir(parents=True)
    errors.mkdir(parents=True)

    def write(tokens):
        pq.write_table(pa.table({
            "transaction_id": ["t1", "t2", "t3"],
            "masked_card_number": ["411111******1111", "411111******1111", None],
            "card_token": tokens,
        }), valid / "part-0.parquet")

    pq.write_table(pa.table({"transaction_id": ["t4"]}), errors / "part-0.parquet")
    write(["0000012345678901", "0000012345678901", None])
    assert check.audit_sinks(str(tmp_path / "valid"), str(tmp_path / "errors"), bl) == (0, [])
    write(["0000012345678901", "0000099999999999", None])
    n, problems = check.audit_sinks(str(tmp_path / "valid"), str(tmp_path / "errors"), bl)
    assert n == 1 and "inconsistent token" in problems[0]
    write(["4111111111111", "4111111111111", None])
    n, problems = check.audit_sinks(str(tmp_path / "valid"), str(tmp_path / "errors"), bl)
    assert any("raw PANs" in p for p in problems)


def test_span_records_carry_self_time():
    from graftbench.trace import Span

    tr = Tracer(spark=None, run_id="r", enabled=False)
    tr.spans = [Span(1, "q", None, "r", 0.0, 10.0), Span(2, "build", 1, "r", 1.0, 4.0),
                Span(3, "exec", 1, "r", 4.0, 9.0)]
    rec = {r["name"]: r for r in tr.records()}
    assert rec["q"]["self_s"] == pytest.approx(2.0)
    assert rec["build"]["self_s"] == pytest.approx(3.0)
    assert rec["exec"]["parent"] == 1 and rec["exec"]["run_id"] == "r"
