"""Spark-free tests of the benchmark's own code: the generator, the
expected-state oracle, the span arithmetic and the metric contract.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import threading

import numpy as np
import pandas as pd
import pytest

import corpus
import dms
import gen
from probes import tree_diff
from tracer import Patcher, Span, Tracer, covered, self_times, subtree, worker_summed

SPEC_FILE = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")
CUST = gen.TPCH["customer"][0]


def cust(rows):
    return pd.DataFrame(rows, columns=["c_custkey", "c_name", "c_nationkey",
                                       "c_acctbal", "c_mktsegment"])


def ops(rows):
    return pd.DataFrame(rows, columns=["op", "c_custkey", "c_name", "c_nationkey",
                                       "c_acctbal", "c_mktsegment"])


# --- generator determinism --------------------------------------------------


def test_tables_are_a_function_of_the_seed():
    a = gen.tpch_tables(np.random.default_rng(7), 0.001)
    b = gen.tpch_tables(np.random.default_rng(7), 0.001)
    c = gen.tpch_tables(np.random.default_rng(8), 0.001)
    for t, (spec, _) in gen.TPCH.items():
        assert gen.digest(a[t], spec) == gen.digest(b[t], spec)
    assert gen.digest(a["lineitem"], gen.TPCH["lineitem"][0]) != \
        gen.digest(c["lineitem"], gen.TPCH["lineitem"][0])


def test_change_files_and_landing_are_a_function_of_the_seed(tmp_path):
    def land(root, seed):
        rng = np.random.default_rng(seed)
        src = gen.TableSource("orders", "orders", gen.tpch_tables(rng, 0.001)["orders"],
                              dms.MUTABLE["orders"], gen.tpch_sizes(0.001))
        for c in range(3):
            src.land(str(root), "erp", gen.cdc_file_name(c, 1), src.make_changes(rng, 10))
        names = sorted(os.listdir(root / "erp" / "orders"))
        return names, [(root / "erp" / "orders" / n).read_bytes() for n in names]

    assert land(tmp_path / "a", 3) == land(tmp_path / "b", 3)
    assert land(tmp_path / "a", 3)[1] != land(tmp_path / "c", 4)[1]


def test_corpus_inputs_are_a_function_of_the_seed():
    d1, d2 = (gen.documents(np.random.default_rng(5), 200) for _ in range(2))
    pd.testing.assert_frame_equal(d1, d2)
    e1, e2 = (gen.embeddings(np.random.default_rng(5), 100) for _ in range(2))
    assert np.array_equal(np.stack(e1.embedding), np.stack(e2.embedding))
    assert not d1.equals(gen.documents(np.random.default_rng(6), 200))


def test_cdc_file_names_sort_by_time():
    names = [gen.cdc_file_name(c, s) for c in (0, 1, 40) for s in (1, 2)]
    assert names == sorted(names)
    assert all(re.fullmatch(r"2\d{7}-\d{9}\.csv", n) for n in names)


def test_changes_cover_the_must_cover_cases():
    rng = np.random.default_rng(1)
    src = gen.TableSource("customer", "customer",
                          gen.tpch_tables(rng, 0.001)["customer"],
                          dms.MUTABLE["customer"], gen.tpch_sizes(0.001))
    live = set(src.state.c_custkey)
    ch = src.make_changes(rng, 20)
    per_key = ch.groupby("c_custkey").op.agg(list)
    assert (per_key.str.len() > 1).any()  # several ops for one key in a file
    absent = ch[~ch.c_custkey.isin(live)]
    assert {"D", "U", "I"} <= set(absent.op)  # D and U on keys never seen
    assert set(ch.op) == {"I", "U", "D"}


# --- the expected-state oracle, on hand-computed cases ----------------------


BASE = cust([(1, "a", 1, 1.0, "X"), (2, "b", 2, 2.0, "Y"), (3, "c", 3, 3.0, "Z")])


def as_set(df):
    return set(map(tuple, gen.canonical(df, CUST).itertuples(index=False)))


def test_oracle_several_ops_for_one_key_in_one_file():
    ch = ops([("I", 9, "n", 9, 9.0, "X"), ("U", 9, "m", 9, 8.0, "X"),
              ("U", 2, "b2", 2, 2.5, "Y"), ("D", 2, "b2", 2, 2.5, "Y")])
    got = gen.fold_changes(BASE, ch, ["c_custkey"])
    assert as_set(got) == {(1, "a", 1, 1.0, "X"), (3, "c", 3, 3.0, "Z"),
                           (9, "m", 9, 8.0, "X")}


def test_oracle_later_file_wins_in_name_order():
    early = ops([("U", 1, "early", 1, 1.0, "X")])
    late = ops([("U", 1, "late", 1, 1.0, "X"), ("D", 3, "c", 3, 3.0, "Z")])
    log = [("20240102-000000001.csv", late), ("20240101-000000001.csv", early)]
    got = gen.expected_from_log(BASE, log, ["c_custkey"])
    assert as_set(got) == {(1, "late", 1, 1.0, "X"), (2, "b", 2, 2.0, "Y")}


def test_oracle_delete_on_absent_row_is_a_no_op():
    got = gen.fold_changes(BASE, ops([("D", 42, "x", 0, 0.0, "X")]), ["c_custkey"])
    assert as_set(got) == as_set(BASE)


def test_oracle_update_on_absent_row_inserts():
    got = gen.fold_changes(BASE, ops([("U", 42, "x", 0, 0.5, "X")]), ["c_custkey"])
    assert as_set(got) == as_set(BASE) | {(42, "x", 0, 0.5, "X")}


def test_oracle_rerun_with_no_new_files_changes_nothing():
    assert as_set(gen.expected_from_log(BASE, [], ["c_custkey"])) == as_set(BASE)


def test_oracle_incremental_fold_equals_whole_log_fold():
    rng = np.random.default_rng(2)
    initial = gen.tpch_tables(rng, 0.001)["part"]
    src = gen.TableSource("part", "part", initial, dms.MUTABLE["part"], gen.tpch_sizes(0.001))
    for c in range(4):
        src.log.append((gen.cdc_file_name(c, 1), ch := src.make_changes(rng, 12)))
        src.state = gen.fold_changes(src.state, ch, src.pks)
    spec = gen.TPCH["part"][0]
    assert gen.digest(src.state, spec) == \
        gen.digest(gen.expected_from_log(initial, src.log, src.pks), spec)


def test_digest_ignores_row_order_but_not_values():
    shuffled = BASE.sample(frac=1, random_state=1)
    assert gen.digest(shuffled, CUST) == gen.digest(BASE, CUST)
    changed = BASE.assign(c_acctbal=[1.0, 2.0, 3.5])
    assert gen.digest(changed, CUST) != gen.digest(BASE, CUST)


def test_components_label_with_smallest_reachable_id():
    assert corpus.components([(5, 7), (7, 2), (9, 10)]) == {
        2: 2, 5: 2, 7: 2, 9: 9, 10: 9}


# --- span arithmetic ---------------------------------------------------------


def sp(sid, start, end, parent=None, thread=1):
    return Span(sid, f"s{sid}", start, end, parent, "t", thread)


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(1, 3), (2, 5)], 2.5, 4) == 1.5
    assert covered([], 0, 1) == 0


def test_self_times_on_a_synthetic_tree():
    # root [0,10] on the main thread; A [1,4] and the drain D [4,9] on it;
    # workers run W1 [4,8] (with a child [5,6]) and W2 [5,9] under D
    spans = [sp(1, 0, 10), sp(2, 1, 4, 1), sp(3, 4, 9, 1),
             sp(4, 4, 8, 3, thread=2), sp(5, 5, 6, 4, thread=2),
             sp(6, 5, 9, 3, thread=3)]
    st = self_times(spans)
    assert st == pytest.approx({1: 2.0, 2: 3.0, 3: 0.0, 4: 3.0, 5: 1.0, 6: 4.0})
    # main thread 10 s, plus the workers' 8 s, minus the 5 s the main
    # thread waited on them in the drain
    assert worker_summed(spans, spans[0]) == pytest.approx(13.0)
    assert sum(st.values()) == pytest.approx(13.0)
    assert {s.sid for s in subtree(spans, spans[2])} == {3, 4, 5, 6}


def test_tracer_parents_worker_thread_spans_on_the_fanout_span():
    tr = Tracer()
    with tr.span("cycle", trace="cycle-0") as root:
        with tr.span("main-child"):
            pass

        def work():
            with tr.span("item"):
                with tr.span("inner"):
                    pass

        with tr.span("drain", fanout=True) as drain:
            threads = [threading.Thread(target=work) for _ in range(3)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=10)
            assert not any(t.is_alive() for t in threads)
        t = threading.Thread(target=work)
        t.start()
        t.join(timeout=10)
    by = {}
    for s in tr.spans:
        by.setdefault(s.name, []).append(s)
    assert by["main-child"][0].parent == root.sid
    assert [s.parent for s in by["item"]].count(drain.sid) == 3
    assert [s.parent for s in by["item"]].count(root.sid) == 1
    assert {s.parent for s in by["inner"]} == {s.sid for s in by["item"]}
    assert {s.trace for s in tr.spans} == {"cycle-0"}
    assert sum(self_times(tr.spans).values()) == pytest.approx(worker_summed(tr.spans, root))


def test_patcher_restores_originals():
    class Owner:
        def f(self):
            return 1

    tr = Tracer()
    p = Patcher()
    p.set(Owner, "f", tr.timed("owner.f", Owner.__dict__["f"]))
    assert Owner().f() == 1 and [s.name for s in tr.spans] == ["owner.f"]
    p.restore()
    Owner().f()
    assert len(tr.spans) == 1


def test_tree_diff_tells_writes_from_links():
    before = {"t/a.parquet": ((1, 10), 100)}
    after = {
        "t/a.parquet": ((1, 10), 100),       # untouched
        "g/c1/a.parquet": ((1, 10), 100),    # hard link of an old file
        "t2/b.parquet": ((2, 11), 50),       # new file
        "g/c2/b.parquet": ((2, 11), 50),     # link of the new file
        "t/a2.parquet": ((1, 99), 70),       # reused inode, new file
    }
    assert tree_diff(before, after) == {
        "files_written": 2, "files_linked": 2, "bytes_written": 120}


# --- the metric contract -----------------------------------------------------


NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def test_benchmark_json_follows_the_contract():
    with open(SPEC_FILE) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    e2e, layer = spec["end_to_end"], spec["per_layer"]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layer) <= 128
    assert 2 <= len(spec["workloads"]) <= 8
    names = [m["name"] for m in e2e + layer] + [w["name"] for w in spec["workloads"]]
    assert all(NAME.fullmatch(n) for n in names)
    assert len(set(m["name"] for m in e2e + layer)) == len(e2e) + len(layer)
    assert all(UNIT.fullmatch(m["unit"]) for m in e2e + layer)
    assert all(m["better"] in ("lower", "higher") for m in e2e + layer)
    assert all(0 < m["bound"] <= 0.25 for m in e2e)
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in e2e)
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200
               for w in spec["workloads"])
