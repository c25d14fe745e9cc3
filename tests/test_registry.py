"""Registry-rotation invariants for the driver contract.

The driver verifies only the FIRST 50 entries of ``queries()`` each
round, so ``__spark_entry__`` orders the registered queries by the last
round in which each was hash-green in the committed
``CORRECTNESS_rNN.json`` records.  The first group of tests checks that
rule on the repo's own records; the second checks ``_rotate`` and the
record loader on synthetic input.
"""

import importlib
import json

import __spark_entry__ as entry

GREEN = {"hash_match": True, "err": None}
RED = {"hash_match": None, "err": "TypeError: unhashable type: 'list'"}
MISMATCH = {"hash_match": False, "err": None}


def _registered() -> set:
    names = set()
    for mod in ("whisper_queries", "relational", "llm_ops", "multimodal",
                "graphite_funcs", "streaming_queries"):
        names |= set(importlib.import_module(
            f"go_whisper_spark.operators.{mod}").QUERIES)
    return names


def _last_green(records: dict) -> dict:
    return {name: rnd for rnd in sorted(records)
            for name, row in records[rnd].items()
            if row["hash_match"] and row["err"] is None}


# --- the rule on the committed records -------------------------------

def test_registry_order_no_duplicates_and_total():
    queries, oracles = entry._registry()
    names = list(queries)
    assert len(names) == len(set(names))
    # Every oracle key must be a registered query.
    assert set(oracles) <= set(queries)


def test_order_is_permutation_of_registered_names():
    names = list(entry.queries())
    assert sorted(names) == sorted(_registered())


def test_order_is_nondecreasing_in_last_green_round():
    last = _last_green(entry._records())
    rounds = [last.get(n, 0) for n in entry.queries()]
    assert rounds == sorted(rounds)


def test_first_fifty_skip_the_newest_records_greens():
    records = entry._records()
    newest = records[max(records)]
    greens = {n for n, row in newest.items()
              if row["hash_match"] and row["err"] is None}
    window = list(entry.queries())[:50]
    assert len(window) == 50
    assert not set(window) & greens


# --- _rotate and the loader on synthetic records ---------------------

def test_never_checked_query_sorts_first():
    records = {3: {"a": GREEN, "b": GREEN}}
    assert entry._rotate(["a", "b", "new"], records) == ["new", "a", "b"]


def test_red_latest_check_sorts_by_earlier_green_round():
    # s_kmeans_step's history: green in r10, red in r12, green in r13.
    records = {10: {"k": GREEN}, 11: {"a": GREEN},
               12: {"k": RED, "b": GREEN, "c": MISMATCH}}
    names = ["a", "b", "c", "k"]
    assert entry._rotate(names, records) == ["c", "k", "a", "b"]
    records[13] = {"k": GREEN}
    assert entry._rotate(names, records) == ["c", "a", "b", "k"]


def test_unregistered_record_keys_are_ignored():
    records = {1: {"gone": GREEN, "a": GREEN}, 2: {"renamed_away": GREEN}}
    assert entry._rotate(["b", "a"], records) == ["b", "a"]


def test_empty_records_give_registry_order():
    assert entry._rotate(["c", "a", "b"], {}) == ["c", "a", "b"]


def test_loader_reads_only_round_records(tmp_path):
    (tmp_path / "CORRECTNESS_r20.json").write_text(json.dumps({"a": GREEN}))
    (tmp_path / "CORRECTNESS_r07.json").write_text(json.dumps({"b": RED}))
    (tmp_path / "CORRECTNESS_r20_c8.json").write_text(json.dumps({"x": GREEN}))
    (tmp_path / "BENCH_r20.json").write_text("{}")
    assert entry._records(str(tmp_path)) == {20: {"a": GREEN}, 7: {"b": RED}}
