"""The self-rotating driver-gate order (VERDICT r4 task #1): queries()
must put the canaries first, then every key with no committed driver
hash-matched CORRECTNESS row, then the rest stalest-first — derived purely from the
committed CORRECTNESS_r*.json files, deterministically."""

from __future__ import annotations

import glob
import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _entry_module():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_rotation_test", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _last_round_map(keys):
    last = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(path).split("_r")[1].split(".")[0])
        with open(path) as fh:
            rows = json.load(fh)
        for k, row in rows.items():
            if k in keys and row.get("hash_match") is True:
                last[k] = max(last.get(k, 0), rnd)
    return last


def test_canaries_lead():
    mod = _entry_module()
    keys = list(mod.queries())
    assert keys[:3] == list(mod._GATE_CANARIES)


def test_never_checked_precede_checked():
    mod = _entry_module()
    keys = list(mod.queries())
    last = _last_round_map(set(keys))
    rest = keys[3:]
    seen_checked = False
    for k in rest:
        if k in last:
            seen_checked = True
        else:
            assert not seen_checked, (
                f"never-checked key {k} appears after a checked key"
            )


def test_checked_keys_are_stalest_first():
    mod = _entry_module()
    keys = list(mod.queries())
    last = _last_round_map(set(keys))
    rounds = [last[k] for k in keys[3:] if k in last]
    assert rounds == sorted(rounds)


def test_order_is_deterministic():
    mod = _entry_module()
    assert list(mod.queries()) == list(mod.queries())


def test_rotation_is_pure_function_of_committed_state(tmp_path, monkeypatch):
    """With a synthetic CORRECTNESS history the order must follow it:
    unchecked keys first (literal order), then by most-recent round."""
    mod = _entry_module()
    lit = {k: None for k in ["index_stats", "bm25_topk", "wand_topk",
                             "a", "b", "c", "d"]}
    ok = {"hash_match": True}
    hist = {
        "CORRECTNESS_r01.json": {"a": ok, "c": ok},
        "CORRECTNESS_r02.json": {"c": ok, "d": ok},
    }
    _commit_history(tmp_path, monkeypatch, mod, hist)
    got = list(mod._rotate_gate_window(lit))
    assert got == ["index_stats", "bm25_topk", "wand_topk",
                   "b", "a", "c", "d"]


def test_unverified_rows_do_not_count_as_checked(tmp_path, monkeypatch):
    """A key whose only committed rows are errors or ``no_oracle`` (no
    hash match) stays in the never-checked group, ahead of checked keys."""
    mod = _entry_module()
    lit = {k: None for k in ["index_stats", "bm25_topk", "wand_topk",
                             "a", "b", "c", "d"]}
    unverified = {"rows_match": None, "schema_match": None, "hash_match": None,
                  "spark_rows": 50, "oracle_rows": None}
    hist = {
        "CORRECTNESS_r01.json": {
            "a": {**unverified, "err": "no_oracle"},
            "b": {"hash_match": True},
        },
        "CORRECTNESS_r02.json": {
            "c": {**unverified, "spark_rows": None, "err": "Py4JJavaError: boom"},
            "d": "not a row",
        },
    }
    _commit_history(tmp_path, monkeypatch, mod, hist)
    got = list(mod._rotate_gate_window(lit))
    assert got == ["index_stats", "bm25_topk", "wand_topk",
                   "a", "c", "d", "b"]


def _commit_history(tmp_path, monkeypatch, mod, hist):
    """Write *hist* as committed CORRECTNESS files next to a stand-in
    __spark_entry__.py that the rotation reads."""
    for name, rows in hist.items():
        (tmp_path / name).write_text(json.dumps(rows))
    real_abspath = os.path.abspath

    monkeypatch.setattr(
        mod.os.path, "abspath",
        lambda p: str(tmp_path / "__spark_entry__.py")
        if p.endswith("__spark_entry__.py") else real_abspath(p),
    )
