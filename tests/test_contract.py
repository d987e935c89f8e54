"""Pin the driver-window policy of queries()/oracle_sql().

The driver's correctness checker walks queries() in dict order and
stops after DRIVER_PREFIX_BUDGET keys. contract.py computes that order
from the committed CORRECTNESS_r<N>.json files and git history. The
policy tests feed its pieces synthetic evidence, key sets and git
repos; the real-repo tests pin what the window must hold whatever
evidence has landed, so a new CORRECTNESS file never breaks them.
"""

from __future__ import annotations

import json
import os
import subprocess

import flink_large_window_spark.api as api
from flink_large_window_spark import contract
from flink_large_window_spark.contract import (
    CONTRACT_KEYS,
    DRIVER_PREFIX_BUDGET,
    driver_order,
)
from flink_large_window_spark.registry import REGISTRY

#: The declared rows-only keys (no SQL oracle BY DESIGN — approx
#: sketches, wall-clock rate smoke, runtime drop accounting; each
#: carries a compensating pytest). Any OTHER oracle-less key in the
#: window is a bug.
ROWS_ONLY_KEYS = frozenset(
    {
        "agg_approx_percentile",
        "agg_approx_count_distinct",
        "agg_hll_sketch_merge",
        "source_rate_stream",
        "stream_late_drop",
        "window_large_day_stream",
    }
)


def _window() -> list[str]:
    return list(api.queries())[:DRIVER_PREFIX_BUDGET]


# -- policy, on synthetic inputs -------------------------------------


def test_never_checked_then_changed_then_unchanged():
    keys = ["u_old", "c_new", "n_1", "u_new", "c_old", "n_2"]
    evidence = {"u_old": 1, "u_new": 9, "c_old": 2, "c_new": 8}
    changed = {"c_old", "c_new", "n_2"}  # a never-checked key stays first
    assert driver_order(keys, evidence, changed) == [
        "n_1", "n_2", "c_old", "c_new", "u_old", "u_new",
    ]


def test_older_evidence_first_within_class():
    keys = ["a", "b", "c", "d"]
    evidence = {"a": 7, "b": 3, "c": 5, "d": 1}
    assert driver_order(keys, evidence, set()) == ["d", "b", "c", "a"]
    assert driver_order(keys, evidence, set(keys)) == ["d", "b", "c", "a"]


def test_ties_go_contract_then_registration_order():
    late, early = CONTRACT_KEYS[10], CONTRACT_KEYS[3]
    keys = ["x_extra", late, "y_extra", early]
    evidence = dict.fromkeys(keys, 4)
    assert driver_order(keys, evidence, set()) == [
        early, late, "x_extra", "y_extra",
    ]
    assert driver_order(keys, {}, set()) == [
        early, late, "x_extra", "y_extra",
    ]


def test_rows_only_evidence_counts_including_zero_rows(tmp_path):
    def row(**kw):
        return {"hash_match": False, "spark_rows": None, "err": None, **kw}

    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps({
        "hashed": row(hash_match=True, spark_rows=5),
        "rows_only": row(err="no_oracle", spark_rows=12),
        "zero_rows": row(err="no_oracle", spark_rows=0),
        "no_run": row(err="no_oracle"),
        "mismatch": row(spark_rows=5),
        "crashed": row(err="boom"),
    }))
    (tmp_path / "CORRECTNESS_r11.json").write_text(json.dumps({
        "hashed": row(hash_match=True, spark_rows=5),
        "mismatch": row(spark_rows=5),
    }))
    (tmp_path / "CORRECTNESS_notes.json").write_text("{}")
    assert contract._evidence_rounds(str(tmp_path)) == {
        "hashed": 11, "rows_only": 3, "zero_rows": 3,
    }


def test_no_evidence_and_no_git_puts_contract_keys_first(tmp_path):
    root = str(tmp_path)
    evidence = contract._evidence_rounds(root)
    files = {k: fn.__code__.co_filename for k, fn in REGISTRY.items()}
    changed = contract._changed_keys(root, files, evidence)
    assert evidence == {} and changed == set()
    order = driver_order(REGISTRY, evidence, changed)
    assert tuple(order[: len(CONTRACT_KEYS)]) == CONTRACT_KEYS
    extras = [k for k in REGISTRY if k not in CONTRACT_KEYS]
    assert order[len(CONTRACT_KEYS):] == extras


def test_changed_since_marker_includes_marker_commit(tmp_path):
    root = str(tmp_path)

    def git(*args):
        subprocess.run(
            ["git", "-c", "user.name=t", "-c", "user.email=t@t",
             "-c", "commit.gpgsign=false", *args],
            cwd=root, check=True, capture_output=True,
        )

    def commit(subject, *files):
        for f in files:
            with open(os.path.join(root, f), "a") as fh:
                fh.write(subject + "\n")
        git("add", "-A")
        git("commit", "--allow-empty", "-q", "-m", subject)

    git("init", "-q")
    commit("add modules", "a.py", "b.py", "c.py")
    commit("round 1: verdict/correctness")
    commit("touch a after the r1 stamp", "a.py")
    commit("round 2: verdict/correctness", "b.py")  # marker included
    commit("touch c", "c.py")
    files = {k: os.path.join(root, f"{k}.py") for k in "abcd"}
    evidence = {"a": 1, "b": 2, "c": 3}  # r3 has no marker: fresh
    assert contract._changed_keys(root, files, evidence) == {"a", "b"}
    assert contract._changed_keys(root, files, {"a": 2, "c": 1}) == {"c"}


# -- the real repo ---------------------------------------------------


def test_contract_has_76_unique_keys():
    assert len(CONTRACT_KEYS) == 76
    assert len(set(CONTRACT_KEYS)) == 76


def test_every_contract_key_is_registered():
    q = api.queries()
    missing = [k for k in CONTRACT_KEYS if k not in REGISTRY]
    assert not missing, f"contract keys not registered: {missing}"
    assert all(q[k] is REGISTRY[k] for k in CONTRACT_KEYS)


def test_window_is_50_unique_registered_keys():
    window = _window()
    assert len(set(window)) == len(window) == DRIVER_PREFIX_BUDGET
    assert set(window) <= set(REGISTRY)
    assert list(api.queries()) == list(api.queries())  # deterministic


def test_no_contract_key_lost_overall():
    q = api.queries()
    assert set(q) == set(REGISTRY)
    # sanity: registry did not shrink below round-2 size
    assert len(q) >= 182


def test_oracle_sql_subset_and_aligned():
    q = api.queries()
    oracles = api.oracle_sql()
    assert set(oracles) <= set(q)
    # oracle dict must present the same priority order (driver zips them)
    assert list(oracles) == [k for k in q if k in oracles]


def test_stream_twins_derive_their_oracle_or_say_why():
    # A *_stream key with a same-named batch key either derives its
    # oracle as SELECT <map> FROM (<batch ORACLES text>) AS b WHERE
    # <closing rule at the final watermark> (or reads the batch oracle
    # as it is), or keeps its own with a recorded reason. The derived
    # form contains the batch SQL verbatim, so it reads no builder and
    # no Pattern.
    from flink_large_window_spark.streaming.twins import OWN_ORACLE

    oracles = api.oracle_sql()
    twins = {
        k: k[: -len("_stream")]
        for k in REGISTRY
        if k.endswith("_stream") and k[: -len("_stream")] in REGISTRY
    }
    assert set(OWN_ORACLE) <= set(twins)
    derived = []
    for key, batch in twins.items():
        sql, base = oracles.get(key), oracles.get(batch)
        wrapped = f" FROM (\n{base}\n) AS b\nWHERE "
        is_derived = base is not None and (
            sql == base
            or (
                sql is not None
                and sql.startswith("SELECT ")
                and wrapped in sql
                and "(SELECT MAX(ts) FROM events" in sql.split(wrapped)[1]
            )
        )
        assert is_derived != (key in OWN_ORACLE), key
        if is_derived:
            derived.append(key)
        else:
            assert OWN_ORACLE[key].strip(), key
    assert len(derived) >= 25, derived


def test_recheck_keys_have_sql_oracles():
    # The point of a window slot is hash-match evidence, except for the
    # declared rows-only keys, whose rows>0 evidence also ages.
    oracles = api.oracle_sql()
    missing = [
        k for k in _window() if k not in oracles and k not in ROWS_ONLY_KEYS
    ]
    assert not missing, f"window keys without SQL oracle: {missing}"


def test_driver_window_spends_no_slot_on_old_evidence():
    # No never-checked key may sit outside the window while a key that
    # already has driver evidence holds a slot.
    led = contract.ledger()
    window = _window()
    unchecked = [k for k, ev, _ in led if ev is None]
    if len(unchecked) >= DRIVER_PREFIX_BUDGET:
        assert window == unchecked[:DRIVER_PREFIX_BUDGET]
    else:
        assert window[: len(unchecked)] == unchecked


def test_window_covers_changed_since_stamp_keys():
    # queries() follows the ledger: never-checked keys, then keys whose
    # implementation changed since their stamp, then the rest, oldest
    # evidence first within each class. So no unchanged key takes a
    # slot while a changed key waits outside the window.
    led = contract.ledger()
    assert [k for k, _, _ in led] == list(api.queries())
    ranks = [(ev is not None, not ch, ev or 0) for _, ev, ch in led]
    assert ranks == sorted(ranks)


def test_driver_coverage_union_closes_contract():
    # contract rows are either already driver-checked or inside the
    # window.
    led = contract.ledger()
    window = set(_window())
    uncovered = [
        k for k, ev, _ in led
        if ev is None and k in CONTRACT_KEYS and k not in window
    ]
    assert not uncovered, f"contract keys outside driver evidence: {uncovered}"
