"""Self-test of the benchmark's generator and oracle (no Spark needed).

    python3 perfbench/selftest.py

Checks that the same seed gives identical inputs and another seed
different ones, that the oracle's key ids match Spark's xxhash64, that
an exact top-k passes, and that a corrupted top-k, a wrong SET count
and a wrong GETPRED row set are all flagged.
"""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
import oracle as O  # noqa: E402

# xxhash64(array(1.0f, -2.5f, 0.0f)) and xxhash64(array(-0.0f)) as Spark
# computes them (seed 42, one hashInt per element's float bits).
SPARK_IDS = {(1.0, -2.5, 0.0): -2681600925293063156, (-0.0,): 3614696996920510707}


def _rows(ids, s):
    return [{"id": int(i), "similarity": float(v)} for i, v in zip(ids, s)]


def test_seeded_inputs():
    for name in gen.MIXES:
        a = gen.fingerprint(gen.make_workload(name, 7), 40)
        assert a == gen.fingerprint(gen.make_workload(name, 7), 40), name
        assert a != gen.fingerprint(gen.make_workload(name, 8), 40), name


def test_mix_cycle():
    for name, mix in gen.MIXES.items():
        order = gen.cycle(mix)
        assert len(order) == gen.DECK
        assert {k: order.count(k) for k in mix} == {k: n for k, (n, _c) in mix.items()}


def test_key_ids_match_spark():
    for key, want in SPARK_IDS.items():
        got = int(O.key_ids(np.array([key], dtype=np.float32))[0])
        assert got == want, (key, got, want)


def test_topk_oracle_flags_corruption():
    rng = np.random.default_rng(0)
    keys = rng.standard_normal((500, 16)).astype(np.float32)
    ids = O.key_ids(keys)
    probe = keys[3] + 0.1
    for metric in (O.COSINE, O.EUCLIDEAN):
        s = O.scores(keys, probe, metric)
        top = O.ranked(ids, s, metric)[:10]
        good = _rows(ids[top], s[top])
        assert O.check_topk([r["id"] for r in good], [r["similarity"] for r in good],
                            ids, s, metric, 10) is None

        def flagged(rows):
            return O.check_topk([r["id"] for r in rows], [r["similarity"] for r in rows],
                                ids, s, metric, 10)

        outsider = O.ranked(ids, s, metric)[200]
        swapped = good[:9] + _rows(ids[[outsider]], s[[outsider]])
        assert flagged(swapped), "a row from outside the top-k must be flagged"
        shifted = [dict(r) for r in good]
        shifted[4]["similarity"] += 0.01
        assert flagged(shifted), "a wrong score must be flagged"
        assert flagged(good[::-1]), "a reversed order must be flagged"
        assert flagged(good[:9]), "a short result must be flagged"


def test_checker_flags_wrong_counts():
    wl = gen.make_workload("ingest_mixed", 3)
    checker = checks.Checker(wl)
    op = next(op for op in wl.ops if op.kind == "set")
    want = op.expect
    ok = SimpleNamespace(inserted=want["inserted"], updated=want["updated"])
    assert checker.check(op, ok) is None
    bad = SimpleNamespace(inserted=want["inserted"] + 1, updated=want["updated"])
    assert checker.check(op, bad), "a wrong SET count must be flagged"
    op = next(op for op in wl.ops if op.kind == "delkey")
    assert checker.check(op, SimpleNamespace(deleted_count=op.expect["deleted"])) is None
    assert checker.check(op, SimpleNamespace(deleted_count=0)), "a wrong DELKEY count"


def test_checker_flags_wrong_getpred_rows():
    wl = gen.make_workload("point_dsl", 3)
    checker = checks.Checker(wl)
    op = gen.Op("getpred", "read", {"cat": "c7"})
    ids = [i for i, (_k, m) in wl.store.rows.items() if m["cat"] == "c7"]
    assert checker.check(op, [{"id": i} for i in ids]) is None
    assert checker.check(op, [{"id": i} for i in ids[1:]]), "a missing row"
    assert checker.check(op, [{"id": i} for i in ids + ids[:1]]), "a duplicated row"


def main() -> int:
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
    print(f"{len(tests)} passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
