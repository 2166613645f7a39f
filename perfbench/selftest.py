"""Self-test of the benchmark's correctness checks (no Spark needed).

    python3 perfbench/selftest.py

Feeds each check a right result and deliberately wrong ones, and runs the
timed loop on a stub workload that returns a wrong result, to show that a
wrong result is caught and counted in ``failed``. Exits non-zero if any
wrong result goes unnoticed.
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent))

import checks  # noqa: E402
import run  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import Op, Workload  # noqa: E402

FAILURES: list[str] = []


def expect(name: str, reason, caught: bool) -> None:
    if bool(reason) != caught:
        FAILURES.append(f"{name}: expected {'a mismatch' if caught else 'a match'}, got {reason!r}")


def rows_cases() -> None:
    cols = ["k", "total"]
    want = [(1, 10.5), (2, 0.1 + 0.2), (3, None)]
    expect("rows: same rows, other order", checks.compare_rows(cols, want[::-1], cols, want), False)
    expect("rows: columns in another order",
           checks.compare_rows(["total", "k"], [(v, k) for k, v in want], cols, want), False)
    off_by_ulp = [(1, 10.5), (2, 0.3), (3, None)]
    expect("rows: float off by one ulp", checks.compare_rows(cols, off_by_ulp, cols, want), True)
    expect("rows: a row missing", checks.compare_rows(cols, want[:2], cols, want), True)
    expect("rows: a duplicated row", checks.compare_rows(cols, want + want[:1], cols, want), True)
    expect("rows: renamed column", checks.compare_rows(["k", "sum"], want, cols, want), True)
    expect("rows: order matters when ordered",
           checks.compare_rows(cols, want[::-1], cols, want, ordered=True), True)


def bm25_cases() -> None:
    texts = {
        0: "spark join key", 1: "spark spark stream", 2: "join key key value",
        3: "stream window a", 4: "a key spark", 5: "value value window",
        6: "spark join key dup",
    }
    q = [0, 3]
    right = checks.bm25_top(texts, q, k=3)
    expect("bm25: reference against itself", checks.check_bm25(right, texts, q, k=3), False)
    bumped = [(a, b, s + 1 if rn == 1 else s, rn) for a, b, s, rn in right]
    expect("bm25: one score off by one milli", checks.check_bm25(bumped, texts, q, k=3), True)
    swapped = [(a, 5 if rn == 2 else b, s, rn) for a, b, s, rn in right]
    expect("bm25: wrong document", checks.check_bm25(swapped, texts, q, k=3), True)
    stale = dict(texts)
    del stale[6]
    expect("bm25: an appended document ignored",
           checks.check_bm25(checks.bm25_top(stale, q, k=3), texts, q, k=3), True)


def ann_cases() -> None:
    rng = np.random.default_rng(0)
    vecs = {i: v for i, v in enumerate(rng.standard_normal((50, 8)))}
    q = [1, 7]
    exact = checks.exact_l2_top(vecs, q)
    right = [(qq, v, 0.0, rn) for qq in q for rn, v in enumerate(exact[qq], start=1)]
    recall, why = checks.ann_recall(right, vecs, q)
    expect("ann: exact neighbours", why, False)
    if recall != 1.0:
        FAILURES.append(f"ann: exact neighbours give recall {recall}, expected 1.0")
    first = {qq: v for qq, v, _d, rn in right if rn == 1}
    dup = [(qq, first[qq] if rn == 2 else v, d, rn) for qq, v, d, rn in right]
    expect("ann: repeated neighbour", checks.ann_recall(dup, vecs, q)[1], True)
    selfhit = [(qq, qq if rn == 1 else v, d, rn) for qq, v, d, rn in right]
    expect("ann: query returned as its own neighbour", checks.ann_recall(selfhit, vecs, q)[1], True)
    unknown = [(qq, 999 if rn == 5 else v, d, rn) for qq, v, d, rn in right]
    expect("ann: id not in the corpus", checks.ann_recall(unknown, vecs, q)[1], True)
    short = [r for r in right if r[3] < 5]
    expect("ann: fewer than k neighbours", checks.ann_recall(short, vecs, q)[1], True)


class _WrongAnswer(Workload):
    def __init__(self):
        pass

    def op(self, i):
        return Op("stub", lambda: (["x"], [(i,)]), lambda got: checks.compare_rows(
            got[0], got[1], ["x"], [(i + 1,)]))


def loop_case() -> None:
    records, _wall = run.timed_loop(_WrongAnswer(), Tracer(), seconds=0.05, trace=False)
    bad = [r for r in records if r["error"]]
    if not records or len(bad) != len(records):
        FAILURES.append(f"timed loop: {len(bad)} of {len(records)} wrong results counted as failed")


def benchmark_json_case() -> None:
    """The metrics the run prints are the ones BENCHMARK.json declares."""
    import json

    spec = json.loads((Path(__file__).resolve().parents[1] / "BENCHMARK.json").read_text())
    for key, printed in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in spec[key]}
        if declared != printed:
            FAILURES.append(f"BENCHMARK.json {key} {declared} != printed {printed}")
    from workloads import WORKLOADS

    if sorted(w["name"] for w in spec["workloads"]) != sorted(WORKLOADS):
        FAILURES.append("BENCHMARK.json workloads differ from perfbench/workloads.py")


def main() -> int:
    benchmark_json_case()
    rows_cases()
    bm25_cases()
    ann_cases()
    loop_case()
    for f in FAILURES:
        print("SELF-TEST FAILED:", f)
    if FAILURES:
        return 1
    print("self-test passed: every deliberately wrong result was caught")
    return 0


if __name__ == "__main__":
    sys.exit(main())
