"""Result checks. Each returns a list of error strings; empty means the
result passed. They take plain Python values, so `test_checks.py` can feed
them perturbed results without a Spark session."""

from __future__ import annotations

import math

REL_TOL = 1e-9


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=0.0)


def check_topk(label: str, got, expected, k: int) -> list[str]:
    """`got` and `expected` are [(doc_id, score)] in rank order."""
    errs = []
    ids = [d for d, _ in got]
    if len(got) > k:
        errs.append(f"{label}: {len(got)} results for k={k}")
    if len(set(ids)) != len(ids):
        errs.append(f"{label}: duplicate doc_ids {ids}")
    for i in range(1, len(got)):
        if got[i][1] > got[i - 1][1]:
            errs.append(f"{label}: score rises at rank {i}: {got[i - 1][1]!r} < {got[i][1]!r}")
            break
    if ids != [d for d, _ in expected]:
        errs.append(f"{label}: order {ids} != expected {[d for d, _ in expected]}")
        return errs
    for (d, s), (_, e) in zip(got, expected):
        if not _close(s, e):
            errs.append(f"{label}: {d} score {s!r} != expected {e!r}")
            break
    return errs


def check_lexicon(label: str, got: dict[str, int], expected: dict[str, int],
                  n_pairs: int) -> list[str]:
    """(term, df) equality, and sum(df) == number of (term, doc) pairs."""
    errs = []
    missing = sorted(set(expected) - set(got))
    extra = sorted(set(got) - set(expected))
    if missing:
        errs.append(f"{label}: {len(missing)} terms missing, e.g. {missing[:5]}")
    if extra:
        errs.append(f"{label}: {len(extra)} unexpected terms, e.g. {extra[:5]}")
    wrong = sorted(t for t in set(got) & set(expected) if got[t] != expected[t])
    if wrong:
        t = wrong[0]
        errs.append(f"{label}: {len(wrong)} dfs differ, e.g. {t}: {got[t]} != {expected[t]}")
    if sum(got.values()) != n_pairs:
        errs.append(f"{label}: sum(df) {sum(got.values())} != {n_pairs} (term, doc) pairs")
    return errs


def check_equal(label: str, got, expected) -> list[str]:
    return [] if got == expected else [f"{label}: {got!r} != expected {expected!r}"]


def check_cache_hit(label: str, hit: dict, miss: dict) -> list[str]:
    """A cached response repeats its miss except for its own totalTime."""
    strip = lambda body: {k: v for k, v in body.items() if k != "totalTime"}  # noqa: E731
    if strip(hit) != strip(miss):
        return [f"{label}: cache hit body differs from the miss it repeats"]
    return []
