"""The registered dd_* SQL functions (functions/) as live queries."""

from __future__ import annotations

from . import dialect as D
from .dialect import SPARK, _sarr, _wide_docs
from .queries import q


@q("dd_array_contains_all")
def _dd_aca(d: str) -> str:
    tk = D.distinct_tokens("text", d)
    needle = _sarr(["data", "query"], d)
    if d == SPARK:
        pred = f"size(array_except({needle}, tk)) = 0"
    else:
        pred = f"len(list_filter({needle}, x -> NOT list_contains(tk, x))) = 0"
    return f"""
SELECT doc_id, {pred} AS has_all
FROM (SELECT doc_id, {tk} AS tk FROM documents) t
"""


@q("dd_array_contains_all_fn")
def _dd_aca_fn(d: str) -> str:
    """The registered SQL-function surface, all three reference overloads
    (array_contains_all.cpp:430-469): the 2-arg form, the execution-hint
    form (hint accepted & ignored), and the bloom-accelerated form must
    each equal the plain containment predicate — the bloom path never
    false-negatives and exact-verifies every bloom hit, so its result is
    bit-equal to the unaccelerated one by construction."""
    tk = D.distinct_tokens("text", d)
    needle = _sarr(["data", "query"], d)
    if d == SPARK:
        return f"""
SELECT doc_id,
  dd_array_contains_all(tk, {needle}) AS has_all,
  dd_array_contains_all_hint(tk, {needle}, false) AS has_all_hint,
  dd_array_contains_all_bloom(tk, {needle}, dd_bloom_filter_create(tk)) AS has_all_bloom
FROM (SELECT doc_id, {tk} AS tk FROM {_wide_docs(d)} w) t
"""
    pred = f"len(list_filter({needle}, x -> NOT list_contains(tk, x))) = 0"
    return f"""
SELECT doc_id, {pred} AS has_all, {pred} AS has_all_hint, {pred} AS has_all_bloom
FROM (SELECT doc_id, {tk} AS tk FROM documents) t
"""


@q("dd_search_marker")
def _dd_search(d: str) -> str:
    if d == SPARK:
        return (
            "SELECT event_id, dd_search(event_type, array('purchase')) AS hit"
            " FROM events"
        )
    return "SELECT event_id, TRUE AS hit FROM events"


@q("dd_version")
def _dd_version(d: str) -> str:
    from ..version import ENGINE_VERSION

    if d == SPARK:
        return "SELECT dd_version() AS v"
    return f"SELECT '{ENGINE_VERSION}' AS v"


@q("bloom_no_false_negatives")
def _bloom_nfn(d: str) -> str:
    # create a bloom from each doc's tokens and probe a known-present
    # element: must be TRUE for every row (bloom_filter.cpp:116-151 law).
    tk = D.distinct_tokens("text", d)
    if d == SPARK:
        return f"""
SELECT doc_id,
  dd_bloom_filter_contains(dd_bloom_filter_create(tk), try_element_at(tk, 1)) AS present,
  dd_bloom_filter_contains_all(dd_bloom_filter_create(tk), slice(tk, 1, 3)) AS present_all
FROM (SELECT doc_id, {tk} AS tk FROM documents) t
"""
    return f"""
SELECT doc_id,
  CASE WHEN len(tk) > 0 THEN TRUE END AS present,
  TRUE AS present_all
FROM (SELECT doc_id, {tk} AS tk FROM documents) t
"""
