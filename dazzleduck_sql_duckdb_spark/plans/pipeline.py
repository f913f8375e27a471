"""Data-mixing utilities: deterministic sampling, sequence packing and
PII redaction.
"""

from __future__ import annotations

from . import dialect as D
from .dialect import SPARK, _idiv
from .queries import q


# Deterministic sampling / packing / scrubbing — the data-mixing side of
# a training pipeline. All pure SQL in both dialects (no builders): the
# portable hash makes sampling reproducible across engines, task
# retries, and cluster sizes (never rand()).


@q("docs_stratified_sample")
def _stratified_sample(d: str) -> str:
    """Per-source quota sampling with a deterministic hash: exact,
    reproducible rates without rand() (retry-safe, partition-count
    independent) and no shuffle — a stateless filter the optimizer can
    push into the scan."""
    h = D.hash60_salted("source", "doc_id", d)
    return f"""
SELECT doc_id, source, lang FROM documents
WHERE {h} % 100 < CASE WHEN source IN ('src0', 'src1', 'src2') THEN 10
                       WHEN source IN ('src3', 'src4') THEN 50
                       ELSE 25 END
"""


@q("pack_sequences")
def _pack_sequences(d: str) -> str:
    """Streaming sequence packing: greedy next-fit binning of docs into
    2048-token budgets per source (window cumsum, one shuffle by
    source). bin_id = cumulative-tokens-before DIV budget — the
    standard single-pass packing approximation for pretraining batches;
    deterministic given the (source, doc_id) order."""
    div = _idiv("cum_before", "2048", d)
    return f"""
WITH t AS (
  SELECT doc_id, source, CAST(ceil(length(text) / 4.0) AS BIGINT) AS tokens
  FROM documents),
c AS (
  SELECT doc_id, source, tokens,
    sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      - tokens AS cum_before
  FROM t)
SELECT doc_id, source, tokens, CAST({div} AS BIGINT) AS bin_id FROM c
"""


# identical RE2/Java regexes; Spark literals need doubled backslashes,
# and DuckDB's regexp_replace is first-match-only without the 'g' flag
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_PII_URL = "https?://[^ ]+"
_PII_NUM = "[0-9]{6,}"


def redact_sql(col: str, d: str) -> str:
    """Nested regexp_replace chain: emails -> <EMAIL>, URLs -> <URL>,
    long digit runs -> <NUM>. Same automaton in both engines."""
    e = col
    for pat, rep in ((_PII_EMAIL, "<EMAIL>"), (_PII_URL, "<URL>"),
                     (_PII_NUM, "<NUM>")):
        if d == SPARK:
            e = f"regexp_replace({e}, '{pat}', '{rep}')"
        else:
            e = f"regexp_replace({e}, '{pat}', '{rep}', 'g')"
    return e


@q("text_redact_pii")
def _text_redact(d: str) -> str:
    """PII scrub (emails/URLs/long numbers). Narrow, codegen'd, no
    shuffle; the synthetic corpus contains no PII, so the oracle pins
    the identity result — tests/test_redact.py pushes real PII through
    both engines."""
    return f"""
SELECT doc_id, {redact_sql('text', d)} AS clean_text FROM documents
"""
