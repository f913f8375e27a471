"""Text-analysis entries: language ID, quality, token statistics,
perplexity, normalization, repetition, contamination and TF-IDF.
"""

from __future__ import annotations

from . import dialect as D
from .dedup import SHINGLE_N
from .dialect import SPARK, _round6, _sarr, _wide_docs
from .queries import q


def _idx(arr: str, i: str, dialect: str) -> str:
    """1-based array element access, NULL out of bounds."""
    if dialect == SPARK:
        return f"try_element_at({arr}, {i})"
    return f"list_extract({arr}, {i})"


_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "a", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit"],
    "es": ["el", "la", "de", "que", "y", "los", "en", "un"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des"],
}


@q("text_langid")
def _langid(d: str) -> str:
    tk = D.distinct_tokens("text", d)
    cnt = {
        lang: D.lsize(D.lintersect("tk", _sarr(words, d), d), d)
        for lang, words in _STOPWORDS.items()
    }
    # CJK script detection first (stopword lists don't apply to zh):
    # count chars in the CJK Unified Ideographs block
    if d == SPARK:
        cjk = "length(regexp_replace(text, '[^\\\\u4e00-\\\\u9fff]', ''))"
    else:
        cjk = "length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g'))"
    return f"""
SELECT doc_id,
  CASE WHEN {cjk} >= 3 THEN 'zh'
       WHEN greatest({cnt['en']}, {cnt['de']}, {cnt['es']}, {cnt['fr']}) = 0 THEN 'und'
       WHEN {cnt['en']} >= greatest({cnt['de']}, {cnt['es']}, {cnt['fr']}) THEN 'en'
       WHEN {cnt['de']} >= greatest({cnt['es']}, {cnt['fr']}) THEN 'de'
       WHEN {cnt['es']} >= {cnt['fr']} THEN 'es'
       ELSE 'fr' END AS lang_pred
FROM (SELECT doc_id, text, {tk} AS tk FROM documents) t
"""


@q("text_quality")
def _quality(d: str) -> str:
    tk = D.tokens("text", d)
    tok_lens = D.ltransform("tk", "t -> length(t)", d)
    sum_len = (
        f"aggregate({tok_lens}, 0, (a, x) -> a + x)"
        if d == SPARK
        else f"list_reduce(list_prepend(0, {tok_lens}), (a, x) -> a + x)"
    )
    n_tok = D.lsize("tk", d)
    alpha = (
        "length(regexp_replace(lower(text), '[^a-z]', ''))"
        if d == SPARK
        else "length(regexp_replace(lower(text), '[^a-z]', '', 'g'))"
    )
    sw = _sarr(_STOPWORDS["en"], d)
    n_sw = D.lsize(D.lfilter("tk", f"t -> {D.lcontains(sw, 't', d)}", d), d)
    return f"""
SELECT doc_id,
  CAST({n_tok} AS BIGINT) AS n_tokens,
  CAST({sum_len} AS DOUBLE) / {n_tok} AS avg_token_len,
  CAST({alpha} AS DOUBLE) / length(text) AS alpha_ratio,
  CAST({n_sw} AS DOUBLE) / {n_tok} AS stopword_ratio
FROM (SELECT doc_id, text, {tk} AS tk FROM documents) t
WHERE {n_tok} > 0
"""


@q("text_token_stats")
def _token_stats(d: str) -> str:
    tk = D.tokens("text", d)
    bpe = "regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)" \
        if d == SPARK else (
            "regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)"
        )
    return f"""
SELECT doc_id,
  CAST({D.lsize(tk, d)} AS BIGINT) AS ws_tokens,
  CAST({D.lsize(bpe, d)} AS BIGINT) AS regex_tokens,
  CAST(ceil(length(text) / 4.0) AS BIGINT) AS byte_pair_estimate
FROM documents
"""


@q("text_perplexity")
def _perplexity(d: str) -> str:
    """CCNet-style quality scoring: per-document average negative
    log-likelihood under an add-one-smoothed corpus UNIGRAM language
    model — the standard perplexity filter of LLM training-data
    pipelines (perplexity = exp(avg_nll); the gate keeps LOG space so
    the value hash is robust: cross-engine ln last-ulp differences and
    float-summation order diverge avg_nll by ~1e-13 worst-case, far
    inside the 1e-6 rounding).

    Scale: the token explode feeds the count aggregation and the
    scoring join (n/v derive from the small counts table, not a third
    explode); counts partial-aggregate map-side, and the (token,
    count) table stays << corpus (Heaps' law) so Spark broadcasts it
    into the scoring join — the big token stream shuffles only for
    the per-doc GROUP BY; past broadcast size the join degrades to a
    shuffle on tok automatically."""
    tk = D.tokens("text", d)
    # NB no _wide_docs repartition here: split+explode is cheap JVM
    # codegen, not interpreted-HOF work, and the widening exchange
    # measured ~2x the whole query (0.97s -> 0.56s without it).
    # REPARTITION(doc_id) is a different animal
    # from that widening: it shuffles whole documents ONCE and lets
    # AQE runtime stage reuse serve every CTE consumer from the same
    # exchange — the tfidf trick (see _tfidf). Without it Spark
    # inlines `toks` into its three consumers and the scan+tokenize
    # runs three times; with it the tokenize runs once AND the final
    # per-doc GROUP BY reuses the hash(doc_id) clustering with no
    # further exchange. Measured at sf0.1 (interleaved A/B, median of
    # 7): 0.705s -> 0.559s, identical values.
    if d == SPARK:
        toks = (
            "SELECT doc_id, tok FROM"
            f" (SELECT /*+ REPARTITION(doc_id) */ doc_id, {tk} AS tks"
            f" FROM documents) t"
            " LATERAL VIEW explode(tks) x AS tok"
        )
    else:
        toks = (
            f"SELECT doc_id, unnest(tks) AS tok"
            f" FROM (SELECT doc_id, {tk} AS tks FROM documents) t"
        )
    # NB a (doc_id, tok, tf) pre-aggregation before the scoring join
    # was built and measured SLIGHTLY SLOWER at sf0.1 (1.1-1.9s vs
    # 1.0-1.3s): the extra exchange costs more than the join-input
    # shrink buys on short documents, and Spark inlines the CTE so
    # nothing is reused. On a corpus with heavy per-doc repetition the
    # dtf form is the right rewrite — it is one GROUP BY away.
    return f"""
WITH toks AS ({toks}),
cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS v FROM cnt)
SELECT t.doc_id,
  CAST(count(*) AS BIGINT) AS n_tokens,
  {_round6('avg(-ln((c.c + 1.0) / (tot.n + tot.v)))')} AS avg_nll
FROM toks t JOIN cnt c ON t.tok = c.tok CROSS JOIN tot
GROUP BY t.doc_id
"""


@q("text_perplexity_bigram")
def _perplexity_bigram(d: str) -> str:
    """Bigram-LM perplexity filter with a real TRAIN/SCORE split —
    one rung up the CCNet ladder from the unigram entry: the
    reference half (even doc_ids) trains add-one-smoothed transition
    probabilities P(t2|t1) = (c(t1,t2)+1) / (c(t1)+V); the held-out
    half (odd doc_ids) is scored by average transition NLL. Catches
    scrambled/unnatural token ORDER that any unigram model is blind
    to, which is exactly why production pipelines use n-gram LMs.
    Log space + the 1e-6 branchless bridge (_round6) absorbs
    cross-engine ln/summation last-ulp drift (the text_perplexity
    determinism argument) without round(DOUBLE, k)'s shortest-repr
    boundary divergence.

    Scale: bigram production is codegen (posexplode + one array
    index, no interpreted lambda); the transition-count and
    context-count tables stay << corpus (Heaps' law on bigrams) so
    both scoring joins broadcast; the big transition stream shuffles
    ONCE for the per-doc GROUP BY. Unseen bigrams/contexts coalesce
    to 0 — the add-one floor prices them, no join loss."""
    tk = D.tokens("text", d)
    # REPARTITION(doc_id) on the tokenized scan:
    # `big` has three CTE consumers and `toks` one, and Spark inlines
    # all four into separate scan+tokenize subtrees; the hint makes
    # the subtrees share one exchange via AQE runtime stage reuse
    # (the _tfidf/_perplexity trick), so the corpus is scanned and
    # tokenized ONCE, and the final per-doc GROUP BY inherits the
    # hash(doc_id) clustering. Measured at sf0.1 (interleaved A/B,
    # median of 7): 0.61s -> 0.52s, identical values.
    if d == SPARK:
        big = f"""
SELECT doc_id, tok AS t1, tks[pos + 1] AS t2
FROM (SELECT /*+ REPARTITION(doc_id) */ doc_id, {tk} AS tks FROM documents) t
LATERAL VIEW posexplode(tks) x AS pos, tok
WHERE pos + 2 <= size(tks)"""
        toks = (
            "SELECT doc_id, tok FROM"
            f" (SELECT /*+ REPARTITION(doc_id) */ doc_id, {tk} AS tks"
            " FROM documents) t LATERAL VIEW explode(tks) x AS tok"
        )
    else:
        big = f"""
SELECT doc_id, g.t1 AS t1, g.t2 AS t2
FROM (SELECT doc_id,
        unnest(list_transform(range(1, len(tks)),
               i -> {{'t1': tks[i], 't2': tks[i + 1]}})) AS g
      FROM (SELECT doc_id, {tk} AS tks FROM documents) t
      WHERE len(tks) >= 2) b"""
        toks = (
            f"SELECT doc_id, unnest(tks) AS tok"
            f" FROM (SELECT doc_id, {tk} AS tks FROM documents) t"
        )
    return f"""
WITH big AS ({big}),
toks AS ({toks}),
bcnt AS (SELECT t1, t2, CAST(count(*) AS BIGINT) AS c
         FROM big WHERE doc_id % 2 = 0 GROUP BY t1, t2),
ucnt AS (SELECT t1, CAST(count(*) AS BIGINT) AS cu
         FROM big WHERE doc_id % 2 = 0 GROUP BY t1),
voc AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
        FROM toks WHERE doc_id % 2 = 0)
SELECT s.doc_id,
  CAST(count(*) AS BIGINT) AS n_transitions,
  {_round6("avg(-ln((coalesce(b.c, 0) + 1.0) / (coalesce(u.cu, 0) + voc.v)))")} AS avg_nll
FROM (SELECT * FROM big WHERE doc_id % 2 = 1) s
LEFT JOIN bcnt b ON s.t1 = b.t1 AND s.t2 = b.t2
LEFT JOIN ucnt u ON s.t1 = u.t1
CROSS JOIN voc
GROUP BY s.doc_id
"""


def _build_perplexity_static(spark, sf_dir: str):
    from ..streaming.quality import build_unigram_lm, perplexity_scores

    docs = spark.table("documents")
    return perplexity_scores(docs, build_unigram_lm(docs))


@q("text_perplexity_static_lm", spark=_build_perplexity_static)
def _perplexity_static(d: str) -> str:
    """The STREAMING formulation of the perplexity filter under the
    hash gate (streaming/quality.py): scores are computed per row by a
    higher-order fold over the token array against a literal
    vocabulary map — the stateless train-once/score-many shape a
    document stream needs (no stream-side aggregate, no watermark),
    with the LM trained on the same corpus so the DuckDB oracle is the
    batch formulation itself. The stream==batch lifecycle (multi-batch
    arrival independence, filter semantics) is pinned in
    tests/test_streaming_quality.py; this entry pins the VALUES of the
    shared expressions cross-engine."""
    return _perplexity(d)


def _build_text_normalize(spark, sf_dir: str):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def _nfc_series(col):
        import unicodedata

        return col.map(
            lambda x: None if x is None
            else unicodedata.normalize("NFC", x)
        )

    # lambda form: this module uses `from __future__ import annotations`,
    # which stringifies type hints and breaks pandas_udf's
    # annotation-based signature inference
    nfc = F.pandas_udf(_nfc_series, T.StringType())

    # NO _wide_docs repartition here, measured: NFC over the 5k-doc
    # fixture is light enough that the shuffle + 64 tiny Python-worker
    # batches cost MORE than the single task (0.40s -> 1.02s at sf0.1);
    # real corpora arrive multi-partition from the scan anyway
    docs = spark.table("documents")

    # DECOMPOSED prefix ('e' + combining acute U+0301), matching the
    # oracle's 'Cafe' || chr(769) — NFC composes it to one U+00E9
    # Constructed EXPLICITLY via chr(0x301): as a
    # source literal the decomposition is invisible ('Cafe'+U+0301
    # renders identically to composed U+00E9), so any editor or
    # formatter that NFC-normalizes source files would silently
    # flip it and turn the gate red with a confusing count mismatch.
    aug = F.concat(F.lit("Cafe" + chr(0x301) + " "), F.col("text"))
    cleaned = F.regexp_replace(
        F.regexp_replace(aug, "[\\x00-\\x1f\\x7f]", " "), "\\s+", " "
    )
    return docs.select(
        "doc_id",
        nfc(cleaned).alias("norm_text"),
        F.length(nfc(aug)).cast("long").alias("nfc_chars"),
        F.length(aug).cast("long").alias("raw_chars"),
    )


@q("text_normalize", spark=_build_text_normalize)
def _text_normalize(d: str) -> str:
    """Unicode NFC + control-strip + whitespace-collapse text
    normalization — the pre-hash step every dedup/fingerprint pipeline
    runs first (CCNet normalizes before hashing; two byte-different
    encodings of the same rendered text must dedup together). The
    synthetic corpus is ASCII, so the entry prepends a DECOMPOSED
    'Cafe'+U+0301 prefix to every doc — NFC composes it to U+00E9,
    shrinking the codepoint count, which makes the nfc_chars/raw_chars
    columns (and the full normalized text under the hash) an actual
    NFC test rather than an identity pass.

    Spark has no unicode-normalization builtin, so the Spark side is
    a vectorized pandas UDF over Python's unicodedata (the documented
    use-Python-only-where-builtins-can't rule); control-strip and
    whitespace-collapse stay JVM-side regexp_replace. Oracle: DuckDB's
    utf8proc-backed nfc_normalize — the hash gate therefore pins that
    CPython's and utf8proc's NFC agree on the exercised text. Order of
    ops (strip controls -> collapse ws -> NFC) is identical in both
    dialects."""
    return """
SELECT doc_id,
  nfc_normalize(regexp_replace(regexp_replace(
      'Cafe' || chr(769) || ' ' || text,
      '[\\x00-\\x1f\\x7f]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm_text,
  CAST(length(nfc_normalize('Cafe' || chr(769) || ' ' || text))
       AS BIGINT) AS nfc_chars,
  CAST(length('Cafe' || chr(769) || ' ' || text) AS BIGINT) AS raw_chars
FROM documents
"""


@q("text_fingerprint")
def _fingerprint(d: str) -> str:
    norm = "regexp_replace(lower(trim(text)), '\\\\s+', ' ')" if d == SPARK \
        else "regexp_replace(lower(trim(text, ' ')), '\\s+', ' ', 'g')"
    sh = D.shingles("text", SHINGLE_N, d)
    minsh = D.lmin(D.ltransform(sh, f"s -> {D.hash60('s', d)}", d), d)
    # Spark: widen the single-task parquet scan before the per-shingle
    # md5 work (interpreted HOF lambdas — CPU-bound)
    src = (
        "(SELECT /*+ REPARTITION(64) */ doc_id, text FROM documents)"
        if d == SPARK else "documents"
    )
    return f"""
SELECT doc_id, {D.hash60(norm, d)} AS content_fp, {minsh} AS min_shingle_fp
FROM {src} t
"""


@q("text_repetition")
def _repetition(d: str) -> str:
    """Gopher-style repetition quality signals per document: fraction of
    tokens that are repeats, and the share of word-bigram occurrences
    taken by the single most frequent bigram.

    All outputs are integer/integer divisions (IEEE-exact on identical
    operands), so the hashes match without any rounding discipline.

    Scale: every output is a function of ONE document's own token
    array, so the Spark plan is fully per-row — one scan, zero joins,
    zero aggregations, NOTHING shuffled (the only exchange is the
    narrow-input repartition hint, a no-op on real inputs). The most
    frequent bigram's count equals the longest run in the SORTED
    per-row bigram array, computed by an O(n_tok) aggregate() fold.
    The HOF lambdas evaluate interpreted, but each token is touched a
    constant number of times; an explode + GROUP BY (doc_id,
    bigram) form shuffles one row per bigram OCCURRENCE — at 100 TB,
    the entire corpus through two exchanges. Measured at sf0.1: 0.37s
    warm vs 0.83s, values identical (exceptAll-verified both ways)."""
    tk = D.tokens("text", d)
    if d == SPARK:
        return f"""
WITH b AS (
  SELECT doc_id, n_tok, n_distinct,
    array_sort(transform(sequence(0, n_tok - 2),
      i -> concat(element_at(tks, i + 1), ' ', element_at(tks, i + 2)))) AS sbgs
  FROM (SELECT doc_id, tks, size(tks) AS n_tok,
               size(array_distinct(tks)) AS n_distinct
        FROM (SELECT doc_id, {tk} AS tks FROM {_wide_docs(d)} w) i
        WHERE size(tks) >= 2) t
),
r AS (
  SELECT doc_id, n_tok, n_distinct, size(sbgs) AS n_bg,
    aggregate(sbgs,
      named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),
      (a, x) -> IF(a.prev IS NOT NULL AND x = a.prev,
        named_struct('prev', x, 'run', a.run + 1,
                     'best', greatest(a.best, a.run + 1)),
        named_struct('prev', x, 'run', 1, 'best', greatest(a.best, 1))),
      a -> a.best) AS top_c
  FROM b
)
SELECT doc_id,
  CAST(n_tok AS BIGINT) AS n_tok,
  CAST(1.0 - CAST(n_distinct AS DOUBLE) / n_tok AS DOUBLE)
    AS dup_word_frac,
  CAST(CAST(top_c AS DOUBLE) / n_bg AS DOUBLE) AS top_bigram_frac
FROM r
"""
    # DuckDB oracle keeps the two-branch join form (single-statement,
    # no CTE-inlining hazard there)
    elem = lambda i: _idx("tks", i, d)  # noqa: E731
    bigram = f"i -> concat({elem('i')}, ' ', {elem('i + 1')})"
    bigrams = D.ltransform(
        D.seq("1", f"{D.lsize('tks', d)} - 1", d), bigram, d
    )
    exploded = f"""
SELECT doc_id, unnest(bgs) AS bg
FROM (SELECT doc_id, {bigrams} AS bgs
      FROM (SELECT doc_id, {tk} AS tks FROM documents) i
      WHERE {D.lsize('tks', d)} >= 2) b"""
    return f"""
WITH bg_top AS (
  SELECT doc_id,
    CAST(max(c) AS DOUBLE) / sum(c) AS top_bigram_frac
  FROM (SELECT doc_id, bg, count(*) AS c FROM ({exploded}) e
        GROUP BY doc_id, bg) bc
  GROUP BY doc_id
),
tok_stats AS (
  SELECT doc_id, {D.lsize('tks', d)} AS n_tok,
    {D.lsize(D.ldistinct('tks', d), d)} AS n_distinct
  FROM (SELECT doc_id, {tk} AS tks FROM {_wide_docs(d)} w) t
  WHERE {D.lsize('tks', d)} >= 2
)
SELECT s.doc_id,
  CAST(s.n_tok AS BIGINT) AS n_tok,
  CAST(1.0 - CAST(s.n_distinct AS DOUBLE) / s.n_tok AS DOUBLE) AS dup_word_frac,
  CAST(b.top_bigram_frac AS DOUBLE) AS top_bigram_frac
FROM tok_stats s JOIN bg_top b ON s.doc_id = b.doc_id
"""


@q("docs_length_quantiles")
def _length_quantiles(d: str) -> str:
    """Per-source exact length quantiles (p25/p50/p75) + min/max/avg.

    p in {.25,.5,.75} keeps the interpolation fraction an exact power-of-
    two multiple, so Spark's percentile() and DuckDB's quantile_cont()
    produce bit-identical doubles; p95/p99 would not (0.95*(n-1) rounds,
    and the two engines' interpolation formulas differ in the last ulp).

    Scale: exact per-group quantiles sort within the source partition —
    fine while each source fits an executor; the 100 TB path swaps in
    approx_percentile (t-digest, mergeable) with everything else equal."""
    if d == SPARK:
        qexp = "percentile(n_chars, array(0.25D, 0.5D, 0.75D))"
    else:
        qexp = "quantile_cont(n_chars, [0.25, 0.5, 0.75])"
    el = lambda i: _idx("qs", str(i), d)  # noqa: E731
    return f"""
SELECT source, n_docs, min_chars, max_chars, avg_chars,
  CAST({el(1)} AS DOUBLE) AS p25,
  CAST({el(2)} AS DOUBLE) AS p50,
  CAST({el(3)} AS DOUBLE) AS p75
FROM (
  SELECT source,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(min(n_chars) AS BIGINT) AS min_chars,
    CAST(max(n_chars) AS BIGINT) AS max_chars,
    CAST(avg(n_chars) AS DOUBLE) AS avg_chars,
    {qexp} AS qs
  FROM documents GROUP BY source
) t
"""


@q("pipeline_clean_corpus")
def _clean_corpus(d: str) -> str:
    """End-to-end corpus cleaning in ONE query: length gate -> quality
    gate (alpha ratio) -> exact dedup (keep min doc_id per normalized
    fingerprint) — the composed filter chain a real training-data run
    executes, with survivor counts per source.

    Scale: gates are scan-side filters (no shuffle); the dedup is one
    exchange on the 60-bit fingerprint; the per-source rollup re-
    aggregates on source. Nothing carries `text` past the scan stage —
    the exchanges move (fp, doc_id, source) triples only."""
    norm = "regexp_replace(lower(trim(text)), '\\\\s+', ' ')" if d == SPARK \
        else "regexp_replace(lower(trim(text, ' ')), '\\s+', ' ', 'g')"
    alpha = (
        "length(regexp_replace(lower(text), '[^a-z]', ''))"
        if d == SPARK
        else "length(regexp_replace(lower(text), '[^a-z]', '', 'g'))"
    )
    tk = D.tokens("text", d)
    return f"""
WITH gated AS (
  SELECT doc_id, source, {D.hash60(norm, d)} AS fp
  FROM documents
  WHERE n_chars BETWEEN 64 AND 100000
    AND {D.lsize(tk, d)} >= 8
    AND CAST({alpha} AS DOUBLE) / length(text) >= 0.6
),
kept AS (
  SELECT fp, min(doc_id) AS keeper_doc_id, count(*) AS n_copies
  FROM gated GROUP BY fp
)
SELECT g.source,
  CAST(count(*) AS BIGINT) AS n_survivors,
  CAST(sum(k.n_copies - 1) AS BIGINT) AS n_dropped_dups
FROM kept k JOIN gated g ON g.doc_id = k.keeper_doc_id
GROUP BY g.source
"""


@q("docs_shard_assignment")
def _shard_assignment(d: str) -> str:
    """Deterministic training-shard assignment: shard = hash(doc_id) mod
    16, position within shard by hash order. This is the write-side of
    'shuffle the corpus and shard it for the trainer' — reproducible
    across runs and engines (no rand()), resumable, and stable under
    re-execution of failed tasks.

    Scale: one exchange keyed by shard; the within-shard ordering is a
    per-partition sort (each shard is one write task). 16 here; a real
    run sets shards ≈ cluster write parallelism."""
    h = D.hash60("CAST(doc_id AS STRING)", d)
    return f"""
SELECT doc_id,
  CAST(h % 16 AS BIGINT) AS shard,
  CAST(row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id) AS BIGINT) AS pos
FROM (SELECT doc_id, {h} AS h FROM documents) t
"""


def _contam_exploded(d: str, docs: str | None = None) -> tuple[str, str]:
    """(per-source 8-gram subquery, gram-hash expr) shared by the
    one-mask and chunked-mask contamination forms. `docs` overrides
    the documents relation (any subquery exposing source + text) —
    the chunked catalog entry derives a fine-grained source column to
    exceed the 62-source one-mask bound on the small test corpus."""
    tk = D.tokens("text", d)
    n = 8
    # Same Generate pitfall as text_repetition: posexplode the raw
    # tokens; each output row builds its gram with one slice+join.
    if d == SPARK:
        rel = docs if docs is not None else _wide_docs(d)
        exploded = f"""
SELECT source, array_join(slice(tks, pos + 1, {n}), ' ') AS g
FROM (SELECT source, {tk} AS tks FROM {rel} w) t
LATERAL VIEW posexplode(tks) x AS pos, tok
WHERE pos + {n} <= size(tks)"""
    else:
        rel = docs if docs is not None else "documents"
        gram = f"i -> array_to_string(list_slice(tks, i, i + {n - 1}), ' ')"
        grams = D.ltransform(
            D.seq("1", f"{D.lsize('tks', d)} - {n - 1}", d), gram, d
        )
        exploded = f"""
SELECT source, unnest(gs) AS g
FROM (SELECT source, {grams} AS gs
      FROM (SELECT source, {tk} AS tks FROM {rel} i2) i
      WHERE {D.lsize('tks', d)} >= {n}) b"""
    return exploded, D.hash60("g", d)


def _build_contamination(spark, sf_dir: str):
    """Route cross_source_contamination by provenance-label count:
    the one-BIGINT-mask fast path when every source fits one mask,
    the chunked-mask path past 62 (where the fast path's assert_true
    would raise). The count probe is a ~|sources|-row aggregate."""
    n = spark.sql(
        "SELECT count(DISTINCT source) AS n FROM documents"
    ).collect()[0][0]
    if n <= 62:
        return spark.sql(_contamination(SPARK))
    return spark.sql(_contamination_chunked_sql())


@q("cross_source_contamination", spark=_build_contamination)
def _contamination(d: str) -> str:
    """Train/test decontamination check: count distinct token 8-grams
    shared between each pair of sources. The standard n-gram-overlap
    contamination test, expressed as a self-join on hashed grams.

    Scale: grams are deduped per (source, gram) BEFORE the join, and the
    join key is the 60-bit gram hash (8-byte exchange rows, never gram
    text). The output is |sources|² rows at most. At 100 TB the gram
    dedup is the big shuffle; it partial-aggregates map-side.

    The Spark side is builder-dispatched (_build_contamination): ≤62
    distinct sources run this one-BIGINT-mask form; more run the
    chunked-mask generalization (_contamination_chunked_sql)."""
    exploded, gh = _contam_exploded(d)
    if d == SPARK:
        # Spark plans a CTE self-join as TWO full explode+distinct
        # subtrees (no exchange reuse once one side broadcasts), so
        # compute grams ONCE. Source sets are encoded as a 64-bit
        # BITMASK per gram (source -> dense bit via a broadcast dim):
        # bit_or is a plain long-buffer codegen aggregate, so the big
        # per-gram groupBy never allocates set objects (a
        # collect_set formulation spent 0.6s of its 1.2s in
        # ObjectHashAggregate at sf0.1; the mask path runs the same
        # stage in ~0.2s). Pair counts then come from the TINY
        # (mask -> gram count) table joined twice against the source
        # dim on bit tests — at most 2^|sources| rows, in practice a
        # few hundred.
        #
        # Scale: provenance labels are few — ≤62 sources fits one
        # BIGINT mask (assert_true raises loudly past that; the >62
        # path is chunked masks: group by (gh, sid DIV 62) and count
        # cross-chunk pairs per chunk-pair). The gram shuffle carries
        # 8-byte keys + 8-byte partial masks, never gram text.
        #
        # The unpartitioned row_number() window below runs over SELECT
        # DISTINCT source — bounded ≤62 rows by the adjacent assert —
        # so its single-partition WindowExec (and Spark's warning
        # about it) is a one-reducer pass over a dim table, not a
        # scale hazard. Both warning-free rewrites measured SLOWER at
        # sf0.1 (same session, interleaved A/B): a triangular self-join rank
        # CTE-inlined into 3 evaluations (3x the documents scans,
        # 2-6x wall); a stage-collected LocalRelation sid dim turned
        # the bit-test joins into CartesianProduct (18s) and its
        # explode+equi repair still ran 1.25-1.5s vs 0.5-0.6s for
        # this form (BENCH_NOTES.md). The warning is cosmetic; the
        # window stays.
        return f"""
WITH sid AS (
  SELECT source, sid FROM (
    SELECT source,
      CAST(row_number() OVER (ORDER BY source) AS INT) - 1 AS sid
    FROM (SELECT DISTINCT source FROM documents) s) t
  WHERE assert_true(sid <= 61,
    'cross_source_contamination: >62 sources — chunk the mask') IS NULL
),
gm AS (
  SELECT gh, bit_or(shiftleft(CAST(1 AS BIGINT), sid.sid)) AS mask
  FROM (SELECT source, {gh} AS gh FROM ({exploded}) e) g
  JOIN sid ON g.source = sid.source
  GROUP BY gh
),
mc AS (SELECT mask, CAST(count(*) AS BIGINT) AS c FROM gm GROUP BY mask)
SELECT sa.source AS source_a, sb.source AS source_b,
  CAST(sum(mc.c) AS BIGINT) AS shared_ngrams
FROM mc
JOIN sid sa ON ((mc.mask >> sa.sid) & 1) = 1
JOIN sid sb ON ((mc.mask >> sb.sid) & 1) = 1 AND sa.source < sb.source
GROUP BY sa.source, sb.source
"""
    return f"""
WITH grams AS (
  SELECT DISTINCT source, {gh} AS gh FROM ({exploded}) e
)
SELECT a.source AS source_a, b.source AS source_b,
  CAST(count(*) AS BIGINT) AS shared_ngrams
FROM grams a JOIN grams b ON a.gh = b.gh AND a.source < b.source
GROUP BY a.source, b.source
"""


def _contamination_chunked_sql(docs: str | None = None) -> str:
    """The >62-source generalization the one-mask form's assert points
    at: sources are densely numbered as
    before, then split into 62-bit CHUNKS (chunk = sid DIV 62, bit =
    sid % 62); the per-gram aggregate groups by (gh, chunk) so each
    gram carries one bounded-width mask row PER CHUNK it touches.
    Pair counts need cross-chunk pairs, so the tiny-table trick
    changes shape: gm self-joins on gh with chunk_a <= chunk_b
    (<= ceil(S/62)^2 rows per gram — 4 rows at 124 sources), the
    (chunk, mask, chunk, mask) combos collapse into a bounded mp
    table, and the bit-test joins against the sid dim run per chunk.
    Same-chunk pairs come from a row paired with itself; cross-chunk
    source order is implied by chunk order (sid order == source
    order) but the sa.source < sb.source predicate is kept explicit.

    Trade vs the one-mask form, and why BOTH exist: the self-join on
    gh re-shuffles the per-gram mask table once more than the one-mask
    form's plain GROUP BY mask — measured ~2x wall at sf0.1 — so the
    builder only takes this path when the mask genuinely can't fit
    one BIGINT. Shuffles still carry 8-byte hashes + masks, never
    gram text.

    Why the self-join stays (interleaved A/B): a collect_list(struct(chunk,
    mask)) + in-row double-explode rewrite removes one gm-sized gh
    shuffle (plan: 19 -> 13 exchanges, BHJx5 -> BHJx3) but measured
    25-30% SLOWER at 5k/50k synthetic docs (1.33/7.99s -> 1.66/10.59s
    median-of-3): the ObjectHashAggregate collect + double Generate
    struct expansion costs more CPU than the saved shuffle returns
    locally, and the exponent is unchanged (0.78 vs 0.80). On a
    network-bound cluster the trade could flip; the measurement, not
    the exchange count, decides here. (That rewrite also surfaced a
    Spark 4 lexer quirk worth recording: once an `array(`/`struct(`
    call appears anywhere earlier in a statement, a later `>>`
    operator fails to parse — the lexer reserves `>>` for closing
    nested type brackets; minimal repro:
      WITH g AS (SELECT struct(1 AS x) AS s), t AS (SELECT 4 AS m)
      SELECT 1 FROM t JOIN g ON ((t.m >> 1) & 1) = 1  -- PARSE ERROR
    `shiftright(m, 1)` is the spelling that always parses. This form
    keeps `>>` legally: its statement has no array(/struct( calls.)"""
    exploded, gh = _contam_exploded(SPARK, docs=docs)
    rel = docs if docs is not None else "documents"
    return f"""
WITH sid AS (
  SELECT source, sid, CAST(sid DIV 62 AS INT) AS chunk,
         CAST(sid % 62 AS INT) AS bit
  FROM (
    SELECT source,
      CAST(row_number() OVER (ORDER BY source) AS INT) - 1 AS sid
    FROM (SELECT DISTINCT source FROM {rel} dsrc) s) t
),
gm AS (
  SELECT gh, sid.chunk AS chunk,
         bit_or(shiftleft(CAST(1 AS BIGINT), sid.bit)) AS mask
  FROM (SELECT source, {gh} AS gh FROM ({exploded}) e) g
  JOIN sid ON g.source = sid.source
  GROUP BY gh, sid.chunk
),
mp AS (
  SELECT a.chunk AS ca, a.mask AS ma, b.chunk AS cb, b.mask AS mb,
         CAST(count(*) AS BIGINT) AS c
  FROM gm a JOIN gm b ON a.gh = b.gh AND a.chunk <= b.chunk
  GROUP BY a.chunk, a.mask, b.chunk, b.mask
)
SELECT sa.source AS source_a, sb.source AS source_b,
  CAST(sum(mp.c) AS BIGINT) AS shared_ngrams
FROM mp
JOIN sid sa ON sa.chunk = mp.ca AND ((mp.ma >> sa.bit) & 1) = 1
JOIN sid sb ON sb.chunk = mp.cb AND ((mp.mb >> sb.bit) & 1) = 1
  AND sa.source < sb.source
GROUP BY sa.source, sb.source
"""


_CONTAM_FINE_SPARK = (
    "(SELECT /*+ REPARTITION(64) */"
    " concat(source, '_', CAST(doc_id % 100 AS STRING)) AS source,"
    " text FROM documents)"
)
_CONTAM_FINE_DUCK = (
    "(SELECT source || '_' || CAST(doc_id % 100 AS VARCHAR) AS source,"
    " text FROM documents)"
)


@q("cross_source_contamination_chunked")
def _contamination_chunked_entry(d: str) -> str:
    """The >62-source chunked-mask contamination path under the DRIVER
    gate, not only under pytest.
    The test corpus has 20 provenance labels, so the entry derives a
    fine-grained source (source + doc_id % 100 -> 100 labels, 2 mask
    chunks) and runs the REAL chunked implementation
    (_contamination_chunked_sql — the exact SQL _build_contamination
    routes to past 62 sources) on the Spark side. The oracle is the
    brute-force distinct-gram pair join over the same derived corpus:
    semantics, not implementation, is what the gate pins — the same
    relationship the one-mask entry has to its oracle."""
    if d == SPARK:
        return _contamination_chunked_sql(docs=_CONTAM_FINE_SPARK)
    exploded, gh = _contam_exploded(d, docs=_CONTAM_FINE_DUCK)
    return f"""
WITH grams AS (
  SELECT DISTINCT source, {gh} AS gh FROM ({exploded}) e
)
SELECT a.source AS source_a, b.source AS source_b,
  CAST(count(*) AS BIGINT) AS shared_ngrams
FROM grams a JOIN grams b ON a.gh = b.gh AND a.source < b.source
GROUP BY a.source, b.source
"""


@q("dedup_exact_substring")
def _exact_substring(d: str) -> str:
    """Exact-substring dedup (Lee et al. 2021, 'Deduplicating Training
    Data Makes Language Models Better'): doc pairs sharing >=1 exact
    12-token window, scored by how many windows they share — catches
    copied PASSAGES that whole-doc MinHash misses (a long doc quoting
    a paragraph of another sits far below any Jaccard threshold).

    Spark-native formulation: hash each 12-token window
    directly with a multi-argument xxhash64 over the 12 array elements
    -> ONE shuffle groups windows with collect_set(doc_id) under the
    2..64-doc bucket bound -> pairs generated INSIDE each bounded
    bucket (sort_array + double explode) -> pair counts. The
    suffix-array construction of the paper is replaced by the
    hashed-window equi-bucket — same pair semantics at fixed window
    length, and it shuffles 8-byte hashes, never text.

    Why the Spark window hash differs from the oracle's: bucketing is
    EQUALITY-based, so the two dialects don't need hash identity —
    only that each hash is injective-in-practice on window content
    (the driver compares pair results, never hashes). That freed the
    Spark side from the portable md5+conv string hash (profiled: the
    dominant per-row cost was building the 70-char window string and
    then md5 -> substr -> conv base-16 parsing, all interpreted) for
    codegen'd xxhash64 over the 12 strings with NO intermediate
    string, and lets the bucket aggregation do the DISTINCT(doc_id,
    wh) (collect_set dedups inside the set): two shuffles -> one.
    Measured at sf0.1: 1.090s -> 0.86s median (1.78x -> 1.40x of the
    DuckDB oracle), identical pair results
    (.scale/probe_substring.py).

    Scale: the bucket bound is load-bearing twice — buckets of 1
    produce nothing and are dropped by the HAVING before any pair
    expansion, and buckets >64 docs are boilerplate (licence headers,
    templated banners) whose pair expansion would go quadratic;
    production treats those as cluster-level boilerplate exactly like
    the MinHash hot-bucket cap. Buffer note (true of any
    collect-based form): the HAVING drops
    oversize buckets after aggregation, so a pathological window
    shared by M docs transiently holds an M-element set in the
    aggregation buffer; a corpus with boilerplate at that scale wants
    the MinHash-style count-prefilter pass first."""
    tk = D.tokens("text", d)
    n = 12
    if d == SPARK:
        elems = ", ".join(f"tks[pos + {k}]" for k in range(n))
        exploded = f"""
SELECT doc_id, xxhash64({elems}) AS wh
FROM (SELECT doc_id, {tk} AS tks FROM documents) t
LATERAL VIEW posexplode(tks) x AS pos, tok
WHERE pos + {n} <= size(tks)"""
    else:
        gram = f"i -> array_to_string(list_slice(tks, i, i + {n - 1}), ' ')"
        grams = D.ltransform(
            D.seq("1", f"{D.lsize('tks', d)} - {n - 1}", d), gram, d
        )
        exploded = f"""
SELECT doc_id, unnest(gs) AS g
FROM (SELECT doc_id, {grams} AS gs
      FROM (SELECT doc_id, {tk} AS tks FROM documents) i
      WHERE {D.lsize('tks', d)} >= {n}) b"""
    if d == SPARK:
        return f"""
WITH b AS (
  SELECT wh, sort_array(collect_set(doc_id)) AS ds
  FROM ({exploded}) w GROUP BY wh
  HAVING size(ds) BETWEEN 2 AND 64
)
SELECT da AS doc_a, db AS doc_b,
  CAST(count(*) AS BIGINT) AS shared_windows
FROM b
LATERAL VIEW explode(ds) xa AS da
LATERAL VIEW explode(ds) xb AS db
WHERE da < db
GROUP BY da, db
"""
    wh = D.hash60("g", d)
    return f"""
WITH w AS (
  SELECT DISTINCT doc_id, {wh} AS wh FROM ({exploded}) e
),
f AS (SELECT wh FROM w GROUP BY wh HAVING count(*) BETWEEN 2 AND 64)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(count(*) AS BIGINT) AS shared_windows
FROM w a
JOIN f ON f.wh = a.wh
JOIN w b ON a.wh = b.wh AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


@q("corpus_top_terms")
def _top_terms(d: str) -> str:
    """Corpus heavy hitters: top-50 terms by exact global frequency.

    Scale: explode -> GROUP BY term runs with map-side partial counts,
    so the exchange carries one row per (map partition, term), not one
    per token; the final top-k is TakeOrderedAndProject (per-partition
    heap + driver merge), never a global sort. A skewed head term is
    still a single reducer row because counts merge associatively."""
    tk = D.tokens("text", d)
    if d == SPARK:
        src = (
            f"(SELECT tok FROM (SELECT {tk} AS tks FROM documents) t"
            " LATERAL VIEW explode(tks) x AS tok)"
        )
    else:
        src = f"(SELECT unnest({tk}) AS tok FROM documents)"
    return f"""
SELECT tok AS term, CAST(count(*) AS BIGINT) AS term_count
FROM {src} e
GROUP BY tok
ORDER BY term_count DESC, term LIMIT 50
"""


@q("text_tfidf_topk")
def _tfidf(d: str) -> str:
    """Per-document top-5 terms by TF-IDF.

    Determinism: idf = ln((1+N)/(1+df)) is rounded to 6 decimals before
    the tf multiply — the two engines' libm ln() can differ in the last
    ulp, and rounding collapses that so the double ranking (and the
    driver's value hash) is identical. tf*idf and the window ranking are
    then exact IEEE ops on identical operands.

    Scale: REPARTITION(doc_id) BEFORE the explode shuffles whole
    documents once (one row per doc — orders of magnitude less
    exchange volume than exploded tokens); after it, hash(doc_id)
    satisfies BOTH the tf aggregation's ClusteredDistribution
    (doc_id, tok) (subset rule) and the ranking window's clustering,
    so tf aggregates with NO further exchange and the per-doc top-5
    runs with NO window exchange — Spark's WindowGroupLimit keeps the
    rk<=5 heap partition-local (plan-asserted in
    tests/test_plan_quality.py). df stays a grouped aggregation
    (map-side partials — skew-safe for hot terms, unlike a count()
    OVER (PARTITION BY term) window, whose hottest term would land
    n_docs rows on one reducer) and broadcasts into the tf join; the
    1-row doc-count side is a broadcast cross join. Spark inlines the
    tf CTE into both consumers, but AQE's runtime stage reuse deduces
    the two REPARTITION(doc_id) exchanges are identical and the df
    branch reads the tf branch's shuffle output via ReusedExchange
    (verified in the final adaptive plan) — so the scan+tokenize runs
    ONCE and only the cheap explode+aggregate runs per branch. This
    beats a persisted-view staging (~0.95s vs ~1.6s at sf0.1, A/B)
    precisely because the "recompute" the persist avoids is already
    shared at the exchange.

    Run-to-run drift on this entry is JIT lifecycle, not plan change: a
    15-run series decays monotonically 1.0s -> 0.55s as C2 compiles
    the tokenizer; the lambda-free dialect.tokens() form removes the
    interpreted higher-order filter that dominated that warmup
    (BENCH_NOTES.md)."""
    tk = D.tokens("text", d)
    if d == SPARK:
        exploded = (
            "SELECT doc_id, tok FROM"
            f" (SELECT /*+ REPARTITION(doc_id) */ doc_id, {tk} AS tks"
            " FROM documents) t LATERAL VIEW explode(tks) x AS tok"
        )
    else:
        exploded = f"SELECT doc_id, unnest({tk}) AS tok FROM documents"
    return f"""
WITH tf AS (
  SELECT doc_id, tok AS term, CAST(count(*) AS BIGINT) AS tf
  FROM ({exploded}) e GROUP BY doc_id, tok
),
df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
    CAST(tf.tf AS DOUBLE)
      * {_round6('ln((1.0 + n.n_docs) / (1.0 + CAST(df.df AS DOUBLE)))')}
      AS tfidf
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf
FROM (SELECT scored.*, row_number()
        OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
      FROM scored) r
WHERE rk <= 5
"""
