"""Streaming text-quality scoring: stateless perplexity filtering of a
document stream against a STATIC unigram LM.

This is the deployment shape of the CCNet-style filter (the batch twin
is the `text_perplexity` catalog entry, plans/text.py): the LM is
trained ONCE on a reference corpus and then every incoming document is
scored against it — so the streaming operator must be STATELESS per
row. The batch formulation's explode -> join -> per-doc GROUP BY would
be an unbounded stateful aggregation on a stream (no watermark can
bound doc_id); instead the score is computed per row with a
higher-order fold over the token array against a literal vocabulary
map, which needs no state, no watermark, and works identically on
batch and streaming DataFrames (the module's stream==batch test
discipline).

Driver-state contract: the LM ships as a Column literal
(map + two scalars) into the plan — bounded like the IVF centroids
and the top-k query matrix (operators/similarity.py). A unigram vocab
follows Heaps' law (~100k entries at web scale, a few MB as a map
literal); the cap below turns a runaway vocabulary into a loud error
instead of a silent driver OOM.

Float discipline: the per-row left-to-right fold and the batch
entry's AVG aggregate sum the same ln() terms in different orders —
divergence ~1e-13, far inside the shared 1e-6 rounding, so the
streaming scores hash-match the batch oracle.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# sized to what the create_map-literal scoring expression actually
# supports (~2 child expressions per vocab entry; the plan/codegen
# degrades long before 1M entries, so a 1M cap could never fire
# usefully). Realistic reference LMs sit well under this; past it the
# right implementation is a broadcast join, not a bigger literal.
MAX_LM_VOCAB = 100_000


@dataclass
class UnigramLM:
    """Add-one-smoothed unigram model: P(t) = (c_t + 1) / (n + v)."""

    counts: dict[str, int]
    n_tokens: int

    @property
    def vocab_size(self) -> int:
        return len(self.counts)


def build_unigram_lm(docs: DataFrame, text_col: str = "text") -> UnigramLM:
    """Train the LM from a BATCH reference corpus (one aggregation:
    explode -> count per token, partial map-side). The result lives on
    the driver — the bounded-model half of the train-once/score-many
    split."""
    tok = F.explode(
        F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    ).alias("tok")
    agg = docs.select(tok).groupBy("tok").count()
    # probe the cap BEFORE collecting: on an unbounded vocabulary (URLs,
    # numbers at corpus scale) a post-collect guard OOMs the driver
    # before it fires. The probe re-runs the aggregation once —
    # acceptable for a train-once reference-corpus path, and
    # limit(cap+1) bounds the probe.
    over = agg.limit(MAX_LM_VOCAB + 1).count()
    if over > MAX_LM_VOCAB:
        raise ValueError(
            f"unigram vocabulary exceeds {MAX_LM_VOCAB} entries:"
            " not a bounded LM — train on a reference sample or"
            " raise the cap deliberately"
        )
    rows = agg.collect()
    counts = {r["tok"]: int(r["count"]) for r in rows}
    return UnigramLM(counts=counts, n_tokens=sum(counts.values()))


def nll_score(tokens: Column, lm: UnigramLM) -> Column:
    """Average negative log-likelihood of a token-array Column under
    `lm` — a pure per-row expression (stream-safe). Unknown tokens get
    the add-one floor 1 / (n + v)."""
    denom = float(lm.n_tokens + lm.vocab_size)
    if lm.counts:
        pairs: list[Column] = []
        for t, c in sorted(lm.counts.items()):
            pairs.append(F.lit(t))
            pairs.append(F.lit(float(c)))
        vocab = F.create_map(*pairs)
    else:
        vocab = F.create_map().cast("map<string,double>")
    nll_sum = F.aggregate(
        tokens,
        F.lit(0.0),
        lambda acc, t: acc - F.log(
            (F.coalesce(vocab[t], F.lit(0.0)) + F.lit(1.0))
            / F.lit(denom)
        ),
    )
    return F.round(nll_sum / F.size(tokens), 6)


def perplexity_scores(
    docs: DataFrame,
    lm: UnigramLM,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_tokens, avg_nll) per non-empty document — schema-matched
    to the batch `text_perplexity` entry. Works on batch AND streaming
    DataFrames (stateless)."""
    toks = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    return (
        docs.select(F.col(id_col), toks.alias("tks"))
        .where(F.size("tks") > 0)
        .select(
            id_col,
            F.size("tks").cast("bigint").alias("n_tokens"),
            nll_score(F.col("tks"), lm).alias("avg_nll"),
        )
    )


def quality_filter_stream(
    docs: DataFrame,
    lm: UnigramLM,
    *,
    max_avg_nll: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The filter itself: keep documents whose average NLL under the
    reference LM is at most `max_avg_nll` (low perplexity = in-domain,
    the CCNet 'head/middle' selection). Stateless — append-mode safe
    with no watermark."""
    scored = perplexity_scores(docs, lm, id_col=id_col, text_col=text_col)
    return scored.where(F.col("avg_nll") <= F.lit(max_avg_nll))
