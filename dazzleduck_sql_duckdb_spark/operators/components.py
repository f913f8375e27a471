"""Connected components: near-dup pairs -> dedup clusters.

The last step of a dedup pipeline: LSH emits *pairs*, but retention
policy needs *groups* ("keep one doc per component"). Components are an
iterative fixpoint — a class of algorithm the reference engine has no
way to express (its host SQL has recursion only DuckDB-side).

Implementation: min-label propagation with pointer doubling. Every
node starts labeled with itself; each round, a node takes the min
among (its own label, its neighbors' labels, its label's label). The
neighbor term floods one hop per round; the label-of-label term
("shortcutting", the doubling step of classic parallel CC /
Hash-to-Min) halves the pointer depth per round, so convergence is
O(log diameter) rounds instead of O(diameter) — a 1M-node path needs
~20 rounds, not 1M. Invariant: a node's label is always a node
reachable from it (labels only flow along edges or through reachable
labels), so the fixpoint is exactly the min reachable node.

Scale notes:
- each round is two equi-joins (edges x labels on node id, labels x
  labels on label id) and one min-aggregation — no driver-side graph
  state, only a scalar convergence check per round;
- `localCheckpoint` cuts the lineage each round (iterative plans
  otherwise grow exponentially and overwhelm the optimizer);
- for graphs with high-degree hubs, the same salting strategy as
  operators/skew.py applies to the label join;
- exhausting ``max_iterations`` raises instead of silently returning
  half-propagated labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_iterations: int = 25,
    edges_distinct: bool = False,
) -> DataFrame:
    """(src, dst) undirected edge list -> (node, component), component =
    the minimum node id reachable; only nodes appearing in edges are
    emitted.

    ``edges_distinct``: the caller guarantees no duplicate (src, dst)
    rows and no edge present in both orientations, so the defensive
    ``distinct()`` on the symmetrized edge list (which exists only to
    keep later per-round joins small under dup-heavy inputs — every
    aggregation here is a min, so duplicates never change values) is
    skipped, saving one exchange in the first job. The LSH pair
    producers qualify: their pairs are distinct-by-construction with
    doc_a < doc_b."""
    from pyspark.sql import Observation

    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    if not edges_distinct:
        sym = sym.distinct()
    sym = sym.persist()
    # Round 0 fused: the initial labels are the identity, so round 0's
    # neighbor join degenerates to min(self, min(neighbor)) — ONE
    # aggregation over sym, no join, and no separate identity-labels
    # checkpoint job. Identical values to the unfused (identity-labels +
    # join) round 0; one shuffle + one action instead of three. sym is
    # materialized into its cache by this same first action. The node
    # count rides the checkpoint job as an observed metric (no extra
    # action): it is only needed to short-circuit the edgeless-input case,
    # where every later round would be a no-op. A changed-count at round 0
    # would be pointless — with any edge at all, the max endpoint of the
    # min node's first edge always takes a smaller label, so round 0
    # always changes.
    obs0 = Observation()
    labels = (
        sym.groupBy(F.col("a"))
        .agg(F.least(F.col("a"), F.min("b")).alias("label"))
        .select(F.col("a").alias("node"), "label")
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    label_t = labels.schema["label"].dataType
    converged = obs0.get["n"] == 0
    for rnd in range(1, max_iterations):
        if converged:
            break
        # carry each node's previous label through the aggregation (one
        # non-null `old` per node) so convergence detection is a free
        # observed metric on the checkpointed result instead of an
        # extra action per round
        cur = labels.select("node", "label", F.col("label").alias("old"))
        # Neighbor flood + pointer doubling FUSED into one join: both
        # probe `labels` on their second column and emit (first_col,
        # labels.label) —
        #   nbr : sym(a, b)            ⋈ labels.node = b  -> label(b)
        #   jump: labels(node, label)  ⋈ labels.node = label
        #         -> label(label(node))   (the doubling step; every
        #         label is itself a node, min over node ids)
        # so one union of the probe relations + ONE equi-join replaces
        # the two separate joins — same probe rows in total, one fewer
        # join stage (and one fewer broadcast build / exchange of
        # `labels`) per round. Round 0 (where the jump would be a no-op
        # against identity labels) is the fused aggregation above.
        probe = sym.unionByName(
            labels.select(F.col("node").alias("a"), F.col("label").alias("b"))
        )
        # alias the build side explicitly: `probe` contains `labels`, so
        # bare column refs are the classic ambiguous-self-join shape —
        # they resolve correctly today only because the union exposes
        # sym's attributes
        rhs = labels.alias("rhs")
        hop = probe.join(rhs, probe["b"] == F.col("rhs.node")).select(
            F.col("a").alias("node"),
            F.col("rhs.label").alias("label"),
            F.lit(None).cast(label_t).alias("old"),
        )
        parts = cur.unionByName(hop)
        # convergence count rides the checkpoint job (Dataset.observe →
        # CollectMetrics, delivered when the checkpoint action
        # completes): one action per round instead of checkpoint+count.
        # `old` is non-null for every node (each node contributes
        # exactly one `cur` row to its group), so the inequality is
        # never null-masked.
        obs = Observation()
        new = (
            parts.groupBy("node")
            .agg(F.min("label").alias("label"), F.min("old").alias("old"))
            .observe(
                obs,
                F.sum(
                    F.when(F.col("label") != F.col("old"), 1).otherwise(0)
                ).alias("changed"),
            )
            .localCheckpoint()  # cut lineage: keeps round N's plan flat
        )
        changed = obs.get["changed"]
        labels = new.select("node", "label")
        if changed == 0:
            converged = True
            break
    sym.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations (graph diameter > 2^iterations is impossible — "
            "this indicates label oscillation, i.e. a bug)"
        )
    return labels.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("label").cast("long").alias("component"),
    )
