package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Materialize.CutSyntax

/** Distributed connected components by min-label propagation WITH
  * POINTER JUMPING — the transitive-closure step of near-duplicate
  * deduplication (LSH emits pairs; canonicalization needs one label per
  * cluster).
  *
  * Each round does two shuffled joins over the label frame:
  *  1. neighbor min — lbl(v) ← min(lbl(v), min over lbl(u) for edges
  *     (u, v)); plain propagation advances one hop per round, so a
  *     chain of length L would need L rounds;
  *  2. pointer jump — lbl(v) ← min(lbl(v), lbl(lbl(v))): labels are
  *     vertex ids, so following the label's label halves the remaining
  *     distance — rounds drop to O(log diameter), the property that
  *     makes the loop viable on 100 TB graphs with long chains
  *     (ConnectedComponentsSpec pins it on a 256-chain).
  *
  * Labels only ever DECREASE, so convergence is "Σ lbl unchanged" — one
  * tiny aggregate per round, no comparison join. Every round ends in
  * [[Materialize.cut]] (reliable checkpoint): it cuts the per-round
  * lineage growth, keeps rounds from recomputing whatever produced the
  * inputs, AND survives executor loss (the localCheckpoint it replaced
  * died with the executor holding its blocks — FaultToleranceSpec).
  *
  * Returns (labels, rounds): labels = (id, component) with component =
  * the minimum vertex id of the component.
  */
object ConnectedComponents {

  /** `edges` must have two LONG columns (src, dst); undirected — both
    * orientations are added internally. Only vertices with ≥1 edge
    * appear in the output (isolated vertices are their own components
    * trivially and are not materialized). */
  def run(edges: DataFrame, src: String, dst: String): (DataFrame, Int) = {
    // repartition on the per-round join key BEFORE the cut: checkpoint's
    // write job recomputes the plan, and without an exchange beneath it
    // that recompute re-runs the source scan a second time (ADVICE r12);
    // with it, the write job reuses the shuffle files (skipped stage) AND
    // the checkpointed frame comes back hash-partitioned on `s`, the key
    // every round's neighbor-min join needs
    val e2 = edges.select(col(src).as("s"), col(dst).as("d"))
      .unionByName(edges.select(col(dst).as("s"), col(src).as("d")))
      .repartition(col("s"))
      .cut()
    var labels = e2.select(col("s").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .cut()
    // empty-graph sum is NULL (no vertices — e.g. an incremental-update
    // round where the batch matched nothing): treat as 0 so the loop
    // converges immediately and returns the empty label frame
    def lblSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("lbl").cast("decimal(38,0)"))).head.getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = lblSum(labels)
    var rounds = 0
    var converged = false
    while (!converged) {
      val nbrMin = e2
        .join(labels.select(col("id").as("s"), col("lbl").as("nl")), "s")
        .groupBy(col("d").as("id"))
        .agg(min(col("nl")).as("nbr_lbl"))
      val propagated = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("lbl"))
      val jumped = propagated.as("a")
        .join(propagated.select(col("id").as("jid"), col("lbl").as("jl")).as("b"),
          col("a.lbl") === col("b.jid"), "left")
        .select(col("a.id").as("id"),
          least(col("a.lbl"), coalesce(col("b.jl"), col("a.lbl"))).as("lbl"))
        .cut()
      val s = lblSum(jumped)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = jumped
      rounds += 1
    }
    (labels.select(col("id"), col("lbl").as("component")), rounds)
  }
}
