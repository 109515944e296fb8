package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous LABEL PROPAGATION over an undirected edge list
  * (Raghavan, Albert & Kumara 2007) — the community-detection
  * companion to [[ConnectedComponents]] and [[KCore]] on the near-dup
  * graph: CC answers "which docs are transitively linked at all",
  * LPA answers "which docs cluster DENSELY together" — a chain of
  * incidental pairs that CC merges into one component splits into its
  * dense ends under majority voting, which is the distinction a
  * curation pass wants when deciding audit units.
  *
  * Determinism (the property that makes the face hash-gateable, unlike
  * the asynchronous/randomized textbook variant): SYNCHRONOUS rounds —
  * every round-r label is computed from the full round-(r−1) labeling
  * — with the tie-break (neighbor-label count DESC, label ASC), and a
  * fixed round count both engines unroll identically (the [[KCore]]
  * bounded-sweep argument; the oracle unrolls the same rounds as
  * materialized CTEs, so the fold is checked round-for-round, not just
  * at the end).
  *
  * Scale shape: each round is one dst-keyed join of the edge list
  * against the |V|-sized label table and ONE src-keyed deterministic
  * mode aggregate (map-side partial maps bounded by per-src
  * neighbor-label cardinality ≤ degree) — all keyed exchanges on
  * graph-sized relations, no driver loop. Each round's label table is
  * referenced exactly once (the next round's join), so rounds chain
  * lazily as one plan: no per-round persist or action.
  */
object LabelPropagation {

  /** `rounds` synchronous sweeps; returns (v, lbl). Edges must be the
    * canonical (doc_a < doc_b) pair relation. Initial label = own id;
    * every vertex in the edge list has ≥ 1 neighbor, so the argmax is
    * always defined.
    *
    * The result is an UNPINNED plan `rounds` sweeps deep, meant for a
    * single action: every further action re-runs all the rounds, so a
    * caller that consumes it twice pins it first.
    */
  def run(edges: DataFrame, rounds: Int): DataFrame = {
    val und = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    var labels = und.select(col("src").as("v")).distinct()
      .withColumn("lbl", col("v"))
    for (_ <- 1 to rounds) {
      // OPTIMIZATION r17: the round's (count by (src, lbl) → per-src
      // argmax) pair of aggregates is ONE deterministic-mode aggregate:
      // mode(lbl, deterministic = true) returns the most frequent
      // neighbor label and breaks frequency ties by LOWEST value —
      // exactly the (cnt DESC, lbl ASC) tie-break the oracle's
      // row_number spells (labels are non-negative ids). Deletes one
      // keyed exchange + one aggregate per round: the old shape
      // shuffled (src, lbl) partials and then src partials; mode
      // shuffles one src-keyed partial whose state is the same
      // (lbl → count) histogram the first aggregate materialized as
      // rows. The per-round CacheBin.pin is gone too: each round's
      // label table is consumed exactly once (the next round's join),
      // so there is nothing to recompute — the pin only added a
      // persist write + eviction pressure per round.
      labels = und.join(labels.withColumnRenamed("v", "dst"), Seq("dst"))
        .groupBy(col("src"))
        .agg(mode(col("lbl"), deterministic = true).as("lbl"))
        .select(col("src").as("v"), col("lbl"))
    }
    labels
  }
}
