package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DataFrame-native strongly connected components via the coloring
  * (forward-max / backward-containment) algorithm (Orzan 2004; the
  * FW-BW family Slota et al. parallelize) — the directed companion
  * of [[ConnectedComponentsDF]].
  *
  * Each outer round: (1) propagate the maximum vertex id FORWARD
  * along edges to a fixpoint — every vertex's color becomes the
  * largest id among its ancestors (including itself), so within an
  * SCC all members share the color of their largest member, which is
  * itself a root (color(r) = r); (2) from each root, walk BACKWARD
  * along edges but only through vertices of the root's color —
  * exactly the root's SCC (descendant colored-r vertices that don't
  * reach r are excluded by the containment check, and the backward
  * path of a mutual-reachability pair never leaves the SCC);
  * (3) peel the assigned vertices and repeat on the remainder.
  *
  * 100 TB shape: state per round is the shrinking (src, dst) edge
  * list and one (vertex, color) table — narrow id pairs that shuffle
  * on their keys, no vertex mirroring, no transitive closure
  * materialized anywhere (the oracle's recursive CTE is the bounded
  * test-side check, not the engine's plan). Forward propagation is a
  * join + map-side-combined max per round, the same per-round cost
  * as [[ConnectedComponentsDF]]'s star passes; colors only increase,
  * so an exact decimal sum is a sufficient fixpoint signature (no
  * set compare). DAG regions collapse in ONE outer round (every
  * vertex whose ancestors are all smaller is its own root), so outer
  * rounds scale with the nesting of large-id SCCs, not the vertex
  * count. Iterative frames are localCheckpoint'd per round — the
  * [[ConnectedComponentsDF]] lineage rule.
  */
object StronglyConnectedDF {

  /** @param edges directed (src, dst) DataFrame; self-loops ignored.
    * @return (vertex, scc_id) with scc_id = min member id. */
  def run(spark: SparkSession, edges: DataFrame, maxOuter: Int = 30,
      maxInner: Int = 100): DataFrame = {
    // Measured driver dispatch (round 16, the round-14 twin family):
    // SCC labels are CANONICAL (min member id), so any correct
    // algorithm emits identical rows — twin equality is a theorem,
    // like the MST unique-forest argument. Below the collect bound
    // the coloring loop's cost is per-round plan compile + fixpoint
    // signatures, not arithmetic; the driver runs one iterative
    // Tarjan pass instead. The coloring loop is the unchanged 100 TB
    // path.
    import spark.implicits._
    Dispatch.gated("sccDispatch", edges.select(
        col("src").cast("long").as("src"), col("dst").cast("long").as("dst")),
        LocalLouvain.CollectMax) { rs =>
      Some(LocalIterative.tarjanScc(rs.map(r => (r.getLong(0), r.getLong(1))))
        .toDF("vertex", "scc_id"))
    } { runDistributed(spark, _, maxOuter, maxInner) }
  }

  private[graft] def runDistributed(spark: SparkSession, edges: DataFrame,
      maxOuter: Int = 30, maxInner: Int = 100): DataFrame = {
    val allVerts = edges.select(col("src").cast("long").as("vertex"))
      .unionAll(edges.select(col("dst").cast("long").as("vertex")))
      .distinct().localCheckpoint(true)
    var rem = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    var verts = rem.select(col("src").as("vertex"))
      .unionAll(rem.select(col("dst").as("vertex")))
      .distinct().localCheckpoint(true)
    var assigned = allVerts.limit(0)
      .select(col("vertex"), col("vertex").as("scc"))

    // Colors only grow, so the exact decimal sum is stable iff the
    // coloring is a fixpoint (the ConnectedComponentsDF signature
    // argument, without needing the exceptAll confirmation).
    def colorSum(c: DataFrame): BigDecimal = {
      val r = c.agg(sum(col("color").cast("decimal(38,0)"))).head()
      if (r.isNullAt(0)) BigDecimal(0) else BigDecimal(r.getDecimal(0))
    }

    var outer = 0
    var done = verts.limit(1).count() == 0
    while (!done && outer < maxOuter) {
      // (1) forward max-color propagation to fixpoint.
      // Inner-round frames use a LAZY localCheckpoint: the signature
      // aggregate that immediately follows is a full scan, so ONE job
      // both materializes the round's state (truncating lineage) and
      // computes the fixpoint signature — an eager checkpoint would
      // pay a second full job per round, which on a long directed
      // chain (O(diameter) rounds) doubles the whole stage. Safe
      // precisely because the follow-up action is a FULL scan (a
      // limit-style partial action would truncate lineage with
      // unmaterialized partitions — the CLAUDE.md lazy-state rule).
      var color = verts.select(col("vertex"), col("vertex").as("color"))
        .localCheckpoint(false)
      var sig = colorSum(color)
      var converged = false
      var inner = 0
      while (!converged && inner < maxInner) {
        val incoming = rem
          .join(color.select(col("vertex").as("src"), col("color").as("c")),
            Seq("src"))
          .groupBy(col("dst")).agg(max(col("c")).as("cin"))
        val next = color
          .join(incoming.select(col("dst").as("vertex"), col("cin")),
            Seq("vertex"), "left")
          .select(col("vertex"),
            greatest(col("color"), coalesce(col("cin"), col("color")))
              .as("color"))
          .localCheckpoint(false)
        val nsig = colorSum(next)
        converged = nsig == sig
        color = next; sig = nsig; inner += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"SCC forward coloring did not converge in $maxInner rounds")

      // (2) roots + backward containment within each root's color —
      // same lazy-checkpoint + full-scan-count fold as the forward
      // loop: one job per round, not two.
      var scc = color.filter(col("color") === col("vertex"))
        .select(col("vertex"), col("vertex").as("scc")).localCheckpoint(false)
      var n = scc.count()
      converged = false; inner = 0
      while (!converged && inner < maxInner) {
        val preds = rem
          .join(scc.select(col("vertex").as("dst"), col("scc")), Seq("dst"))
          .select(col("src").as("vertex"), col("scc"))
        val contained = preds.join(color, Seq("vertex"))
          .filter(col("color") === col("scc"))
          .select(col("vertex"), col("scc"))
        val next = scc.unionAll(contained).distinct().localCheckpoint(false)
        val nn = next.count()
        converged = nn == n
        scc = next; n = nn; inner += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"SCC backward containment did not converge in $maxInner rounds")

      // (3) peel
      assigned = assigned.unionAll(scc).localCheckpoint(true)
      verts = verts.join(scc, Seq("vertex"), "left_anti").localCheckpoint(true)
      rem = rem
        .join(scc.select(col("vertex").as("src")), Seq("src"), "left_anti")
        .join(scc.select(col("vertex").as("dst")), Seq("dst"), "left_anti")
        .localCheckpoint(true)
      done = verts.limit(1).count() == 0
      outer += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"SCC did not assign every vertex in $maxOuter peel rounds; " +
          "raise maxOuter for adversarially nested graphs")

    // Canonical labels: min member id per component (roots are the
    // MAX member by construction); self-loop-only vertices never
    // enter `rem` and fall through as singletons.
    val minLab = assigned.groupBy(col("scc")).agg(min(col("vertex")).as("mid"))
    val labels = assigned.join(minLab, Seq("scc"))
      .select(col("vertex"), col("mid"))
    allVerts.join(labels, Seq("vertex"), "left")
      .select(col("vertex"), coalesce(col("mid"), col("vertex")).as("scc_id"))
  }
}
