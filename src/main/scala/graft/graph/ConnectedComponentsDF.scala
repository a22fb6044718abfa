package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DataFrame-native connected components via alternating large-star /
  * small-star contraction (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC 2014).
  *
  * Each round is two join/aggregate passes over a plain (u, v) edge
  * table — shuffles that Catalyst/AQE size, coalesce and skew-split,
  * with no vertex mirroring: the 100 TB alternative to GraphX's
  * replicated vertex views (g_cc keeps the GraphX form; this is the
  * big-graph path). Converges in O(log² n) rounds (O(log n) in
  * practice); state per round is only the shrinking edge list.
  */
object ConnectedComponentsDF {

  /** large-star: connect every neighbor v > u to u's minimum
    * neighborhood label m(u) = min(Γ(u) ∪ {u}). Operates on the
    * symmetrized view.
    *
    * INVARIANT: input edges are distinct with u > v (the initial
    * canonicalization and smallStar both guarantee it), so the
    * symmetrized union is duplicate-free by construction — no
    * per-round distinct shuffle on the 2× edge set. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val minN = sym.groupBy(col("u")).agg(least(min(col("v")), col("u")).as("m"))
    sym.join(minN, Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** small-star: orient edges high→low, then connect every low
    * neighbor (and u itself) to m(u). */
  private def smallStar(e: DataFrame): DataFrame = {
    val oriented = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
    val minN = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
    val nbrLinks = oriented.join(minN, Seq("u"))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    val selfLinks = minN.select(col("u"), col("m").as("v"))
    nbrLinks.unionAll(selfLinks)
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** @param edges (src, dst) DataFrame, any orientation.
    * @return (vertex, component) with component = min member id. */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 25): DataFrame = {
    // Measured driver dispatch (round 15, the round-14 twin family):
    // min-member CC labels are PATH-INDEPENDENT — any correct
    // algorithm returns the same rows — so a driver min-root
    // union-find is bit-identical to the star-contraction loop by
    // definition, and below the collect bound the loop's cost is
    // per-round plan compile + two star shuffles, not arithmetic.
    // This also collapses the s_stream_cc fold: mergeCc calls run()
    // once per micro-batch on a contracted (frontier-sized) edge
    // set. IterativeDispatchSpec pins driver ≡ distributed; the
    // star loop below is the unchanged 100 TB path.
    // The gate checkpoints the narrow projection once: without it the
    // count, the vertex set and the edge collect each re-ran the
    // caller's (possibly expensive) candidate-generation lineage —
    // the first draft tripled d_dup_clusters' cost (8.6 s vs 4.1).
    import spark.implicits._
    Dispatch.gated("connectedComponentsDF", edges.select(
        col("src").cast("long").as("src"), col("dst").cast("long").as("dst")),
        LocalLouvain.CollectMax) { rs =>
      Some(unionFind(rs.map(r => (r.getLong(0), r.getLong(1)))).toSeq
        .toDF("vertex", "component"))
    } { runDistributed(spark, _, maxIter) }
  }

  /** Min-root union-find: (vertex, component = min member id) for
    * every endpoint of `rows`, ascending by vertex. The driver twin of
    * every CC surface (this star loop, GraphOps.connectedComponents'
    * GraphX run, the Leiden refinement and the streaming CC fold). */
  private[graft] def unionFind(rows: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    // min-root unions keep every root the component MINIMUM, so
    // find() returns the min-member label directly.
    rows.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) {
        if (ru < rv) parent(rv) = ru else parent(ru) = rv
      }
    }
    rows.iterator.flatMap(r => Iterator(r._1, r._2))
      .toArray.distinct.sorted
      .map(v => (v, find(v)))
  }

  private[graft] def runDistributed(spark: SparkSession, edges: DataFrame,
      maxIter: Int = 25): DataFrame = {
    // Iterative DataFrame loops must cut lineage every round —
    // otherwise the logical plan nests (each star pass references the
    // previous result several times) and grows exponentially.
    // localCheckpoint materializes the round and starts a fresh plan;
    // on a cluster with an HDFS checkpoint dir, `checkpoint()` is the
    // fault-tolerant equivalent.
    // Canonicalize to u > v at entry: largeStar's symmetrize relies
    // on a one-sided orientation to skip its per-round distinct.
    var cur = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)

    // Convergence: a cheap monotone signature (count, Σu, Σv) per
    // round — one single-stage aggregate over the checkpointed
    // blocks. Only when the signature is stable do we pay ONE
    // exceptAll (full set compare) to confirm the fixpoint; a
    // signature collision that isn't a fixpoint just loops again,
    // so the heuristic can't produce a wrong answer. This replaces
    // the former count+exceptAll sort/compare of both edge sets
    // EVERY round. Sums accumulate in DECIMAL(38,0): long sums of
    // 64-bit ids over trillions of edges overflow, and Spark 4's
    // default ANSI mode turns that into ARITHMETIC_OVERFLOW rather
    // than a wrap — decimal headroom (1e38) covers any realistic
    // id·edge-count product.
    def signature(df: DataFrame): (Long, BigDecimal, BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(col("u").cast("decimal(38,0)")),
        sum(col("v").cast("decimal(38,0)"))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)),
        if (r.isNullAt(2)) BigDecimal(0) else BigDecimal(r.getDecimal(2)))
    }
    var curSig = signature(cur)
    var converged = curSig._1 == 0L
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(cur)).localCheckpoint(true)
      val nextSig = signature(next)
      converged = nextSig == curSig &&
        next.exceptAll(cur).limit(1).count() == 0
      cur = next
      curSig = nextSig
      iter += 1
    }
    // A non-fixpoint edge set yields labels that are not component
    // minima — failing loudly beats silently splitting components.
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds; " +
          "raise maxIter for adversarially deep graphs")

    // At the fixpoint every edge is (member, componentMin).
    val verts = edges.select(col("src").cast("long").as("vertex"))
      .unionAll(edges.select(col("dst").cast("long").as("vertex")))
      .distinct()
    val labels = cur.groupBy(col("u")).agg(min(col("v")).as("component"))
    verts.join(labels, verts("vertex") === labels("u"), "left")
      .select(col("vertex"),
        coalesce(col("component"), col("vertex")).as("component"))
  }
}
