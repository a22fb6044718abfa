package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{GraphBuilder, GraphOps, LocalLouvain, Louvain}

/** The tracer's stage counters tell the dispatcher's branches apart
  * on small planted graphs: the driver twin launches no stage, the
  * GraphX engine launches many. */
class BranchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def edges(g: PlantedPartition) = {
    val df = spark.createDataFrame(g.edges(1L).toSeq).toDF("src", "dst", "weight")
    GraphBuilder.canonicalEdges(df, "src", "dst", "weight")
  }

  private def stages(spans: Seq[Span], name: String): Double =
    spans.filter(_.name == name).map(_.counters("stages")).sum

  test("integral weights: the driver twin runs without Spark stages") {
    val e = edges(PlantedPartition(1000, 5000))
    val t = new Tracer(spark)
    t.span("graphops.louvain")(GraphOps.louvain(spark, e).collect())
    val rows = t.span("spark.collect_edges")(e.collect())
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2))))
    t.span("locallouvain.cluster_with_levels")(LocalLouvain.clusterWithLevels(rows.toSeq))
    val spans = t.spans()
    assert(stages(spans, "locallouvain.cluster_with_levels") == 0)
    assert(stages(spans, "spark.collect_edges") >= 1)
    assert(stages(spans, "graphops.louvain") < 20)
    GraphOps.clearAllMemos(spark)
  }

  test("half-integral weights: GraphOps.louvain takes the GraphX engine") {
    val e = edges(PlantedPartition(1000, 5000, halfIntegral = true))
    val t = new Tracer(spark)
    t.span("graphops.louvain")(GraphOps.louvain(spark, e).collect())
    t.span("louvain.run")(Louvain.run(GraphBuilder.toGraphX(e))._1.count())
    val spans = t.spans()
    assert(stages(spans, "louvain.run") > 100)
    assert(stages(spans, "graphops.louvain") > 100)
    assert(spans.find(_.name == "louvain.run").get.counters("tasks") > 100)
    GraphOps.clearAllMemos(spark)
  }
}
