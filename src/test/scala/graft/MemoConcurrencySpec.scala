package graft

import java.security.MessageDigest
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{GraphBuilder, GraphOps, SparkTestSession}
import graft.operators.{Dedup, Similarity, TextAnalysis}

/** The memo-sharing query families run concurrently against one
  * context must give the results a sequential run gives. Each run uses
  * a fresh sibling session, so every memo builds cold inside the run
  * and concurrent callers of one key race for its cell. */
class MemoConcurrencySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"

  private def coEdges(s: SparkSession) = GraphBuilder.supplierCoEdges(s, sf)

  private val queries: Seq[(String, SparkSession => DataFrame)] = Seq(
    "louvain" -> (s => GraphOps.louvain(s, coEdges(s))),
    "louvainLevels" -> (s => GraphOps.louvainLevels(s, coEdges(s))),
    "randomWalks" -> (s => GraphOps.randomWalks(s, coEdges(s))),
    "walkPmi" -> (s => GraphOps.walkPmi(s, coEdges(s))),
    "minimumSpanningForest" -> (s => GraphOps.minimumSpanningForest(s, coEdges(s))),
    "mstWeight" -> (s => GraphOps.mstWeight(s, coEdges(s))),
    "knnGraph" -> (s => Similarity.knnGraph(s, sf)),
    "refinedKnnGraph" -> (s => Similarity.refinedKnnGraph(s, sf)),
    "hnswTopK" -> (s => Similarity.hnswTopK(s, sf)),
    "bpeMerges" -> (s => TextAnalysis.bpeMerges(s, sf)),
    "bpeVocab" -> (s => TextAnalysis.bpeVocab(s, sf)),
    "dupPairs" -> (s => Dedup.dupPairs(s, sf)))

  /** Order-free digest of a result's rows. */
  private def digest(df: DataFrame): String = {
    val md = MessageDigest.getInstance("MD5")
    df.collect().map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def run(parallel: Boolean): Map[String, String] = {
    val s = spark.newSession()
    try {
      if (!parallel) queries.map { case (n, q) => n -> digest(q(s)) }.toMap
      else {
        val pool = Executors.newFixedThreadPool(4)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        try Await.result(Future.sequence(queries.map { case (n, q) =>
          Future(n -> digest(q(s)))
        }), 10.minutes).toMap
        finally pool.shutdown()
      }
    } finally GraphOps.clearAllMemos(s)
  }

  test("memo-sharing families run concurrently give the sequential results") {
    // Start below every bound so no eviction fires inside a run.
    GraphOps.clearAllMemos(spark)
    val sequential = run(parallel = false)
    (1 to 3).foreach { round =>
      val concurrent = run(parallel = true)
      val differ = queries.map(_._1).filter(n => concurrent(n) != sequential(n))
      assert(differ.isEmpty, s"round $round: results differ for $differ")
    }
  }
}
