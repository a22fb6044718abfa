package graft

import java.util.concurrent.{CyclicBarrier, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{Dispatch, GraphBuilder, GraphOps, SparkTestSession}
import graft.operators.Dedup

/** The [[Memo]] contract: one build per key under contention,
  * ownership read from the artifact, per-session entries, miss-only
  * eviction, no caching of a failed build, the in-place upgrade path,
  * collision-free file identity, and a source guard that keeps every
  * memo on the primitive. */
class MemoSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"

  private def persisted(df: DataFrame): Boolean = Dispatch.checkpointRdd(df).isDefined

  test("threads released onto one key run the build once and share its value") {
    val m = Memo[String, AnyRef](4)
    val n = 8
    val builds = new AtomicInteger()
    val barrier = new CyclicBarrier(n)
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val got = Await.result(Future.sequence((1 to n).map { _ =>
        Future {
          barrier.await()
          m(spark, "k") {
            builds.incrementAndGet()
            Thread.sleep(200)
            new Object
          }
        }
      }), 60.seconds)
      assert(builds.get == 1, s"${builds.get} builds for one key")
      assert(got.forall(_ eq got.head))
    } finally pool.shutdown()
  }

  test("an RDD another thread persists during a build is not owned by the entry") {
    val s = spark.newSession()
    val m = Memo[String, DataFrame](4)
    val building = new CountDownLatch(1)
    val persistedMeanwhile = new CountDownLatch(1)
    val pool = Executors.newSingleThreadExecutor()
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val other = Future {
        building.await()
        val r = s.sparkContext.parallelize(1 to 100).cache()
        r.count()
        persistedMeanwhile.countDown()
        r
      }
      val artifact = m(s, "k") {
        building.countDown()
        persistedMeanwhile.await(60, TimeUnit.SECONDS)
        s.range(10).toDF("id").localCheckpoint(true)
      }
      val r = Await.result(other, 60.seconds)
      val artifactId = Dispatch.checkpointRdd(artifact).get.id
      GraphOps.clearAllMemos(s)
      val live = s.sparkContext.getPersistentRDDs
      assert(live.contains(r.id), "a concurrent query's RDD was released with the entry")
      assert(r.collect().sum == 5050)
      assert(!live.contains(artifactId), "the entry's own checkpoint was not released")
      r.unpersist(blocking = false)
    } finally pool.shutdown()
  }

  test("sibling sessions keep separate entries; clearing one leaves the other collectable") {
    val a = spark.newSession()
    val b = spark.newSession()
    val ea = GraphBuilder.supplierCoEdges(a, sf)
    val eb = GraphBuilder.supplierCoEdges(b, sf)
    assert(!(ea eq eb))
    GraphOps.clearAllMemos(a)
    assert(!persisted(ea), "clearing a session must release its own entry")
    assert(eb.count() > 0L)
    assert(GraphBuilder.supplierCoEdges(b, sf) eq eb)
    GraphOps.clearAllMemos(b)
  }

  test("eviction is miss-only: a hit at the bound keeps its value") {
    val m = Memo[Int, AnyRef](2)
    val builds = new AtomicInteger()
    def get(k: Int) = m(spark, k) { builds.incrementAndGet(); new Object }
    val v = (0 to 2).map(get)
    assert(builds.get == 3)
    // Three entries are past the bound of 2; hits still evict nothing.
    assert(get(2) eq v(2))
    assert(get(0) eq v(0))
    assert(builds.get == 3)
    // A miss past the bound drops every entry.
    get(3)
    assert(!(get(0) eq v(0)))
    assert(builds.get == 5)
  }

  test("a build that throws is not cached and the next call retries it") {
    val m = Memo[String, String](4)
    val builds = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      m(spark, "k") { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert(m(spark, "k") { builds.incrementAndGet(); "ok" } == "ok")
    assert(builds.get == 2)
    assert(m(spark, "k") { builds.incrementAndGet(); "again" } == "ok")
  }

  test("Dedup's signature table upgrades in place for a MinHash caller") {
    val s = spark.newSession()
    val plain = Dedup.signatureBase(s, sf, includeMinhash = false)
    assert(!plain.columns.contains("sig"))
    val upgraded = Dedup.signatureBase(s, sf, includeMinhash = true)
    assert(upgraded.columns.contains("sig"))
    assert(!persisted(plain), "the replaced table's blocks must be released")
    assert(Dedup.signatureBase(s, sf, includeMinhash = false) eq upgraded)
    assert(Dedup.signatureBase(s, sf, includeMinhash = true) eq upgraded)
    GraphOps.clearAllMemos(s)
  }

  test("fileKey separates a regenerated file that the XOR key conflated") {
    val dir = java.nio.file.Files.createTempDirectory("graft_filekey")
    val f = dir.resolve("orders.parquet").toFile
    val m = 1700000000000L
    def regenerate(bytes: Int, mtime: Long): (String, String, Long) = {
      java.nio.file.Files.write(f.toPath, new Array[Byte](bytes))
      assert(f.setLastModified(mtime))
      (Memo.fileKey(Seq(f.getPath)),
        new java.io.File(SideOutput("filekey", f.getPath)(_ => ())).getName,
        f.length() ^ f.lastModified())
    }
    val (k1, t1, x1) = regenerate(1024, m)
    val (k2, t2, x2) = regenerate(1032, m + 8)
    assert(x1 == x2, "the pair no longer collides under XOR; the test lost its point")
    assert(k1 != k2)
    assert(t1 != t2)
    assert(t1.matches("[A-Za-z0-9_]+"))
  }

  test("source guard: every session memo goes through graft.Memo") {
    val sources = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try walk.iterator().forEachRemaining { f =>
      if (f.toString.endsWith(".scala") && f.getFileName.toString != "Memo.scala")
        sources += f.toString -> new String(java.nio.file.Files.readAllBytes(f),
          java.nio.charset.StandardCharsets.UTF_8)
    } finally walk.close()
    assert(sources.nonEmpty)
    val banned = Seq(
      "identity-hash session key" -> """System\.identityHashCode\(""".r,
      "persistent-RDD diff window" -> """getPersistentRDDs\.keySet""".r,
      "retainedRddIds definition" -> """def\s+retainedRddIds""".r,
      "XOR file key" -> """length\(\)\s*\^|\^\s*\w+\.lastModified""".r)
    val hits = for {
      (path, src) <- sources.toSeq
      (what, re) <- banned
      if re.findFirstIn(src).isDefined
    } yield s"$what in $path"
    assert(hits.isEmpty, hits.mkString("; "))
    // The two stream fold carries are per-sink state, not memos.
    val carry = """val (ccFoldCarry|louvainFoldCarry) = scala\.collection\.concurrent\.TrieMap""".r
    val strayTrieMaps = for {
      (path, src) <- sources.toSeq
      line <- src.linesIterator
      if line.contains("TrieMap") && carry.findFirstIn(line).isEmpty
    } yield s"$path: ${line.trim}"
    assert(strayTrieMaps.isEmpty, strayTrieMaps.mkString("; "))
  }
}
