package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.SparkEntry
import graft.graph.{GraphBuilder, GraphOps, LocalLouvain, Louvain}

/** Louvain benchmark: one JVM, `local[nproc]`, closed loop with one
  * client (each job starts after the previous one returns).
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * A job is what a user runs: read the edge parquet, canonicalise it
  * (GraphBuilder.canonicalEdges) and call GraphOps.louvain, which
  * picks the driver twin or the GraphX engine from the input itself.
  * Checks run after each job, outside its timing. The last stdout
  * line is one JSON object: end-to-end metrics with `--trace 0`,
  * per-layer metrics with `--trace 1`. Exit code 1 when any job or
  * check failed. */
object Main {

  /** `twin` is the branch GraphOps.louvain should take by itself:
    * integral weights under LocalLouvain.CollectMax go to the driver
    * twin, fractional (similarity-like) weights to Louvain.run.
    * `warmup` is the graph of the untimed warm-up jobs, at least
    * `warmupJobs` of them, and `graphQueries` adds the graph-query
    * pass to the traced run. */
  final case class Workload(name: String, graph: PlantedPartition, warmup: PlantedPartition,
      warmupJobs: Int, twin: Boolean, graphQueries: Boolean)

  // Sizes fit the run budget on a 4-core host. At 16k vertices the
  // first Louvain.run levels hit their round caps, so its stage count
  // takes one of two values (484 or 512) whatever the seed; at 8k it
  // spread from 421 to 519. A cold GraphX job pays its JIT cost per
  // stage, not per edge, so the GraphX warm-up runs on a small graph.
  private val driverGraph = PlantedPartition(8000, 40000)
  val Workloads: Seq[Workload] = Seq(
    Workload("louvain_driver", driverGraph, driverGraph, warmupJobs = 6, twin = true,
      graphQueries = true),
    Workload("louvain_graphx", PlantedPartition(16000, 80000, halfIntegral = true),
      PlantedPartition(1000, 5000, halfIntegral = true), warmupJobs = 1, twin = false,
      graphQueries = false))

  /** Graph queries of the traced pass (SparkEntry names), all built
    * on one supplier co-occurrence graph. */
  val SuiteQueries: Seq[String] = Seq("g_edges", "g_degree", "g_triangles", "g_cc",
    "g_pagerank", "g_lpa", "g_modularity_of", "g_louvain", "g_modularity", "g_leiden")

  val Suite = SupplierOrders(suppliers = 600, orders = 12000)

  /** Repetitions of input generation + load inside set-up. */
  val LoadReps = 2

  /** Least time spent on warm-up jobs inside set-up. */
  val WarmupS = 8.0

  final case class Opts(workload: Workload, seed: Long, seconds: Double,
      trace: Boolean, work: String)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val opts = Try(Opts(
      Workloads.find(_.name == kv("--workload")).get,
      kv("--seed").toLong, kv("--seconds").toDouble,
      kv("--trace") == "1", kv("--work"))).getOrElse {
      System.err.println("usage: --workload <" + Workloads.map(_.name).mkString("|") +
        "> --seed <n> --seconds <s> --trace <0|1> --work <dir>")
      sys.exit(2)
    }
    sys.exit(new Run(opts).execute())
  }
}

/** An input on disk plus the benchmark's own oracle for it. */
final case class Input(dir: String, exact: ExactGraph)

/** One timed job's outcome. */
final case class JobStat(wallS: Double, cpuS: Double, heapPeakMb: Double,
    qE6: Long, qDropE6: Long)

final class Run(o: Main.Opts) {
  import Main._

  private val w = o.workload
  private val cores = Tracer.Cores
  private var attempted = 0
  private var failed = 0
  private var lastAssign = Array.empty[(Long, Long)]
  private var lastLevels = Seq.empty[(Int, Long, Long, Long)]

  private def say(s: String): Unit = println(s"[perfbench] $s")

  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def execute(): Int = {
    val jvmUpS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val (spark, sessionS) = seconds(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    try new Session(spark, jvmUpS + sessionS).execute()
    finally spark.stop()
  }

  private final class Session(spark: SparkSession, sessionS: Double) {
    private val sc = spark.sparkContext

    private def readEdges(dir: String): DataFrame =
      GraphBuilder.canonicalEdges(spark.read.parquet(dir), "src", "dst", "weight")

    /** Drop every memo and cached block so each job starts cold-memo,
      * as the first call on a fresh graph would. */
    private def resetState(): Unit = {
      GraphOps.clearAllMemos(spark)
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    /** Generate, write as parquet, read back and canonicalise. */
    private def load(g: PlantedPartition, name: String): Input = {
      val raw = g.edges(o.seed)
      val dir = s"${o.work}/$name"
      spark.createDataFrame(raw.toSeq).toDF("src", "dst", "weight")
        .write.mode("overwrite").parquet(dir)
      readEdges(dir).count()
      Input(dir, new ExactGraph(raw))
    }

    private def louvainJob(dir: String): (DataFrame, Array[(Long, Long)]) = {
      val edges = readEdges(dir)
      val rows = GraphOps.louvain(spark, edges).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      (edges, rows)
    }

    private def trail(levels: Seq[(Int, Long, Long, Long)]): String =
      "level trail (level, q_e6, communities, vertices): " + levels.mkString(" ")

    private def fail(what: String): Boolean = { say(s"CHECK FAILED: $what"); false }

    /** Output checks of one job: every vertex exactly once, and the
      * benchmark's exact Q equal to the engine's final-level Q. */
    private def checkJob(exact: ExactGraph, edges: DataFrame, assign: Array[(Long, Long)])
        : (Boolean, Long, Long, Seq[(Int, Long, Long, Long)]) = {
      val levels = GraphOps.louvainLevels(spark, edges).collect().toSeq
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val label = assign.toMap
      val covered = (assign.length == label.size && label.keySet == exact.vertices) ||
        fail(s"assignment covers ${label.size} of ${exact.vertices.size} vertices " +
          s"(${assign.length} rows)")
      val q = exact.qE6(label)
      val finalQ = levels.last._2
      val agrees = math.abs(q - finalQ) <= 1 ||
        fail(s"rescored Q $q != final-level Q $finalQ")
      (covered && agrees, q, levels.map(_._2).max - finalQ, levels)
    }

    /** Closed loop: jobs back to back, at least `minJobs`, until less
      * than half a job (with its checks) is left before `secs` have
      * passed. The jobs then span `secs` to the nearest whole job, and
      * a job longer than `secs` runs once. */
    private def jobsFor(in: Input, secs: Double, tracer: Option[Tracer],
        minJobs: Int = 1): Seq[JobStat] = {
      val deadline = System.nanoTime() + (secs * 1e9).toLong
      val jobs = mutable.ArrayBuffer.empty[JobStat]
      var runs = 0
      var more = true
      while (more) {
        val t0 = System.nanoTime()
        timedJob(in, tracer).foreach(jobs += _)
        runs += 1
        val t1 = System.nanoTime()
        more = runs < minJobs || deadline - t1 > (t1 - t0) / 2
      }
      jobs.toSeq
    }

    /** modularityOf's Q of the last job's assignment, on doubled
      * weights (exact under its long cast), checked against the
      * benchmark's exact Q of the same job. */
    private def rescore(in: Input, last: JobStat): Long = {
      val e2 = readEdges(in.dir).select(col("src"), col("dst"), (col("weight") * 2).as("weight"))
      val lab = spark.createDataFrame(lastAssign.toSeq).toDF("vertex", "label")
      val r = GraphOps.modularityOf(e2, lab).collect().head.getLong(2)
      if (math.abs(r - last.qE6) > 1) {
        fail(s"modularityOf Q $r != exact Q ${last.qE6}"); failed += 1
      }
      r
    }

    private def timedJob(in: Input, tracer: Option[Tracer]): Option[JobStat] = {
      resetState()
      // Start every job from a collected heap, so neither its time nor
      // its post-GC peak carries the previous job's garbage.
      System.gc()
      attempted += 1
      HeapWatch.reset()
      val cpu0 = processCpuNs()
      val t0 = System.nanoTime()
      val res = Try(tracer.fold(louvainJob(in.dir))(_.span("graphops.louvain")(louvainJob(in.dir))))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (processCpuNs() - cpu0) / 1e9
      val heap = HeapWatch.peakMb()
      res.flatMap { case (edges, assign) => Try(checkJob(in.exact, edges, assign)) } match {
        case Success((ok, q, drop, levels)) =>
          if (!ok) failed += 1
          lastAssign = res.get._2
          lastLevels = levels
          Some(JobStat(wall, cpu, heap, q, drop))
        case Failure(e) =>
          failed += 1
          say(s"JOB FAILED: $e")
          None
      }
    }

    def execute(): Int = {
      HeapWatch.install()
      val loads = (1 to LoadReps).map(k => seconds(load(w.graph, s"edges-$k")))
      val in = loads.last._1
      val loadS = median(loads.map(_._2))
      // Untimed warm-up jobs, billed to set-up and checked: the first
      // jobs in a JVM pay class loading and JIT. They repeat until
      // WarmupS has passed and the workload's warmupJobs have run,
      // since the driver twin's arithmetic needs about six jobs to
      // reach steady speed however fast the host runs them.
      val (_, warmS) = seconds {
        val wi = if (w.warmup == w.graph) in else load(w.warmup, "warmup")
        jobsFor(wi, WarmupS, None, w.warmupJobs)
        say("warm-up " + trail(lastLevels))
      }
      val setupS = sessionS + loadS + warmS
      say(f"set-up: session $sessionS%.3f s, load median $loadS%.3f s " +
        f"(${loads.map(_._2).map(x => f"$x%.3f").mkString(", ")}), warm-up $warmS%.3f s")

      val plantedE6 = in.exact.qE6(w.graph.labels(o.seed).toMap)
      val metrics =
        if (o.trace) traced(in, plantedE6)
        else untraced(in, setupS, plantedE6)
      val correct = failed == 0 && metrics.nonEmpty
      say(s"failed_frac = ${if (attempted == 0) 0.0 else failed.toDouble / attempted} " +
        s"($failed of $attempted jobs)")
      println(Json.result(correct, attempted, failed, metrics))
      if (correct) 0 else 1
    }

    private def untraced(in: Input, setupS: Double, plantedE6: Long)
        : Seq[(String, Double, String)] = {
      val jobs = jobsFor(in, o.seconds, None)
      if (jobs.isEmpty) return Nil
      val rescored = rescore(in, jobs.last)
      val out = Seq(
        ("setup_s", setupS, "s"),
        ("job_s", median(jobs.map(_.wallS)), "s"),
        ("cpu_s", median(jobs.map(_.cpuS)), "s"),
        ("heap_peak_mb", median(jobs.map(_.heapPeakMb)), "MB"),
        ("modularity_e6", rescored.toDouble, "e6"))
      out.foreach { case (n, v, u) => say(s"$n = $v $u") }
      say(s"job_s samples = ${jobs.size}: " + jobs.map(j => f"${j.wallS}%.3f").mkString(" "))
      say(s"planted partition Q (reference for modularity_e6) = $plantedE6 e6")
      say("last job " + trail(lastLevels))
      out
    }

    private def traced(in: Input, plantedE6: Long): Seq[(String, Double, String)] = {
      val tracer = new Tracer(spark)
      val jobs = jobsFor(in, o.seconds, Some(tracer))
      val trail = decompose(in, tracer)
      if (w.graphQueries) {
        attempted += 1
        val ok = Try(suitePass(tracer)) match {
          case Success(ok) => ok
          case Failure(e) => fail(s"graph query pass: $e")
        }
        if (!ok) failed += 1
      }
      val spans = tracer.spans()
      Trace.write(s"${o.work}/trace.json", w.name, o.seed, spans, trail)
      val extra = Map(
        "graphops.louvain.q_drop_e6" -> median(jobs.map(_.qDropE6.toDouble)),
        "input.planted_q_e6" -> plantedE6.toDouble)
      val out = PerLayer.values(spans, extra)
      if (!branchCheck(out.map(m => m._1 -> m._2).toMap)) failed += 1
      say(s"traced job_s samples = ${jobs.size}: " + jobs.map(j => f"${j.wallS}%.3f").mkString(" "))
      out.foreach { case (n, v, u) => say(s"$n = $v $u") }
      out
    }

    /** Calls the layers behind the dispatcher one by one, on the branch
      * the input's own properties select (the gate's rule: integral
      * weights within LocalLouvain.CollectMax edges). Returns the
      * engine's level trail. */
    private def decompose(in: Input, tracer: Tracer): Seq[(Int, Double, Long, Long)] = {
      resetState()
      val edges = tracer.span("sources.read_edges") {
        val e = readEdges(in.dir); e.count(); e
      }
      if (in.exact.integral && in.exact.edges.length <= LocalLouvain.CollectMax) {
        val rows = tracer.span("spark.collect_edges") {
          edges.select(col("src").cast("long"), col("dst").cast("long"),
            col("weight").cast("double")).collect()
            .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2))))
        }
        tracer.span("locallouvain.cluster_with_levels") {
          LocalLouvain.clusterWithLevels(rows.toSeq)
        }._2
      } else {
        val g = tracer.span("graphbuilder.to_graphx") {
          val g = GraphBuilder.toGraphX(edges).cache()
          g.edges.count(); g.vertices.count(); g
        }
        val levels = tracer.span("louvain.run") {
          val (a, lv) = Louvain.run(g); a.count(); lv
        }
        g.unpersist(blocking = false)
        levels.map(l => (l.level, l.modularity, l.nCommunities, l.nVertices))
      }
    }

    /** One pass over the graph queries on a seeded order table, memos
      * cleared first, with outputs checked against the benchmark's
      * own computation of the co-occurrence graph. */
    private def suitePass(tracer: Tracer): Boolean = {
      val d = s"${o.work}/suite"
      val rows = Suite.rows(o.seed)
      spark.createDataFrame(rows.toSeq).toDF("l_orderkey", "l_suppkey")
        .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
      resetState()
      tracer.span("graphbuilder.supplier_coedges") {
        GraphBuilder.supplierCoEdges(spark, d).count()
      }
      val out = SuiteQueries.map { q =>
        q -> tracer.span(s"query.$q")(SparkEntry.queries(q)(spark, d).collect())
      }.toMap
      val expected = SupplierOrders.coEdges(rows)
      val edgesOk = out("g_edges").map(r =>
        (r.getLong(0), r.getLong(1)) -> math.round(r.getDouble(2))).toMap == expected ||
        fail("g_edges differs from the expected co-occurrence edges")
      val deg = mutable.LongMap.empty[Long].withDefaultValue(0L)
      expected.keys.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
      val degOk = out("g_degree").map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        deg.toMap || fail("g_degree differs from the expected degrees")
      val graph = new ExactGraph(expected.map { case ((a, b), w) => (a, b, w.toDouble) })
      val label = out("g_louvain").map(r => r.getLong(0) -> r.getLong(1)).toMap
      val coverOk = (out("g_louvain").length == label.size && label.keySet == graph.vertices) ||
        fail("g_louvain does not cover every vertex exactly once")
      val q = if (coverOk) graph.qE6(label) else Long.MinValue
      val finalQ = out("g_modularity").last.getLong(1)
      val qOk = math.abs(q - finalQ) <= 1 ||
        fail(s"g_louvain Q $q != g_modularity final level $finalQ")
      say(s"graph query pass: ${expected.size} co-occurrence edges, g_louvain Q = $q e6")
      edgesOk && degOk && coverOk && qOk
    }

    /** The dispatcher took the branch the input selects: the twin
      * launches no Spark stage, the GraphX engine launches at least one
      * per move round. */
    private def branchCheck(m: Map[String, Double]): Boolean = {
      val ok =
        if (w.twin) m("locallouvain.cluster_with_levels.stages") == 0 &&
          m("louvain.run.stages") == 0 && m("graphops.louvain.stages") < 20
        else m("louvain.run.stages") > 200 && m("spark.collect_edges.stages") == 0 &&
          m("graphops.louvain.stages") > 200
      ok || fail(s"branch: ${w.name} expected the " +
        (if (w.twin) "driver twin" else "GraphX engine") + " " +
        m.filter(_._1.endsWith(".stages")).toSeq.sorted.mkString(", "))
    }
  }
}
