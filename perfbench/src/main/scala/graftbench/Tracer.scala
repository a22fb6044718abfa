package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed span: one call into a layer, with its counters. */
final case class Span(name: String, startMs: Long, endMs: Long,
    counters: Map[String, Double])

/** Per-span collector. Spans are flat and sequential on the calling
  * thread. Jobs launched inside a span carry its id as a local
  * property, so the [[SparkListener]] attributes every stage and task
  * to the span that launched it even though listener events arrive
  * late, on the bus thread. Plan-phase time from the
  * [[QueryExecutionListener]] has no such tag and is attributed by
  * the phase's start time falling inside the span's wall interval.
  * GC time and the calling thread's CPU come from JMX.
  *
  * The listeners are registered on construction. Spans stay in
  * memory; [[spans]] flushes the bus and resolves the counters when
  * the run ends. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val nextId = new java.util.concurrent.atomic.AtomicInteger
  private val stageSpan = new ConcurrentHashMap[Int, Integer]
  private val jobSpan = new ConcurrentHashMap[Int, Integer]
  private val bySpan = new ConcurrentHashMap[Integer, Array[Double]]
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]
  @volatile private var flushSeen = -1
  private val closed = mutable.ArrayBuffer.empty[(Int, String, Long, Long, Map[String, Double])]

  // Listener events arrive on the single bus thread; counters are
  // read only after flush(), so plain array updates suffice.
  private def add(span: Integer, slot: Int, v: Double): Unit =
    bySpan.computeIfAbsent(span, _ => new Array[Double](NSlots))(slot) += v

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      tag.foreach { t =>
        val id = Integer.valueOf(t.toInt)
        jobSpan.put(e.jobId, id)
        e.stageIds.foreach(s => stageSpan.put(s, id))
        if (id >= 0) add(id, Jobs, 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach { id =>
        if (id < 0) flushSeen = -id
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { id =>
        if (id >= 0) add(id, Stages, 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val m = e.taskMetrics
        if (id >= 0 && m != null) {
          val info = e.taskInfo
          add(id, Tasks, 1)
          add(id, ExecCpuNs, m.executorCpuTime.toDouble)
          add(id, ExecRunMs, m.executorRunTime.toDouble)
          add(id, SchedDelayMs, math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime).toDouble)
          add(id, ShuffleWriteBytes, m.shuffleWriteMetrics.bytesWritten.toDouble)
          add(id, SpillBytes, (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          add(id, ResultBytes, m.resultSize.toDouble)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty)
        plans.add((ph.map(_.startTimeMs).min,
          ph.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Run `f` as span `name`. */
  def span[T](name: String)(f: => T): T = {
    val id = nextId.getAndIncrement()
    val thread = ManagementFactory.getThreadMXBean
    val gc0 = gcMs()
    val cpu0 = thread.getCurrentThreadCpuTime
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    sc.setLocalProperty(SpanKey, id.toString)
    val out = try f finally sc.setLocalProperty(SpanKey, null)
    val wallMs = (System.nanoTime() - t0) / 1e6
    val own = Map(
      "wall_ms" -> wallMs,
      "driver_cpu_ms" -> (thread.getCurrentThreadCpuTime - cpu0) / 1e6,
      "gc_ms" -> (gcMs() - gc0).toDouble)
    closed += ((id, name, w0, System.currentTimeMillis(), own))
    out
  }

  /** Block until the listener bus has delivered every event posted so
    * far: a marker job's end event queues behind all earlier ones. */
  private def flush(): Unit = {
    val n = nextId.getAndIncrement() + 1
    sc.setLocalProperty(SpanKey, (-n).toString)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(SpanKey, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (flushSeen < n && System.nanoTime() < deadline) Thread.sleep(5)
    if (flushSeen < n) throw new IllegalStateException("listener bus did not drain")
  }

  /** Every closed span with listener counters resolved. */
  def spans(): Seq[Span] = {
    flush()
    val planEvents = plans.asScala.toSeq
    closed.toSeq.map { case (id, name, s, e, own) =>
      val c = Option(bySpan.get(Integer.valueOf(id))).getOrElse(new Array[Double](NSlots))
      val execCpuMs = c(ExecCpuNs) / 1e6
      val wall = own("wall_ms")
      val counters = own ++ Map(
        "exec_cpu_ms" -> execCpuMs,
        "stages" -> c(Stages),
        "jobs" -> c(Jobs),
        "tasks" -> c(Tasks),
        "exec_run_ms" -> c(ExecRunMs),
        "sched_delay_ms" -> c(SchedDelayMs),
        "shuffle_write_bytes" -> c(ShuffleWriteBytes),
        "spill_bytes" -> c(SpillBytes),
        "result_bytes" -> c(ResultBytes),
        "sql_plan_ms" -> planEvents.collect {
          case (t, ms) if t >= s && t <= e => ms
        }.sum,
        "cpu_util" -> (if (wall <= 0) 0.0 else
          (own("driver_cpu_ms") + execCpuMs) / (wall * Cores)))
      Span(name, s, e, counters)
    }
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  val Cores: Int = Runtime.getRuntime.availableProcessors()
  // Listener counter slots per span.
  private val NSlots = 9
  private val Jobs = 0
  private val Stages = 1
  private val Tasks = 2
  private val ExecCpuNs = 3
  private val ExecRunMs = 4
  private val SchedDelayMs = 5
  private val ShuffleWriteBytes = 6
  private val SpillBytes = 7
  private val ResultBytes = 8

  /** Total collection time of every JVM collector, ms. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}
