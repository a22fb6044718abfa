package graft

import java.util.concurrent.CopyOnWriteArrayList
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.graph.Dispatch

/** A persist-once memo: an expensive artifact (a checkpointed edge
  * list, a signature table, a Louvain assignment, a fitted quantizer)
  * is built once per session and shared by every later query that
  * asks for it. Every cross-query memo in the library is one of these.
  *
  * Contract:
  *  - Key. An entry's key is (session token, caller key). The token
  *    is assigned once per `SparkSession` object and never reused, so
  *    a `newSession()` sibling neither sees nor changes another
  *    session's entries. Caller keys over files carry [[fileKey]] or
  *    [[dataKey]], so a file regenerated in place is a miss.
  *  - One build per key. A miss installs a lazily forced cell under
  *    the memo's lock and forces it outside the lock: concurrent
  *    callers of one key wait for the single build and all get the
  *    same (`eq`) value, while other keys build in parallel. A build
  *    that throws is removed, so the next call retries it.
  *  - Ownership. An entry owns only its value's own persisted RDD: a
  *    checkpointed DataFrame's backing RDD, an RDD value itself (each
  *    half of a pair is read the same way); a driver value owns
  *    nothing. Anything else its build persisted (a dispatch gate's
  *    checkpoint, a loop's intermediate) is that query's scratch,
  *    which [[sweep]] frees.
  *  - Eviction. A miss when the memo holds more than its bound drops
  *    every entry, of every session, and releases their blocks. A hit
  *    never evicts: clearing at the boundary on a hit would rebuild a
  *    live key and break the one-value-per-key (`eq`) contract.
  *  - Invalidation. Released localCheckpoint blocks cannot be
  *    recomputed, so a DataFrame an earlier call returned fails on its
  *    next action once its entry is evicted, cleared or replaced.
  *    Derive what you need before the memo passes its bound, or call
  *    again (a hit while the entry lives). The sequential Bench and
  *    Verify sweeps never pass a bound.
  *  - Release. Blocks are unpersisted through the context that built
  *    them, and only while it is live; RDD ids are per-context
  *    counters, so nothing is released by id.
  *  - Nesting. A build may call another memo, always in one order
  *    (`refinedKnnGraph` → `knnGraph`, `fitPqCodebooks` →
  *    `fitIvfCentroids`). No build calls back into a memo that calls
  *    it, so waiting on a cell cannot deadlock. */
final class Memo[K, V] private (bound: Int) {
  import Memo.Cell

  private val cells = scala.collection.mutable.HashMap.empty[(Long, K), Cell[V]]

  /** The value for `key` in `spark`'s session, built by `build` on a
    * miss. A value that fails `reuse` is released and rebuilt in
    * place (Dedup's signature table upgrading to carry MinHash). */
  def apply(spark: SparkSession, key: K, reuse: V => Boolean = (_: V) => true)
      (build: => V): V = {
    val k = (Memo.token(spark), key)
    val cell = synchronized {
      cells.getOrElse(k, {
        if (cells.size > bound) drop(_ => true)
        val c = new Cell(() => build)
        cells(k) = c
        c
      })
    }
    val v = try cell.get catch {
      case e: Throwable =>
        synchronized { if (cells.get(k).exists(_ eq cell)) cells -= k }
        throw e
    }
    if (reuse(v)) v
    else {
      synchronized { if (cells.get(k).exists(_ eq cell)) drop(_ == k) }
      apply(spark, key, reuse)(build)
    }
  }

  private def dropSession(t: Long): Unit = drop(_._1 == t)

  private def drop(p: ((Long, K)) => Boolean): Unit = synchronized {
    val gone = cells.keys.filter(p).toList
    gone.foreach(k => cells.remove(k).flatMap(_.done).foreach(Memo.release))
  }

  private def ownedRdds: List[RDD[_]] =
    synchronized(cells.values.flatMap(_.done).toList).flatMap(Memo.owned)
}

object Memo {
  private val all = new CopyOnWriteArrayList[Memo[_, _]]()

  /** A new memo that evicts wholesale on a miss past `bound` entries. */
  def apply[K, V](bound: Int): Memo[K, V] = {
    val m = new Memo[K, V](bound)
    all.add(m)
    m
  }

  private final class Cell[V](private var build: () => V) {
    @volatile private var result: Option[Try[V]] = None

    def get: V = synchronized {
      if (result.isEmpty) {
        result = Some(Try(build()))
        build = null
      }
      result.get.get
    }

    /** The built value, without waiting for a build in flight. */
    def done: Option[V] = result.flatMap(_.toOption)
  }

  private val tokens = new java.util.WeakHashMap[SparkSession, java.lang.Long]()
  private val nextToken = new AtomicLong()

  private def token(spark: SparkSession): Long = tokens.synchronized {
    tokens.computeIfAbsent(spark, _ => nextToken.incrementAndGet())
  }

  private def owned(v: Any): List[RDD[_]] = v match {
    case ds: Dataset[_] => Dispatch.checkpointRdd(ds.toDF()).toList
    case rdd: RDD[_] => List(rdd)
    case (a, b) => owned(a) ++ owned(b)
    case _ => Nil
  }

  private def release(v: Any): Unit =
    owned(v).foreach(r => if (!r.sparkContext.isStopped) r.unpersist(blocking = false))

  /** Release and drop every memo entry of `spark`'s session; other
    * sessions' entries are untouched. */
  def clear(spark: SparkSession): Unit = {
    val t = token(spark)
    all.forEach(_.dropSession(t))
  }

  /** Unpersist every RDD of `spark`'s context that no memo entry
    * owns: the per-query scratch sweep of the Bench and Verify loops.
    * Call it between queries; a build in flight owns nothing yet. */
  def sweep(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val keep = all.asScala.flatMap(_.ownedRdds).filter(_.sparkContext eq sc).map(_.id).toSet
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = false)
    }
  }

  private[graft] lazy val localConf = new Configuration()

  /** (mtime, length) of `path` from its Hadoop `FileStatus`; a missing
    * path reads as (0, 0). Metadata only. */
  private[graft] def fileStatus(path: String, conf: Configuration = localConf): (Long, Long) = {
    val p = new Path(path)
    try {
      val st = p.getFileSystem(conf).getFileStatus(p)
      (st.getModificationTime, st.getLen)
    } catch { case _: java.io.FileNotFoundException => (0L, 0L) }
  }

  /** Identity of the data in `paths`: path, mtime and length of each,
    * sorted by path and joined without mixing, so two versions of a
    * file that differ in length or mtime never share a key. */
  def fileKey(paths: Seq[String], conf: Configuration = localConf): String =
    paths.sorted.map { f =>
      val (mtime, len) = fileStatus(f, conf)
      s"$f:$mtime:$len"
    }.mkString("|")

  /** [[fileKey]] of every file a DataFrame reads. Plans over non-file
    * data (local relations) embed their rows in the semantic hash, so
    * the empty key is safe there. */
  def dataKey(df: DataFrame): String =
    fileKey(df.inputFiles.toSeq, df.sparkSession.sparkContext.hadoopConfiguration)
}
