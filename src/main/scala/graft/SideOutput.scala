package graft

import java.io.File
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardOpenOption}
import scala.util.hashing.MurmurHash3

/** Write-once on-disk fixtures derived from a source file: the
  * file-format round-trips, persisted indexes, bucketed and versioned
  * tables, skip layouts and stream landings that queries build once
  * per version of their source table and then read. Every such
  * fixture in the library goes through this object.
  *
  * Layout: `<java.io.tmpdir>/graft_<kind>/<source id>/<generation>`.
  * The source id is the source path with every non-alphanumeric
  * character replaced by `_`, plus a hash of the raw path, so
  * `/x/a.b` and `/x/a_b` never share a directory. The generation is
  * the source's mtime and length, read from one Hadoop `FileStatus`
  * (the read [[Memo.fileKey]] makes), so a table regenerated in place
  * gets a new generation.
  *
  * Contract of [[apply]]:
  *  - A generation directory holding the marker file
  *    `_graft_complete` is a hit: nothing is built.
  *  - Otherwise any partial directory is deleted, `build` writes into
  *    the (empty) directory, and then the marker is written. Builders
  *    write in place, never into a stage renamed later: bucketed-table
  *    manifests and skip-index stats store absolute file paths.
  *  - A `build` that throws leaves no marker, so the next call
  *    deletes its partial output and rebuilds.
  *  - After a successful build every other generation of the same
  *    (kind, source id) is deleted.
  *  - The hit test, the build and the stale-generation delete run
  *    under one lock per (kind, source id): a JVM monitor plus a
  *    `FileChannel.lock` on the family's `.lock` file, so two threads
  *    or two JVMs never build one fixture at once; the second waits
  *    and then finds the first one's marker.
  * The marker starts with `_`, so Spark's file listing skips it. The
  * marker test and deletes are driver-local java.io, which holds for
  * local-mode runs; a cluster deployment would point java.io.tmpdir
  * at a filesystem the executors share.
  *
  * Each family records its raw source path in `_source`, and
  * [[dropOrphans]] deletes the families whose source is gone. A family
  * without `_source`, written before the file was recorded, is never
  * dropped; delete such a directory by hand. */
object SideOutput {

  private[graft] val Marker = "_graft_complete"
  private val LockFile = ".lock"
  private val SourceFile = "_source"
  private val RunPrefix = "run_"

  private def root: File = new File(System.getProperty("java.io.tmpdir"))

  private def family(kind: String, source: String): File = {
    val id = source.replaceAll("[^A-Za-z0-9]", "_") + "_" +
      f"${MurmurHash3.stringHash(source)}%08x"
    new File(root, s"graft_$kind/$id")
  }

  private val monitors = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]

  /** Runs `body` holding the family's JVM monitor and its file lock,
    * after creating the family and recording `source` in it.
    * `FileChannel.lock` throws when this JVM already holds the lock,
    * so the monitor serializes this JVM's threads first. */
  private def locked[T](fam: File, source: String)(body: => T): T =
    monitors.computeIfAbsent(fam.getPath, _ => new Object).synchronized {
      Files.createDirectories(fam.toPath)
      val ch = FileChannel.open(new File(fam, LockFile).toPath,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        ch.lock()
        val src = new File(fam, SourceFile)
        if (!src.isFile) Files.write(src.toPath, source.getBytes(StandardCharsets.UTF_8))
        body
      } finally ch.close()
    }

  /** The complete generation directory of `kind` for the current
    * version of `source`, built by `build` on a miss. */
  def apply(kind: String, source: String)(build: String => Unit): String = {
    val fam = family(kind, source)
    val (mtime, len) = Memo.fileStatus(source)
    val gen = new File(fam, s"${mtime}_$len")
    locked(fam, source) {
      if (!new File(gen, Marker).isFile) {
        delete(gen)
        Files.createDirectories(gen.toPath)
        build(gen.getPath)
        Files.createFile(new File(gen, Marker).toPath)
        fam.listFiles().filter(f => f != gen && f.getName != LockFile && f.getName != SourceFile)
          .foreach(delete)
      }
    }
    gen.getPath
  }

  /** An empty directory of `kind` for `source` and this process
    * (`run_<pid>`), emptied on every call: stream sinks whose state
    * restarts with each run. The directories of processes no longer
    * alive are deleted. */
  def scratch(kind: String, source: String): String = {
    val fam = family(kind, source)
    val pid = ProcessHandle.current().pid()
    val dir = new File(fam, s"$RunPrefix$pid")
    locked(fam, source) {
      fam.listFiles().filter(_.getName.startsWith(RunPrefix)).foreach { f =>
        val other = f.getName.drop(RunPrefix.length).toLongOption
        if (other.forall(p => p == pid || !ProcessHandle.of(p).isPresent)) delete(f)
      }
      Files.createDirectories(dir.toPath)
    }
    dir.getPath
  }

  /** Deletes every family under java.io.tmpdir whose recorded source no
    * longer exists, under the family's lock. Families without
    * `_source` are left alone. */
  def dropOrphans(): Unit =
    for {
      kind <- Option(root.listFiles()).toSeq.flatten if kind.getName.startsWith("graft_")
      fam <- Option(kind.listFiles()).toSeq.flatten
      srcFile = new File(fam, SourceFile) if srcFile.isFile
    } {
      val source = new String(Files.readAllBytes(srcFile.toPath), StandardCharsets.UTF_8)
      val path = new org.apache.hadoop.fs.Path(source)
      if (!path.getFileSystem(Memo.localConf).exists(path)) locked(fam, source)(delete(fam))
    }

  /** Delete `f` and, for a directory, everything under it. Symbolic
    * links are removed, never followed. */
  private[graft] def delete(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }
}
