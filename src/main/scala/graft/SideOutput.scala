package graft

import java.io.File
import java.nio.file.Files
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
  *  - No cross-thread lock: no caller builds one fixture from two
  *    threads at once. Bench, Verify and the specs that touch
  *    fixtures run one query at a time. Nor is there a cross-process
  *    lock: two JVMs building one fixture at once corrupt it.
  * The marker starts with `_`, so Spark's file listing skips it. The
  * marker test and deletes are driver-local java.io, which holds for
  * local-mode runs; a cluster deployment would point java.io.tmpdir
  * at a filesystem the executors share. */
object SideOutput {

  private[graft] val Marker = "_graft_complete"

  private def family(kind: String, source: String): File = {
    val id = source.replaceAll("[^A-Za-z0-9]", "_") + "_" +
      f"${MurmurHash3.stringHash(source)}%08x"
    new File(System.getProperty("java.io.tmpdir"), s"graft_$kind/$id")
  }

  /** The complete generation directory of `kind` for the current
    * version of `source`, built by `build` on a miss. */
  def apply(kind: String, source: String)(build: String => Unit): String = {
    val fam = family(kind, source)
    val (mtime, len) = Memo.fileStatus(source)
    val gen = new File(fam, s"${mtime}_$len")
    if (!new File(gen, Marker).isFile) {
      delete(gen)
      Files.createDirectories(gen.toPath)
      build(gen.getPath)
      Files.createFile(new File(gen, Marker).toPath)
      fam.listFiles().filter(_ != gen).foreach(delete)
    }
    gen.getPath
  }

  /** An empty per-run directory of `kind` for `source`, emptied on
    * every call: stream sinks whose state restarts with each run. */
  def scratch(kind: String, source: String): String = {
    val dir = family(kind, source)
    delete(dir)
    Files.createDirectories(dir.toPath)
    dir.getPath
  }

  /** Delete `f` and, for a directory, everything under it. Symbolic
    * links are removed, never followed. */
  private[graft] def delete(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }
}
